"""Pipeline constants.

Each value is fixed: ``run_pipeline`` passes these to the operators, whose
own parameters stay open for tests and entry queries. The similarity and
compile values mirror the reference's fixed values so parity tests line up:
  * similarity floor 0.25        (/root/reference/omop2obo/string_similarity.py:264)
  * similarity top_n 10          (string_similarity.py:332)
  * similarity percentile 75     (string_similarity.py:332)
  * final compile threshold 0.25 (/root/reference/main.py:107,144)
"""

from __future__ import annotations

# entity-linking / similarity constants (reference parity)
SIM_FLOOR = 0.25
SIM_TOP_N = 10
SIM_PERCENTILE = 75.0
COMPILE_THRESHOLD = 0.25
# mention detection: longest dictionary term, in tokens
MAX_TERM_TOKENS = 4
# skew handling: dictionary joins broadcast while the dimension fits
# (no shuffle → no skew); above this row count the join shuffles, and
# the Zipf-skewed fact keys ("pain"-class codes at 10^12 turns) are
# salted across SALT_BUCKETS shuffle partitions (operators/joins.py)
BROADCAST_DIM_MAX_ROWS = 500_000
SALT_BUCKETS = 32

# Predicates used in the emitted (subj, pred, obj) graph.
PRED_EXACT = "omop2obo:hasExactMapping"
PRED_CONSTRUCTOR = "omop2obo:hasConstructorMapping"
PRED_SIMILARITY = "omop2obo:hasSimilarityMapping"
PRED_EVIDENCE = "omop2obo:hasEvidence"
PRED_SEMTYPE = "omop2obo:hasSemanticType"
PRED_CATEGORY = "omop2obo:hasMappingCategory"
PRED_MENTION_OF = "omop2obo:mentionOf"

# Mapping-category tier labels
# (/root/reference/omop2obo/utils/data_utils.py:518-548)
CAT_AUTO_EXACT_CONCEPT = "Automatic Exact - Concept"
CAT_AUTO_CONSTRUCTOR_CONCEPT = "Automatic Constructor - Concept"
CAT_AUTO_EXACT_ANCESTOR = "Automatic Exact - Ancestor"
CAT_AUTO_CONSTRUCTOR_ANCESTOR = "Automatic Constructor - Ancestor"
CAT_MANUAL_EXACT_SIMILARITY = "Manual Exact - Concept Similarity"

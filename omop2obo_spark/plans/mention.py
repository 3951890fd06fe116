"""Mention detection over transcript text — stage 1 of the pipeline.

The reference has no mention detector (its input rows *are* the mentions);
this stage is what adapts its linking semantics to free text. Two mention
kinds:

* **code mentions** — ``prefix:id`` tokens (``snomedct_us:190787008``,
  ``umls:c0000744``);
* **term mentions** — token n-grams (n ≤ max_term_tokens) that equal a
  lower-cased dictionary label or synonym. Longest-match-wins: a matched
  span strictly contained in another matched span of the same turn is
  dropped (so "nausea and vomiting" doesn't also emit "nausea").

:func:`detect_mentions` finds both in one Arrow-batched scan; it is what
the pipeline runs. :func:`detect_code_mentions` and
:func:`detect_term_mentions` state the same semantics as declarative
Spark plans (``regexp_extract_all``; n-gram explode + broadcast join +
per-turn groupBy). Tests use them as the reference for the scan, and
entry queries call :func:`detect_term_mentions`.

Output schema (one row per mention):
    conv_id, turn_idx, mention_id, pos, kind ('code'|'term'), surface
``mention_id = conv_id:turn_idx:kind:pos`` — the stable subject key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2obo_spark.functions.text import WORD_SPLIT_PATTERN, tokens

CODE_PATTERN = r"\b([a-z][a-z0-9_.\-]*:[a-z0-9][a-z0-9.\-]*)"

MENTION_COLS = ["conv_id", "turn_idx", "mention_id", "pos", "kind", "surface"]


def _mention_id(kind: str):
    return F.concat_ws(":", F.col("conv_id"), F.col("turn_idx"), F.lit(kind), F.col("pos"))


def detect_code_mentions(transcripts: DataFrame) -> DataFrame:
    """Extract ``prefix:id`` code tokens with their ordinal position."""
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.posexplode(F.regexp_extract_all(F.lower(F.col("text")), F.lit(CODE_PATTERN), 1)).alias(
                "pos", "surface"
            ),
        )
        .withColumn("kind", F.lit("code"))
        .withColumn("mention_id", _mention_id("code"))
        .select(*MENTION_COLS)
    )


def detect_term_mentions(
    transcripts: DataFrame, term_dim: DataFrame, max_term_tokens: int = 4
) -> DataFrame:
    """Dictionary term mentions via n-gram generation + broadcast join.

    ``term_dim`` must have a single ``surface`` column of distinct
    lower-cased dictionary strings (labels + synonyms).
    """
    toks = tokens(F.col("text"))
    # all n-grams with start position and length, built as one nested
    # transform → flatten (single generate, no UDF)
    grams = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(max_term_tokens)),
            # guard short turns: sequence(0, size-n) with size < n would
            # DESCEND ([0, -1], Spark sequence semantics) and feed slice a
            # 0 start — a single-token turn must simply yield no n>1 spans
            lambda n: F.when(
                F.size(F.col("__toks")) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(F.col("__toks")) - n),
                    lambda i: F.struct(
                        i.alias("pos"),
                        n.alias("len"),
                        F.array_join(F.slice(F.col("__toks"), i + 1, n), " ").alias("surface"),
                    ),
                ),
            ).otherwise(F.array()),
        )
    )
    spans = (
        transcripts.withColumn("__toks", toks)
        .select("conv_id", "turn_idx", F.explode(grams).alias("g"))
        .select("conv_id", "turn_idx", "g.pos", "g.len", "g.surface")
    )
    matched = spans.join(F.broadcast(term_dim.select("surface").distinct()), on="surface", how="leftsemi")

    # longest-match-wins within a turn, via per-turn collect + higher-order
    # filter: a span survives unless another matched span of the same turn
    # strictly contains it. A self-anti-join here would broadcast the whole
    # matched-span set (driver-serial, unbounded with data) and recompute
    # the span-generation DAG twice; this is one small shuffle of matched
    # mentions only, with O(k²) work per turn for tiny k.
    per_turn = matched.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(F.struct("pos", "len", "surface")).alias("ss")
    )
    survives = F.filter(
        F.col("ss"),
        lambda a: ~F.exists(
            F.col("ss"),
            lambda b: (b["pos"] <= a["pos"])
            & (b["pos"] + b["len"] >= a["pos"] + a["len"])
            & (b["len"] > a["len"]),
        ),
    )
    kept = per_turn.select(
        "conv_id", "turn_idx", F.explode(survives).alias("g")
    ).select("conv_id", "turn_idx", "g.pos", "g.len", "g.surface")
    return (
        kept.withColumn("kind", F.lit("term"))
        .withColumn("mention_id", _mention_id("term"))
        .select(*MENTION_COLS)
    )


def detect_mentions(
    transcripts: DataFrame, term_dim: DataFrame, max_term_tokens: int = 4
) -> DataFrame:
    """Code and term mentions in one Arrow-batched scan.

    Semantics are IDENTICAL to ``detect_code_mentions ∪
    detect_term_mentions`` over the key-filtered input (tested by the
    parity tests in tests/test_operators.py and tests/test_plans.py), but
    the physical plan is one ``mapInPandas`` scan:

      * no 16× n-gram row explode — candidate spans are checked in-place
        against a broadcast first-token index (Aho-Corasick-lite), so the
        dictionary probe is one dict lookup per token plus rare tuple
        compares, not a string build + hash join per n-gram;
      * no shuffle — longest-match-wins runs per turn inside the batch
        (the declarative reference needs a groupBy(conv, turn) over all
        matched spans);
      * no collect_list struct churn — the JVM explode/agg path allocates
        per-span structs that dominate GC at cluster scale (measured: the
        mention stage scaled 2.05× on 4× cores; GC/shuffle slack was the
        gap — see BENCH/BASELINE.md).

    The fact table crosses into Python once, Arrow-batched — the pattern
    the north rule prescribes (vectorized pandas/Arrow UDFs, no per-row
    Python UDF calls).
    """
    import re
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    # rows without a turn key cannot be addressed (mention_id embeds it);
    # the declarative reference would render 'c1::code:0' for them
    transcripts = transcripts.filter(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
    )
    # broadcast first-token index: tok0 -> list of token tuples
    terms = [r.surface for r in term_dim.select("surface").distinct().collect()]
    index: dict[str, list[tuple[str, ...]]] = {}
    for t in terms:
        tt = tuple(t.split(" "))
        if 0 < len(tt) <= max_term_tokens:
            index.setdefault(tt[0], []).append(tt)
    bc = transcripts.sparkSession.sparkContext.broadcast(index)

    tok_re = re.compile(WORD_SPLIT_PATTERN)
    # \b parity verified empirically (test_detect_mentions_null_turn_key_
    # and_unicode_parity): Java's \b is unicode-aware like Python's default
    # — 'naïve:abc' yields no code mention in either plan; do NOT compile
    # with re.ASCII, which WOULD make Python alone match 've:abc'
    code_re = re.compile(CODE_PATTERN)

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("mention_id", T.StringType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("surface", T.StringType()),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in batches:
            conv_o, turn_o, mid_o, pos_o, kind_o, surf_o = [], [], [], [], [], []
            for conv, turn, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                # NULL text (e.g. a PERMISSIVE JSONL row missing the field)
                # yields no mentions — same as the declarative reference,
                # where F.lower(NULL) joins/matches nothing. NULL keys are
                # unaddressable (filtered above; guarded again here) — and
                # one NaN in the batch makes pandas render EVERY turn as
                # float ('1.0'), so re-int per row.
                if not isinstance(text, str) or conv is None or pd.isna(turn):
                    continue
                turn = int(turn)
                low = text.lower()
                # code mentions: regex match ordinal is the position
                for p, m in enumerate(code_re.findall(low)):
                    conv_o.append(conv); turn_o.append(turn)
                    mid_o.append(f"{conv}:{turn}:code:{p}")
                    pos_o.append(p); kind_o.append("code"); surf_o.append(m)
                # term mentions: first-token index probe per start position
                toks = [t for t in tok_re.split(low) if t]
                spans = []
                for i, tok in enumerate(toks):
                    for tt in idx.get(tok, ()):
                        n = len(tt)
                        if tuple(toks[i:i + n]) == tt:
                            spans.append((i, n, " ".join(tt)))
                for a in spans:
                    if any(b[0] <= a[0] and b[0] + b[1] >= a[0] + a[1] and b[1] > a[1]
                           for b in spans):
                        continue  # strictly contained in a longer match
                    conv_o.append(conv); turn_o.append(turn)
                    mid_o.append(f"{conv}:{turn}:term:{a[0]}")
                    pos_o.append(a[0]); kind_o.append("term"); surf_o.append(a[2])
            yield pd.DataFrame(
                {"conv_id": conv_o, "turn_idx": turn_o, "mention_id": mid_o,
                 "pos": pos_o, "kind": kind_o, "surface": surf_o}
            )

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(scan, schema)


NEGATION_CUES = (
    "no", "not", "without", "denies", "denied", "never", "negative", "absent",
)

# context-channel cue phrases (rich/corpus P-R mode, run_pipeline
# context_channels=True): the transcript analogs of the reference's
# clinical input channels. "also known as <surface>" marks the mention as
# an alternative clinical name (the reference's CONCEPT_SYNONYM column);
# a turn containing "family history of" scopes its mentions to the
# hereditary/broader context (the reference's ANCESTOR_* columns —
# clinically an FH section asserts the family's condition, i.e. the
# ancestor-level channel, not the patient's own concept-level finding).
SYNONYM_CUE_PHRASE = "also known as"
ANCESTOR_CUE_PHRASE = "family history of"


def flag_phrase_context(
    transcripts: DataFrame,
    mentions: DataFrame,
    phrase: str,
    flag_col: str,
) -> DataFrame:
    """Flag mentions whose span is IMMEDIATELY preceded by ``phrase``.

    Same co-keyed join + tokenizer as :func:`flag_negated_mentions` (one
    skew-free (conv_id, turn_idx) hash join, native array ops, no UDF),
    but the cue test is exact-phrase equality of the k tokens before the
    mention rather than any-cue-in-window overlap.
    """
    ptoks = [t for t in phrase.lower().split() if t]
    k = len(ptoks)
    toks = tokens(F.col("text"))
    turns = transcripts.select("conv_id", "turn_idx", toks.alias("__toks"))
    start = F.greatest(F.col("pos") - F.lit(k) + F.lit(1), F.lit(1))
    n_prev = F.least(F.lit(k), F.col("pos"))
    prev = F.slice(F.col("__toks"), start, n_prev)
    cue = F.array(*[F.lit(t) for t in ptoks])
    return (
        mentions.join(turns, on=["conv_id", "turn_idx"])
        .withColumn(flag_col, prev == cue)
        .drop("__toks")
    )


def flag_negated_mentions(
    transcripts: DataFrame,
    mentions: DataFrame,
    cues: tuple[str, ...] = NEGATION_CUES,
    window: int = 3,
) -> DataFrame:
    """NegEx-style assertion status for detected mentions: a mention is
    negated when any of the ``window`` tokens immediately preceding its
    span is a negation cue ("patient denies headache" must NOT assert
    hasExactMapping the way "patient reported headache" does). The
    reference maps strings without polarity; this is the assertion layer
    a clinical KG adds before trusting a triple.

    ``mentions`` needs (conv_id, turn_idx, pos) with pos = 0-based token
    index from the same tokenizer as :func:`detect_term_mentions`.
    Returns the mention rows plus ``is_negated``.

    Scale shape: one co-keyed join of mentions against the re-tokenized
    turn (both sides hash on (conv_id, turn_idx) — skew-free, bounded
    rows per turn); the cue test is a native ``arrays_overlap`` over a
    ≤window-token slice, inside whole-stage codegen. No UDF, no
    broadcast of anything corpus-sized.
    """
    toks = tokens(F.col("text"))
    turns = transcripts.select("conv_id", "turn_idx", toks.alias("__toks"))
    cue_arr = F.array(*[F.lit(c) for c in cues])
    start = F.greatest(F.col("pos") - F.lit(window) + F.lit(1), F.lit(1))
    n_prev = F.least(F.lit(window), F.col("pos"))
    prev = F.slice(F.col("__toks"), start, n_prev)
    return (
        mentions.join(turns, on=["conv_id", "turn_idx"])
        .withColumn("is_negated", F.arrays_overlap(prev, cue_arr))
        .drop("__toks")
    )

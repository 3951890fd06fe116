"""Deterministic fixture/table generators.

Dimension tables come from literal rows in ``lexicon_data``; the transcripts
fact table is generated *inside Spark* from ``spark.range`` + hash
expressions, so it scales to arbitrary row counts with zero driver memory
and is bit-for-bit deterministic (xxhash64 with fixed seeds — no
Date.now/random anywhere). This is the scale path: the same generator that
makes a 2k-turn test fixture makes a 10^9-turn bench table.

Schema per BASELINE.json input_hint:
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omop2obo_spark.fixtures import lexicon_data as L

LEXICON_SCHEMA = T.StructType(
    [
        T.StructField("ont", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # label|synonym|definition|dbxref
        T.StructField("norm_string", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("subtype", T.StringType(), True),
    ]
)

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def literal_df(spark: SparkSession, rows: list[tuple], schema: T.StructType | str) -> DataFrame:
    """A literal table as a ``LocalTableScan`` (via pandas/Arrow): Python rows
    give a ``Scan ExistingRDD`` that runs a Python-fed job on every scan."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows) if rows else [], schema)


def lexicon_df(spark: SparkSession) -> DataFrame:
    """Ontology lexicon dimension: one row per (ont, kind, string).

    Replaces the reference's nested pickled dict
    (/root/reference/omop2obo/ontology_explorer.py:43-72). Strings are
    lower-cased here, exactly like the reference lexicon's keys; dbxref
    codes are kept raw (prefix case preserved) because normalization is a
    pipeline step (clinical_concept_annotator.py:259).
    """
    rows = []
    for ont, sid, label, definition, syns, dbxs, _anc in L.CONCEPTS:
        uri = L.OBO + sid
        rows.append((ont, "label", label.lower(), uri, None))
        rows.append((ont, "definition", definition.lower(), uri, None))
        for syn, styp in syns:
            rows.append((ont, "synonym", syn.lower(), uri, styp))
        for code, dtyp in dbxs:
            rows.append((ont, "dbxref", code, uri, dtyp))
    return literal_df(spark, rows, LEXICON_SCHEMA)


def ancestors_df(spark: SparkSession) -> DataFrame:
    """Concept→ancestor closure (transitive), one row per (uri, ancestor_uri).

    Drives the ancestor-level annotation tier — the reference explodes
    pipe-delimited ancestor code lists per clinical row
    (clinical_concept_annotator.py:348-361); in graph form that is a join
    through this closure table.
    """
    return literal_df(spark, L.closure_pairs(), "uri string, ancestor_uri string")


def mrconso_df(spark: SparkSession) -> DataFrame:
    """UMLS MRCONSO-shaped table (CUI, LANG, SAB, CODE) — unfiltered, raw."""
    return literal_df(spark, L.MRCONSO_ROWS, "CUI string, LANG string, SAB string, CODE string")


def mrsty_df(spark: SparkSession) -> DataFrame:
    """UMLS MRSTY-shaped table (CUI, STY)."""
    return literal_df(spark, L.MRSTY_ROWS, "CUI string, STY string")


def vocab_map_df(spark: SparkSession) -> DataFrame:
    """Vocabulary alias → canonical prefix map, one row per alias."""
    rows = [(alias, primary) for primary, aliases in L.VOCAB_MAP_ROWS for alias in aliases]
    return literal_df(spark, rows, "alias string, primary string")


def vocab_map_dict() -> dict[str, str]:
    """The same map as a plain dict (for broadcast into UDFs / driver use)."""
    return {alias: primary for primary, aliases in L.VOCAB_MAP_ROWS for alias in aliases}


_DIMS_CACHE: dict[str, object] = {}  # applicationId -> LexiconDims


def cached_dims(spark: SparkSession):
    """Session-scoped prepared :class:`LexiconDims` over the fixture lexicon.

    Dimension preparation (localize + broadcast-shape the lexicon views) is
    once-per-application work — the reference loads its pickled lexicons a
    single time at startup (ontology_explorer.py:91-106) and every query
    reuses them. Benchmarks and multi-query drivers should do the same
    rather than re-collecting identical dimension tables per query.
    """
    from omop2obo_spark.operators.linking import LexiconDims

    # applicationId, not id(): a GC'd context's address can be recycled by
    # a later session, which would return dims holding dead broadcasts
    key = spark.sparkContext.applicationId
    dims = _DIMS_CACHE.get(key)
    if dims is None:
        # evict dead applications' dims before caching the new one: a
        # process cycling sessions (pytest, long-lived drivers) would
        # otherwise pin every dead session's dimension frames forever
        for stale in [k for k in _DIMS_CACHE if k != key]:
            del _DIMS_CACHE[stale]
        dims = LexiconDims.from_lexicon(lexicon_df(spark), vocab_map_dict())
        _DIMS_CACHE[key] = dims
    return dims


# --------------------------------------------------------------------------
# Synthetic transcripts (Spark-native, deterministic, scalable)
# --------------------------------------------------------------------------

def _pick(h: Column, values: list[str]) -> Column:
    """Deterministically pick one literal from ``values`` by hash."""
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (F.pmod(h, F.lit(len(values))) + 1).cast("int"))


def transcripts_df(
    spark: SparkSession,
    n_convs: int = 100,
    turns_per_conv: int = 20,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Generate the transcripts fact table entirely with JVM expressions.

    Text composition per turn (all choices are xxhash64-derived, seeded):
      * ~40% of term mentions are the single heavy-hitter label ("pain") —
        a Zipf-like skew that exercises the salted-join path;
      * mention kinds: exact label / exact synonym / embedded source code
        (``snomedct_us:190787008``-style) / embedded UMLS CUI / near-miss
        string (extra token; only the TF-IDF tier can link it) / pure noise.
    """
    labels = [c[2].lower() for c in L.CONCEPTS]
    synonyms = [s.lower() for c in L.CONCEPTS for (s, _t) in c[4]]
    # embedded code mentions: snomed dbxrefs, raw-prefix variants, CUIs
    codes = [d.lower() for c in L.CONCEPTS for (d, _t) in c[5]]
    # near-miss strings must NOT contain any dictionary term as a contiguous
    # n-gram (else the exact tier links them and the TF-IDF tier never
    # fires): token-reversed multi-word labels
    multiword = [lb for lb in labels if " " in lb and not any(
        w in labels or w in synonyms for w in lb.split())]
    near_miss = [" ".join(reversed(lb.split())) for lb in multiword]
    heavy = "pain"

    n_rows = n_convs * turns_per_conv
    base = spark.range(0, n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    def h(salt: int) -> Column:
        return F.abs(F.xxhash64(i, F.lit(seed), F.lit(salt)))

    # skewed term choice: 40% heavy hitter, else uniform over labels
    term = F.when(F.pmod(h(1), F.lit(100)) < 40, F.lit(heavy)).otherwise(_pick(h(2), labels))
    syn = _pick(h(3), synonyms)
    code = _pick(h(4), codes)
    miss = _pick(h(5), near_miss)

    kind = F.pmod(h(6), F.lit(10))
    phrase = (
        F.when(kind <= 3, F.concat(F.lit("the patient reported "), term, F.lit(" during the visit")))
        .when(kind <= 5, F.concat(F.lit("assessment notes "), syn, F.lit(" as the chief complaint")))
        .when(kind == 6, F.concat(F.lit("coded as "), code, F.lit(" in the source system")))
        .when(kind == 7, F.concat(F.lit("cross reference "), code, F.lit(" for this encounter")))
        .when(kind == 8, F.concat(F.lit("patient note "), miss))
        .otherwise(F.lit("no clinical content in this turn"))
    )
    # near-miss turns stay short (no filler) so the TF-IDF tier has signal
    # above the 0.25 floor, like the reference's short clinical strings
    noise_a = F.when(kind == 8, F.lit(None)).otherwise(_pick(h(7), L.NOISE_WORDS))
    noise_b = F.when(kind == 8, F.lit(None)).otherwise(_pick(h(8), L.NOISE_WORDS))

    role = _pick(F.pmod(i, F.lit(3)), ["user", "assistant", "tool"])
    tool = F.when(role == "tool", _pick(h(9), ["search", "calculator", "retrieval"])).otherwise(F.lit(None))

    return base.select(
        F.format_string("conv_%06d", (i / turns_per_conv).cast("long")).alias("conv_id"),
        F.pmod(i, F.lit(turns_per_conv)).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.concat_ws(" ", noise_a, phrase, noise_b).alias("text"),
        tool.alias("tool"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(secs=i)).alias("ts"),
    )


def portable_hash(doc_id: Column, turn_idx: Column, salt: int) -> Column:
    """Deterministic engine-portable mixer: plain modular arithmetic, so a
    DuckDB oracle can reproduce the exact same value (xxhash64 is
    Spark-only). Multipliers keep products far below bigint overflow."""
    return F.pmod(
        doc_id.cast("bigint") * 1000003 + turn_idx.cast("bigint") * 7919 + F.lit(salt) * 104729,
        F.lit(2147483647),
    )


def portable_hash_sql(doc_id: str, turn_idx: str, salt: int) -> str:
    """The same mixer as ANSI/DuckDB SQL text (operands are non-negative, so
    ``%`` and Spark's ``pmod`` agree). The BIGINT casts mirror the Spark
    twin above — without them an INT32 doc_id column overflows DuckDB's
    INT32 multiplication at doc_id >= 2148."""
    return (
        f"(({doc_id})::BIGINT * 1000003 + ({turn_idx})::BIGINT * 7919 "
        f"+ {salt} * 104729) % 2147483647"
    )


def transcripts_from_documents(
    spark: SparkSession, sf_dir: str, rich_mentions: bool = False
) -> DataFrame:
    """Derive a transcripts-shaped table from the driver's documents.parquet.

    Used by bench/entry so the fact-table size tracks the driver's scale
    factor. Each document becomes one conversation; its text is chunked
    into turns of ~12 tokens; clinical mentions are injected
    deterministically by (doc_id, turn_idx) hash so the linker has real
    work to do. All selection hashes are :func:`portable_hash` so the
    driver's DuckDB oracle can rebuild identical text (see
    ``__spark_entry__.oracle_sql()['q_kg_triples']``).

    ``rich_mentions=True`` (the corpus P/R mode, tools/pr_vs_reference.py
    --rich; NOT used by the gated flagship, whose oracle mirrors the
    default text) additionally makes sel==5 turns carry TWO distinct
    same-ontology labels, so per-turn aggregation sees multi-concept keys
    (→ ``Automatic Constructor - Concept``); combined with the
    cross-ontology ancestor overlay this populates all four AGGREGATED
    category branches end-to-end through mention detection.
    """
    labels = [c[2].lower() for c in L.CONCEPTS]
    codes = [d.lower() for c in L.CONCEPTS for (d, _t) in c[5]]
    near_miss = L.near_miss_labels()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), r"\s+")
    n_turns = F.greatest(F.lit(1), (F.size(toks) / 12).cast("int"))
    turns = docs.select(
        F.col("doc_id"),
        toks.alias("toks"),
        F.posexplode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx", "_t"),
    )

    def h(salt: int) -> Column:
        return portable_hash(F.col("doc_id"), F.col("turn_idx"), salt)

    sel = F.pmod(h(42), F.lit(10))
    mention = (
        F.when(sel <= 2, F.concat(F.lit(" patient reported "), _pick(h(1), labels)))
        .when(sel == 3, F.concat(F.lit(" coded as "), _pick(h(2), codes)))
        .otherwise(F.lit(""))
    )
    if rich_mentions:
        hp_labels = [c[2].lower() for c in L.CONCEPTS if c[0] == "hp"]
        arr = F.array(*[F.lit(v) for v in hp_labels])
        j = F.pmod(h(4), F.lit(len(hp_labels)))
        pair = F.concat(
            F.lit(" patient reported "), F.element_at(arr, (j + 1).cast("int")),
            F.lit(" and also "),
            F.element_at(arr, (F.pmod(j + 1, F.lit(len(hp_labels))) + 1).cast("int")),
        )
        mention = F.when(sel == 5, pair).otherwise(mention)
    chunk = F.concat(F.concat_ws(" ", F.slice(F.col("toks"), F.col("turn_idx") * 12 + 1, 12)), mention)
    # near-miss turns carry ONLY the scrambled label (short text, like the
    # reference's clinical strings) so the TF-IDF tier sees signal
    text = F.when(
        sel == 4,
        F.concat(F.lit("patient note "), _pick(h(3), near_miss)),
    ).otherwise(chunk)
    if rich_mentions:
        # family-history turns (pure constructed text — the FH cue scopes
        # the whole turn to the ancestor channel, run_pipeline
        # context_channels=True; stray document tokens would add unplanned
        # concept hits). sel==6: label+synonym+code of ONE concept →
        # Automatic Exact - Ancestor; sel==7: surfaces of THREE same-ont
        # concepts → Automatic Constructor - Ancestor.
        fh = L.fh_context_triples()

        def fh_text(one_concept: bool) -> Column:
            ont_keys = sorted(fh)
            branches = []
            for ont in ont_keys:
                trip = fh[ont]
                n = len(trip)
                labs = F.array(*[F.lit(t[0]) for t in trip])
                syns = F.array(*[F.lit(t[1]) for t in trip])
                cods = F.array(*[F.lit(t[2]) for t in trip])
                i1 = F.pmod(h(8), F.lit(n))
                i2 = i1 if one_concept else F.pmod(i1 + 1, F.lit(n))
                i3 = i1 if one_concept else F.pmod(i1 + 2, F.lit(n))
                branches.append(
                    F.concat(
                        F.lit("family history of "), F.element_at(labs, (i1 + 1).cast("int")),
                        F.lit(" also known as "), F.element_at(syns, (i2 + 1).cast("int")),
                        F.lit(" coded as "), F.element_at(cods, (i3 + 1).cast("int")),
                    )
                )
            pick_ont = F.pmod(h(9), F.lit(len(ont_keys)))
            expr = branches[0]
            for k in range(1, len(ont_keys)):
                expr = F.when(pick_ont == k, branches[k]).otherwise(expr)
            return expr

        text = (
            F.when(sel == 6, fh_text(one_concept=True))
            .when(sel == 7, fh_text(one_concept=False))
            .otherwise(text)
        )
    return turns.select(
        F.format_string("conv_%08d", F.col("doc_id")).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _pick(F.pmod(F.col("turn_idx").cast("bigint"), F.lit(3)), ["user", "assistant", "tool"]).alias("role"),
        text.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id") * 100 + F.col("turn_idx"))).alias("ts"),
    )

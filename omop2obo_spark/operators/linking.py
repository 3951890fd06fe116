"""Entity-linking tiers: UMLS CUI annotation, DbXRef lookup, exact string
matching — the Spark re-expression of the reference's ConceptAnnotator
(/root/reference/omop2obo/clinical_concept_annotator.py).

The tier functions are DataFrame→DataFrame and generic over the key
columns: they serve the reference-parity path (key=CONCEPT_ID) and the
link dimension, in which the pipeline looks mentions up.
Every tier depends only on a mention's normalized code or lower-cased
surface, never on its turn, so
:func:`build_link_dim` runs them once over that key domain into one
dimension keyed by ``(kind, LINK_KEY)``, and the pipeline links each
mention with a single lookup into it (:meth:`LinkDim.lookup`).

The link-candidate output schema is shared by every tier:
    <key cols>, CODE, CODE_COLUMN, URI, ONT_TYPE, LABEL, EVIDENCE,
    MATCH_KIND, MATCH_SUBTYPE, src_rank, tier_rank
``src_rank``/``tier_rank`` are explicit ordering keys replacing pandas'
implicit concat order (label-pass before synonym-pass, exact-dbxref before
ananke, etc.) so downstream order-preserving aggregation is deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2obo_spark.functions.normalize import (
    normalize_source_codes,
    uri_ont_type,
    uri_to_code,
)
from omop2obo_spark.operators.aggregate import ordered_concat_agg
from omop2obo_spark.operators.joins import broadcast_join, dim_join

LINK_VALUE_COLS = [
    "CODE", "CODE_COLUMN", "URI", "ONT_TYPE", "LABEL", "EVIDENCE",
    "MATCH_KIND", "MATCH_SUBTYPE", "src_rank", "tier_rank",
]
# a mention's kind ('code'|'term') and its lookup key into the link dimension
LINK_KEY_COLS = ["kind", "LINK_KEY"]


def localize_dim_checked(df: DataFrame, max_rows: int = 500_000) -> tuple[DataFrame, bool]:
    """Collect a small dimension and rebuild it as a local literal relation;
    also report whether the dimension fit (→ broadcast joins) or not
    (→ shuffle joins, where the caller should salt skewed fact keys — see
    :meth:`LinkDim.lookup`).

    Broadcasting a LocalTableScan requires no cluster job, so downstream
    BroadcastHashJoins never wait on scheduler slots to build their hash
    side. Falls back to ``persist()`` if the dimension exceeds
    ``max_rows`` (e.g. a full production MRCONSO) — then the collect cost
    is paid per broadcast site, but the plan is never recomputed.

    The local rebuild goes through pandas: ``createDataFrame`` from Python
    rows yields a ``Scan ExistingRDD`` (parallelized — every broadcast
    build still launches a small job), while an Arrow-backed pandas input
    yields a true ``LocalTableScan`` that broadcasts with no job at all
    (verified via .explain; tests/test_operators.py pins it).

    The ``persist()`` fallback intentionally lives for the application
    lifetime — it is a dimension cache shared by every downstream join
    site, exactly like a cluster-wide dim table cache; callers that want
    it gone must unpersist the returned frame themselves.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return df.persist(), False
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=df.columns)
    return df.sparkSession.createDataFrame(pdf, df.schema), True


@dataclass
class LexiconDims:
    """Pre-derived broadcastable dimension frames from the lexicon table.

    Mirrors the reference's per-kind dict views of the pickled lexicon
    (ontology_explorer.py:106-138) as columnar dimensions:
      * dbxref: (CODE normalized, URI) — dbxref_mapper's ont_df
        (clinical_concept_annotator.py:256-259)
      * strings: (CODE lower-cased label/synonym, URI, kind) — the two
        passes of exact_string_mapper (:311-314)
      * labels: (URI, LABEL) — reversed label dict (:253)
    All are small (≤ a few 100k rows per ontology) and must be broadcast.
    """

    dbxref: DataFrame
    strings: DataFrame
    labels: DataFrame
    ont_keys: list[str]
    _link_dim: LinkDim | None = field(default=None, repr=False, compare=False)

    def link_dim(
        self, mrconso: DataFrame | None, mrsty: DataFrame | None, vocab_map: dict[str, str],
        max_rows: int, salt_buckets: int,
    ) -> LinkDim:
        """The link dimension for these views, MRCONSO, MRSTY and vocab map;
        built on first use and kept while the same objects come back, so a
        partitioned run's batches share one build.

        :func:`~omop2obo_spark.plans.pipeline.run_pipeline` calls it on a
        second thread, concurrently with its mention scan. The cache is not
        locked: run only one ``run_pipeline`` per ``LexiconDims`` at a
        time."""
        built = self._link_dim
        src = built.sources if built is not None else None
        if src is None or src[0] is not mrconso or src[1] is not mrsty or src[2] != vocab_map:
            built = build_link_dim(self, mrconso, mrsty, vocab_map, max_rows, salt_buckets)
            self._link_dim = built
        return built

    @classmethod
    def from_lexicon(cls, lexicon: DataFrame, vocab_map: dict[str, str]) -> "LexiconDims":
        # Explicit precedence for duplicate keys: the reference's
        # merge_dictionaries is last-write-wins over sources merged in order
        # (data_utils.py:278-302). An optional ``src_rank`` column carries
        # that source order (higher rank wins); absent, all sources rank 0
        # and ties resolve by value (max) — deterministic either way, unlike
        # a bare dropDuplicates whose winner is partition-order-dependent.
        rank = (
            F.col("src_rank").cast("long") if "src_rank" in lexicon.columns else F.lit(0)
        ).alias("__rank")

        def _resolve(df: DataFrame, keys: list[str], vals: list[str]) -> DataFrame:
            win = F.max(F.struct(F.col("__rank"), *[F.col(v) for v in vals])).alias("__w")
            return df.groupBy(*keys).agg(win).select(
                *keys, *[F.col(f"__w.{v}").alias(v) for v in vals]
            )

        labels = _resolve(
            lexicon.filter(F.col("kind") == "label").select(
                F.col("uri").alias("URI"), F.col("norm_string").alias("LABEL"), rank
            ),
            ["URI"], ["LABEL"],
        )
        dbxref = _resolve(
            lexicon.filter(F.col("kind") == "dbxref").select(
                normalize_source_codes(F.col("norm_string"), vocab_map).alias("CODE"),
                F.col("uri").alias("URI"),
                F.col("subtype").alias("DBX_TYPE"),
                F.col("norm_string").alias("RAW_CODE"),
                rank,
            ),
            ["CODE", "URI"], ["DBX_TYPE", "RAW_CODE"],
        )
        strings = _resolve(
            lexicon.filter(F.col("kind").isin("label", "synonym")).select(
                F.lower(F.col("norm_string")).alias("CODE"),
                F.col("uri").alias("URI"),
                F.col("kind").alias("STR_KIND"),
                F.col("subtype").alias("SYN_TYPE"),
                rank,
            ),
            ["CODE", "URI", "STR_KIND"], ["SYN_TYPE"],
        )
        ont_keys = [r.ont for r in lexicon.select("ont").distinct().collect()]
        # Materialize each dimension as a driver-local literal relation.
        # A BroadcastExchange over a computed plan launches a cluster job
        # per join site to collect its build side; under a loaded scheduler
        # those tiny jobs queue behind long stages (measured 12-38 s of
        # stall per broadcast site before this change — the dominant
        # Amdahl term). A LocalTableScan broadcasts with no job at all.
        # Dimensions are bounded (≤ a few 100k rows per ontology), so the
        # one-time driver collect is safe by construction.
        dbxref, _ = localize_dim_checked(dbxref)
        strings, _ = localize_dim_checked(strings)
        labels, _ = localize_dim_checked(labels)
        return cls(dbxref=dbxref, strings=strings, labels=labels, ont_keys=sorted(ont_keys))


def prepare_mrconso(mrconso: DataFrame, vocab_map: dict[str, str]) -> DataFrame:
    """Filter + normalize MRCONSO to the joinable (CUI, SAB, CODE) shape.

    Parity with clinical_concept_annotator.py:158-169: drop NOCODE/non-ENG,
    CODE := normalize(SAB:code.lower()) with the >2-colon collapse quirk
    (``HPO:HP:0008181`` → ``hp:0008181``).
    """
    df = (
        mrconso.filter((F.col("CODE") != "NOCODE") & (F.col("LANG") == "ENG"))
        .select("CUI", "SAB", "CODE")
        .dropDuplicates()
    )
    code = F.concat(F.col("SAB"), F.lit(":"), F.lower(F.col("CODE")))
    parts = F.split(code, ":")
    code = F.when(F.size(parts) > 2, F.array_join(F.slice(parts, 2, F.size(parts) - 1), ":")).otherwise(code)
    return df.withColumn("CODE", normalize_source_codes(code, vocab_map))


def umls_annotate(
    codes: DataFrame,
    umls: DataFrame,
    mrsty: DataFrame,
    key_cols: list[str],
    code_col: str,
    double_merge: bool = True,
    strategy: str = "broadcast",
    salt_buckets: int = 32,
) -> DataFrame:
    """UMLS CUI + semantic-type annotation (J1/J2/J3).

    Parity with umls_cui_annotator (clinical_concept_annotator.py:187-226):
    merge 1 aligns source codes to UMLS SABs; merge 2 (``double_merge``)
    re-joins the CUIs of merge 1 against the full MRCONSO, pulling in SABs
    absent from the input — the CUI cross-reference expansion tier.

    ``umls`` must be pre-processed by :func:`prepare_mrconso`.
    ``strategy='salted'`` (for an MRCONSO above the broadcast budget) makes
    both merges shuffle joins with the fact side's skewed keys salted over
    ``salt_buckets`` partitions (joins.salted_join). Results are identical
    either way (tests/test_operators.py).
    """
    u = umls.select(
        F.col("CUI").alias("UMLS_CUI"),
        F.col("SAB").alias("UMLS_SAB"),
        F.col("CODE").alias("UMLS_CODE"),
    )
    salt = salt_buckets if strategy == "salted" else None
    ids = codes.select(*key_cols, code_col).dropDuplicates()
    m1 = dim_join(
        ids.withColumn("UMLS_CODE", F.col(code_col)), u, "UMLS_CODE", salt_buckets=salt,
        salt_cols=key_cols,
    ).select(*key_cols, code_col, "UMLS_CUI", "UMLS_SAB", "UMLS_CODE")
    merged = m1
    if double_merge:
        m2_left = m1.select(*key_cols, code_col, "UMLS_CUI")
        merged = m1.unionByName(
            dim_join(m2_left, u, "UMLS_CUI", "left", salt_buckets=salt, salt_cols=key_cols)
        )
    sty = mrsty.select(F.col("CUI").alias("UMLS_CUI"), F.col("STY").alias("UMLS_SEM_TYPE"))
    out = merged.join(F.broadcast(sty), on="UMLS_CUI", how="left").select(
        *key_cols, code_col, "UMLS_CUI", "UMLS_SAB", "UMLS_CODE", "UMLS_SEM_TYPE"
    )
    # This distinct is VOLUME-critical, not just semantic: merge 2 produces
    # |SABs per CUI| rows for EACH merge-1 row of the same CUI — a k×k'
    # cross product per (key, CUI) that the dedup collapses back to k+k'.
    # Skipping it (measured) doubled the whole tail job. Never defer.
    return out.dropDuplicates()


def dbxref_link(
    stacked: DataFrame,
    dims: LexiconDims,
    key_cols: list[str],
    level: str,
    umls: DataFrame | None = None,
) -> DataFrame:
    """DbXRef tier (J4) + OHDSI-Ananke UMLS-CUI bridge (J5).

    Parity with dbxref_mapper (clinical_concept_annotator.py:228-277) and
    ohdsi_ananke (data_utils.py:305-348). ``stacked`` is the long
    (key, CODE, CODE_COLUMN, src_rank) frame whose CODE values are
    normalized source codes (or raw CUIs for the ananke branch).
    """
    col_lab = level.upper() + "_DBXREF_"

    # branch 1: direct dbxref equality
    direct = (
        broadcast_join(stacked, dims.dbxref.select("CODE", "URI", "DBX_TYPE"), on="CODE")
        .withColumn("tier_rank", F.lit(0))
        .withColumn("MATCH_SUBTYPE", F.coalesce(F.col("DBX_TYPE"), F.lit("DbXref")))
        .drop("DBX_TYPE")
    )

    out = direct
    if umls is not None:
        # branch 2 (ananke): stacked.CODE is a UMLS CUI; umls.CODE is an
        # OBO id rendered `hp:0001901`; ont side keyed by uri_to_code(URI).
        ont_side = dims.dbxref.select(uri_to_code(F.col("URI")).alias("ONT_CODE"), "URI").dropDuplicates()
        umls_obo = umls.filter(
            F.split(F.col("CODE"), ":").getItem(0).isin(dims.ont_keys)
        ).select(F.col("CUI"), F.col("CODE").alias("ONT_CODE"))
        ananke = (
            stacked.join(F.broadcast(umls_obo), stacked["CODE"] == umls_obo["CUI"], "inner")
            .join(F.broadcast(ont_side), on="ONT_CODE", how="inner")
            .select(
                *key_cols,
                F.concat(F.lit("umls:"), F.col("CUI")).alias("CODE"),
                "CODE_COLUMN",
                "src_rank",
                "URI",
            )
            .withColumn("tier_rank", F.lit(1))
            .withColumn("MATCH_SUBTYPE", F.lit("DbXref"))
        )
        out = out.unionByName(ananke)
    out = (
        out.withColumn("MATCH_KIND", F.lit("dbxref"))
        .withColumn("ONT_TYPE", uri_ont_type(F.col("URI")))
        .join(F.broadcast(dims.labels), on="URI", how="left")
        .withColumn("EVIDENCE", F.concat(F.lit(col_lab), F.col("CODE")))
        .select(*key_cols, *LINK_VALUE_COLS)
    )
    # full-row distinct: deterministic set semantics (a subset dedup over
    # rows differing in rank columns would pick an arbitrary winner)
    return out.dropDuplicates()


def exact_string_link(
    stacked_strings: DataFrame,
    dims: LexiconDims,
    key_cols: list[str],
    level: str,
) -> DataFrame:
    """Exact label/synonym string tier (J6).

    Parity with exact_string_mapper (clinical_concept_annotator.py:279-328):
    lower-case the clinical string, match labels then synonyms (label pass
    ranked before synonym pass — the reference concats label results first),
    evidence ``CODE_COLUMN:string_with_underscores``.

    The pipeline runs it once over the dictionary strings
    (:func:`build_link_dim`), so mention-count skew never reaches it.
    """
    lowered = stacked_strings.withColumn("CODE", F.lower(F.col("CODE")))
    matched = broadcast_join(lowered, dims.strings, on="CODE")
    out = (
        matched.withColumn("tier_rank", F.when(F.col("STR_KIND") == "label", F.lit(0)).otherwise(F.lit(1)))
        .withColumn("MATCH_KIND", F.col("STR_KIND"))
        .withColumn("MATCH_SUBTYPE", F.coalesce(F.col("SYN_TYPE"), F.lit("LABEL")))
        .withColumn("ONT_TYPE", uri_ont_type(F.col("URI")))
        .join(F.broadcast(dims.labels), on="URI", how="left")
        .withColumn(
            "EVIDENCE",
            F.concat(F.col("CODE_COLUMN"), F.lit(":"), F.regexp_replace(F.col("CODE"), " ", "_")),
        )
        .select(*key_cols, *LINK_VALUE_COLS)
    )
    # full-row distinct — see dbxref_link
    return out.dropDuplicates()


@dataclass
class LinkDim:
    """Every linking tier as rows keyed by ``(kind, LINK_KEY)``:
    ``links`` (``*LINK_VALUE_COLS``: a mention's concept-level links; term
    rows carry the ``MENTION_LABEL`` channel) and ``semtypes`` (per-code
    ``UMLS_CUI, UMLS_SEM_TYPE`` concat; None without MRCONSO + MRSTY).
    Both are localized; above the broadcast budget they are persisted and
    looked up through a salted join over ``salt_buckets`` partitions.
    """

    links: DataFrame
    semtypes: DataFrame | None
    salt_buckets: int | None  # None: broadcast
    sources: tuple  # (mrconso, mrsty, vocab_map) it was built from
    persisted: tuple  # the frames the build persisted above the budget

    def unpersist(self) -> None:
        """Release every frame the build persisted (see :attr:`persisted`)."""
        for df in self.persisted:
            df.unpersist()

    def lookup(self, keys: DataFrame, dim: DataFrame, key_cols: list[str]) -> DataFrame:
        """Inner-join ``keys`` (key_cols + LINK_KEY_COLS) with ``dim``."""
        return dim_join(keys, dim, LINK_KEY_COLS, salt_buckets=self.salt_buckets, salt_cols=key_cols)


def build_link_dim(
    dims: LexiconDims,
    mrconso: DataFrame | None,
    mrsty: DataFrame | None,
    vocab_map: dict[str, str],
    max_rows: int,
    salt_buckets: int,
) -> LinkDim:
    """Run the tiers once over the key domain (see :class:`LinkDim`).

    Code keys are ``normalize_source_codes`` codes: dbxref codes, prepared
    MRCONSO codes and ``umls:<cui>`` (a mention normalizes to ``prefix:id``
    with a colon-free id, so no other code reaches a tier), stacked like
    the reference's clinical rows (data_utils.py:44-81): the code (src_rank
    0), a ``umls:c…`` code's bare CUI (1), its UMLS merge-1/2 codes (2) and
    CUIs (3). Term keys are the lower-cased dictionary strings.

    Every frame that several plans read (the MRCONSO view, the code key
    domain, the UMLS map and the ranked code stack) is localized once, so
    the plans after it broadcast a LocalTableScan instead of re-planning
    and re-running its subtree. Above ``max_rows`` a frame comes back
    persisted instead (kept in :attr:`LinkDim.persisted`), and its flag
    picks the join that reads it: a persisted MRCONSO view salts the UMLS
    merges, a persisted ``links`` or ``semtypes`` salts the mention
    lookup. The code domain, UMLS map and stack are never a join's build
    side; they are localized only while the MRCONSO view fit, since each
    holds the view's codes and above it would only add a budget-sized
    collect and a cache.
    """
    key = ["LINK_KEY"]
    umls, strategy = None, "broadcast"
    persisted: list[DataFrame] = []

    def localized(df: DataFrame) -> tuple[DataFrame, bool]:
        df, fits = localize_dim_checked(df, max_rows)
        if not fits:
            persisted.append(df)
        return df, fits

    def shared(df: DataFrame) -> DataFrame:
        return localized(df)[0] if strategy == "broadcast" else df

    if mrconso is not None:
        umls, fits = localized(prepare_mrconso(mrconso, vocab_map))
        strategy = "broadcast" if fits else "salted"
    codes = dims.dbxref.select("CODE")
    if umls is not None:
        codes = codes.unionByName(umls.select("CODE")).unionByName(
            umls.select(F.concat(F.lit("umls:"), F.lower("CUI")).alias("CODE"))
        )
    codes = shared(
        codes.where(F.col("CODE").isNotNull()).distinct().withColumn("LINK_KEY", F.col("CODE"))
    )

    def stacked(df: DataFrame, code: str, code_column: str, rank: int) -> DataFrame:
        return df.select(
            *key, F.col(code).alias("CODE"), F.lit(code_column).alias("CODE_COLUMN"),
            F.lit(rank).alias("src_rank"),
        ).where(F.col("CODE").isNotNull())

    stack = stacked(codes, "CODE", "TURN_CODE", 0).unionByName(
        stacked(
            codes.filter(F.col("CODE").startswith("umls:c")).withColumn(
                "CUI", F.upper(F.element_at(F.split(F.col("CODE"), ":"), -1))
            ),
            "CUI", "UMLS_CUI", 1,
        )
    )
    semtypes = None
    if umls is not None and mrsty is not None:
        umls_map = shared(umls_annotate(
            codes, umls, mrsty, key, "CODE", strategy=strategy, salt_buckets=salt_buckets
        ))
        # merge 2 yields one row per SAB of a CUI; the min-rank groupBy pins
        # each (key, CODE, CODE_COLUMN)'s rank and collapses that fan-out
        stack = (
            stack.unionByName(stacked(umls_map, "UMLS_CODE", "UMLS_CODE", 2))
            .unionByName(stacked(umls_map, "UMLS_CUI", "UMLS_CUI", 3))
            .groupBy(*key, "CODE", "CODE_COLUMN")
            .agg(F.min("src_rank").alias("src_rank"))
        )
        semtypes = ordered_concat_agg(
            umls_map.select(*key, "UMLS_CUI", "UMLS_SEM_TYPE"),
            key, ["UMLS_CUI", "UMLS_SEM_TYPE"], ["UMLS_CUI"],
        ).select(F.lit("code").alias("kind"), *key, "UMLS_CUI", "UMLS_SEM_TYPE")
    if umls is not None:
        # dbxref_link reads it twice: the direct and the ananke branch
        stack = shared(stack)
    terms = dims.strings.select("CODE").distinct().withColumn("LINK_KEY", F.col("CODE"))
    terms = stacked(terms, "CODE", "MENTION_LABEL", 0)
    links = (
        dbxref_link(stack, dims, key, "concept", umls=umls).withColumn("kind", F.lit("code"))
        .unionByName(exact_string_link(terms, dims, key, "concept").withColumn("kind", F.lit("term")))
        .select(*LINK_KEY_COLS, *LINK_VALUE_COLS)
    )
    links, fits = localized(links)
    if semtypes is not None:
        semtypes, sty_fits = localized(semtypes)
        fits = fits and sty_fits
    return LinkDim(
        links, semtypes, None if fits else salt_buckets, (mrconso, mrsty, vocab_map),
        tuple(persisted),
    )

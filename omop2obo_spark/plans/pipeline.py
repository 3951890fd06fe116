"""End-to-end KG-construction pipeline:

    transcripts → mention detection → entity linking (exact-string /
    dbxref / UMLS-CUI / ancestor / TF-IDF tiers) → canonicalization →
    (subj, pred, obj) triples.

Stage mapping to the reference (SURVEY.md §3.2-3.3):
  * code normalization + stacking  <-> clinical_concept_mapper steps 0-1
    (clinical_concept_annotator.py:355-374)
  * UMLS tier                      <-> umls_cui_annotator (:187-226)
  * dbxref + ananke tier           <-> dbxref_mapper (:228-277)
  * exact string tier              <-> exact_string_mapper (:279-328)
  * ancestor expansion             <-> ancestor-level annotation loop
    (:348-361), re-expressed as a join through the ancestor closure
  * TF-IDF tier                    <-> SimilarStringFinder (string_similarity.py)
  * canonicalization               <-> aggregates_mapping_results
    (data_utils.py:551-622)

Scale notes: the fact table is touched by exactly one wide operation — the
final per-mention groupBy in compile (keys are (conv_id, turn_idx,
mention_id): high-cardinality, skew-free). Every dictionary join is
broadcast. The TF-IDF tier only sees turns that produced no exact link.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop2obo_spark.config import (
    BROADCAST_DIM_MAX_ROWS,
    COMPILE_THRESHOLD,
    MAX_TERM_TOKENS,
    PRED_CATEGORY,
    PRED_CONSTRUCTOR,
    PRED_EVIDENCE,
    PRED_EXACT,
    PRED_MENTION_OF,
    PRED_SEMTYPE,
    PRED_SIMILARITY,
    SALT_BUCKETS,
    SIM_FLOOR,
    SIM_PERCENTILE,
    SIM_TOP_N,
)
from omop2obo_spark.functions.normalize import normalize_source_codes, uri_ont_type
from omop2obo_spark.functions.text import preprocess_tokens_expr
from omop2obo_spark.operators.aggregate import ordered_concat_agg
from omop2obo_spark.operators.compile import compile_mappings
from omop2obo_spark.operators.linking import (
    LexiconDims,
    dbxref_link,
    exact_string_link,
    prepare_mrconso,
    umls_annotate,
)
from omop2obo_spark.operators.similarity import (
    build_ont_corpus,
    distributed_query_stats,
    filter_similarity_matches,
    fit_tfidf_ont_vocab,
    similarity_scores,
)
from omop2obo_spark.plans.mention import detect_mentions

KEY_COLS = ["conv_id", "turn_idx", "mention_id"]


@dataclass
class PipelineResult:
    mentions: DataFrame
    exact_links: DataFrame
    sim_matches: DataFrame | None
    semtypes: DataFrame | None
    mappings: DataFrame
    triples: DataFrame
    # executor caches still held by lazy plans (persist=False similarity
    # runs); call unpersist_caches() once consumers have executed
    cached_inputs: list[DataFrame] = dataclasses.field(default_factory=list)

    def unpersist_caches(self) -> None:
        for df in self.cached_inputs:
            df.unpersist()
        self.cached_inputs = []


def _stack_code_mentions(mentions: DataFrame, vocab_map: dict[str, str]) -> DataFrame:
    """Code mentions → stacked (key, CODE, CODE_COLUMN, src_rank) rows.

    Each code mention yields its normalized form (src_rank 0); pure-CUI
    mentions additionally yield the bare upper-cased CUI (src_rank 1) so
    the ananke bridge can key on it (the reference's stacked UMLS_CUI rows,
    data_utils.py:44-81).
    """
    base = mentions.filter(F.col("kind") == "code").select(
        *KEY_COLS, F.col("surface"), normalize_source_codes(F.col("surface"), vocab_map).alias("CODE")
    )
    norm = base.select(
        *KEY_COLS, "CODE", F.lit("TURN_CODE").alias("CODE_COLUMN"), F.lit(0).alias("src_rank")
    ).where(F.col("CODE").isNotNull())
    cuis = (
        base.filter(F.col("CODE").startswith("umls:c"))
        .select(
            *KEY_COLS,
            F.upper(F.element_at(F.split(F.col("CODE"), ":"), -1)).alias("CODE"),
            F.lit("UMLS_CUI").alias("CODE_COLUMN"),
            F.lit(1).alias("src_rank"),
        )
    )
    return norm.unionByName(cuis)


def _expand_ancestors(exact_links: DataFrame, ancestors: DataFrame, labels: DataFrame) -> DataFrame:
    """Concept-level links → ancestor-level links through the closure table.

    The reference re-runs all tiers on the clinical row's pipe-delimited
    ancestor codes (clinical_concept_annotator.py:348-361); with a graph
    lexicon the equivalent is a broadcast join through the (uri,
    ancestor_uri) closure. Evidence keeps its structure with the level
    token rewritten CONCEPT→ANCESTOR.
    """
    # project the closure to exactly its two key columns: ancestor_closure
    # emits (uri, ancestor_uri, depth), and any extra column (depth) would
    # ride through the join into the unionByName with the concept-level
    # links and fail resolution there
    closure = ancestors.select(F.col("uri").alias("URI"), "ancestor_uri")
    anc = exact_links.join(F.broadcast(closure), on="URI", how="inner")
    anc_labels = labels.select(F.col("URI").alias("ancestor_uri"), F.col("LABEL").alias("__anc_label"))
    return (
        anc.join(F.broadcast(anc_labels), on="ancestor_uri", how="left")
        .withColumn("URI", F.col("ancestor_uri"))
        .withColumn("LABEL", F.coalesce(F.col("__anc_label"), F.col("LABEL")))
        .withColumn("ONT_TYPE", uri_ont_type(F.col("URI")))
        .withColumn("EVIDENCE", F.regexp_replace("EVIDENCE", "^CONCEPT_", "ANCESTOR_"))
        .withColumn(
            "CODE_COLUMN", F.regexp_replace("CODE_COLUMN", "^(TURN|MENTION|CONCEPT)_", "ANCESTOR_")
        )
        .withColumn("LEVEL", F.lit("ancestor"))
        # closure-derived rows are marked: their string-match surface maps
        # to the CHILD concept, so their label/synonym evidence can never
        # validate under the reference's dictionary check when the group
        # keeps only ancestor rows (formats_mapping_evidence,
        # data_utils.py:497-507) — compile nulls their STR evidence
        .withColumn("__expanded", F.lit(True))
        .drop("ancestor_uri", "__anc_label")
        # no distinct here: the compile stage's sorted first-occurrence
        # aggregation is invariant to duplicate link rows, and the deduped
        # artifact is derived lazily on PipelineResult.exact_links
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    lexicon: DataFrame,
    vocab_map: dict[str, str],
    mrconso: DataFrame | None = None,
    mrsty: DataFrame | None = None,
    ancestors: DataFrame | None = None,
    with_similarity: bool = True,
    persist: bool = True,
    dims: LexiconDims | None = None,
    double_merge: bool = True,
    checkpoint_dir: str | None = None,
    assume_unique_turns: bool = True,
    context_channels: bool = False,
) -> PipelineResult:
    """Run the full transcripts→triples pipeline.

    ``persist=True`` (default) cuts the plan at the stage boundaries that
    are consumed by multiple downstream branches — mentions, exact links,
    mappings — via ``localCheckpoint(eager=False)``: this both caches the
    data AND truncates the logical plan. Truncation matters as much as
    caching: Catalyst re-analyzes the full accumulated tree on every
    DataFrame operation, and the compile/triple plans over the untruncated
    linking tree cost tens of seconds of pure analyzer time. On a cluster
    these same boundaries are where the checkpoint manifests write durable
    parquet instead (plans/checkpoint.py), which truncates lineage too.
    """
    dims = dims or LexiconDims.from_lexicon(lexicon, vocab_map)
    term_dim = dims.strings.select(F.col("CODE").alias("surface"))

    def _checkpoint(df: DataFrame, name: str) -> DataFrame:
        """Eager stage-boundary materialization + lineage truncation.

        ``checkpoint_dir`` set → durable compressed parquet (the cluster
        path: columnar, spill-free re-reads, survives executor loss);
        otherwise localCheckpoint to executor block managers
        (deserialized, memory-heavy — fine for small/medium inputs).
        """
        if checkpoint_dir:
            path = f"{checkpoint_dir}/{name}"
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)
        return df.localCheckpoint(eager=True)

    # ---- stage 1: mention detection -------------------------------------
    mentions = detect_mentions(transcripts, term_dim, MAX_TERM_TOKENS)
    if persist:
        # EAGER stage-boundary checkpoint. Lineage truncation must happen
        # before downstream plans are *constructed*, not just executed:
        # Catalyst re-analyzes the full subtree on every DataFrame call,
        # and with lazy truncation that analysis is single-threaded driver
        # time (measured ~47 s at 1M turns — it was the scaling-efficiency
        # killer, since it doesn't shrink with more cores). Eager
        # materialization converts it into parallel cluster work.
        mentions = _checkpoint(mentions, "mentions")

    # ---- stage 2: entity linking ----------------------------------------
    code_stack = _stack_code_mentions(mentions, vocab_map)
    umls_prepped = prepare_mrconso(mrconso, vocab_map) if mrconso is not None else None
    umls_strategy = "broadcast"
    if umls_prepped is not None and persist:
        # broadcast 3x (merge-1, merge-2, ananke) — localize once so those
        # broadcast builds need no cluster job (see linking.localize_dim).
        # A production-scale MRCONSO that exceeds the broadcast budget
        # falls back to persist() + SALTED shuffle joins: the fact side's
        # Zipf-skewed codes are spread over SALT_BUCKETS partitions.
        from omop2obo_spark.operators.linking import localize_dim_checked

        umls_prepped, fits = localize_dim_checked(umls_prepped, BROADCAST_DIM_MAX_ROWS)
        if not fits:
            umls_strategy = "salted"

    semtypes = None
    if umls_prepped is not None and mrsty is not None:
        umls_map = umls_annotate(
            code_stack.filter(F.col("CODE_COLUMN") == "TURN_CODE"),
            umls_prepped, mrsty, KEY_COLS, "CODE", double_merge=double_merge,
            dedup=False, strategy=umls_strategy, salt_buckets=SALT_BUCKETS,
        )
        # stack UMLS-derived codes back in (the reference's subsetter over
        # [code, UMLS_CODE, UMLS_CUI])
        umls_codes = umls_map.select(
            *KEY_COLS, F.col("UMLS_CODE").alias("CODE"),
            F.lit("UMLS_CODE").alias("CODE_COLUMN"), F.lit(2).alias("src_rank"),
        ).where(F.col("CODE").isNotNull())
        umls_cuis = umls_map.select(
            *KEY_COLS, F.col("UMLS_CUI").alias("CODE"),
            F.lit("UMLS_CUI").alias("CODE_COLUMN"), F.lit(3).alias("src_rank"),
        )
        # Deterministic min-rank dedup: the same (key, CODE, CODE_COLUMN)
        # arrives from several stack sources (a pure-CUI mention at
        # src_rank 1 AND one row per UMLS SAB at src_rank 3) — this groupBy
        # both pins the winner deterministically AND collapses the per-SAB
        # duplication before the dbxref/ananke joins multiply it.
        code_stack = (
            code_stack.unionByName(umls_codes).unionByName(umls_cuis)
            .groupBy(*KEY_COLS, "CODE", "CODE_COLUMN")
            .agg(F.min("src_rank").alias("src_rank"))
        )
        semtypes = ordered_concat_agg(
            umls_map.select(*KEY_COLS, "UMLS_CUI", "UMLS_SEM_TYPE"),
            KEY_COLS, ["UMLS_CUI", "UMLS_SEM_TYPE"], ["UMLS_CUI"],
        )

    # dedup=False throughout the hot path: every intermediate distinct here
    # is a fact-scale SHUFFLE whose effect the compile stage reproduces for
    # free (sorted first-occurrence concat + array_distinct + countDistinct
    # are all invariant to duplicate link rows). The deduplicated artifact
    # is still exposed on PipelineResult.exact_links below — lazily, so a
    # triples-only run never pays for it.
    dbx = dbxref_link(code_stack, dims, KEY_COLS, "concept", umls=umls_prepped, dedup=False)

    term_mentions = mentions.filter(F.col("kind") == "term")
    if context_channels:
        # synonym channel: a mention introduced by "also known as" is an
        # alternative clinical name — the transcript analog of the
        # reference's CONCEPT_SYNONYM input column. Per-mention cue check
        # (co-keyed join, no UDF); CODE_COLUMN drives both our evidence
        # formatting (OMOP_<LVL>_SYNONYM) and the reference packer.
        from omop2obo_spark.plans.mention import (
            SYNONYM_CUE_PHRASE,
            flag_phrase_context,
        )

        term_mentions = flag_phrase_context(
            transcripts, term_mentions, SYNONYM_CUE_PHRASE, "__syn_ctx"
        )
        code_col = F.when(F.col("__syn_ctx"), F.lit("MENTION_SYNONYM")).otherwise(
            F.lit("MENTION_LABEL")
        )
    else:
        code_col = F.lit("MENTION_LABEL")
    term_stack = term_mentions.select(
        *KEY_COLS, F.col("surface").alias("CODE"),
        code_col.alias("CODE_COLUMN"), F.lit(0).alias("src_rank"),
    )
    strs = exact_string_link(term_stack, dims, KEY_COLS, "concept", dedup=False)

    exact = dbx.unionByName(strs).withColumn("LEVEL", F.lit("concept"))
    if context_channels:
        # ancestor channel: a turn containing the family-history cue scopes
        # ALL its mentions to the hereditary context — the transcript analog
        # of the reference's clinical ANCESTOR_* input columns, whose codes/
        # strings run through the same linking tiers AT ancestor level (and,
        # exactly like the reference's ancestor channel, are NOT further
        # closure-expanded). Turn-scoped (an FH section governs its clause),
        # mirroring sectioned clinical notes.
        from omop2obo_spark.plans.mention import ANCESTOR_CUE_PHRASE

        fh = transcripts.select(
            "conv_id", "turn_idx",
            F.lower(F.col("text")).contains(ANCESTOR_CUE_PHRASE).alias("__fh"),
        )
        exact = exact.join(fh, on=["conv_id", "turn_idx"], how="left")
        is_fh = F.coalesce(F.col("__fh"), F.lit(False))
        exact = (
            exact.withColumn(
                "LEVEL", F.when(is_fh, F.lit("ancestor")).otherwise(F.col("LEVEL"))
            )
            .withColumn(
                "EVIDENCE",
                F.when(
                    is_fh, F.regexp_replace("EVIDENCE", "^CONCEPT_", "ANCESTOR_")
                ).otherwise(F.col("EVIDENCE")),
            )
            .withColumn(
                "CODE_COLUMN",
                F.when(
                    is_fh,
                    F.regexp_replace(
                        "CODE_COLUMN", "^(TURN|MENTION|CONCEPT)_", "ANCESTOR_"
                    ),
                ).otherwise(F.col("CODE_COLUMN")),
            )
            .drop("__fh")
        )
    # direct links (concept-level or ancestor-CHANNEL): surface maps to the
    # link's own URI, so their evidence always validates — unlike expanded
    exact = exact.withColumn("__expanded", F.lit(False))
    if ancestors is not None:
        # only concept-level rows expand through the closure: the ancestor
        # CHANNEL is already at its asserted level (reference parity — the
        # clinical ancestor columns are not re-expanded)
        exact = exact.unionByName(
            _expand_ancestors(
                exact.filter(F.col("LEVEL") == "concept"), ancestors, dims.labels
            )
        )
    if persist and with_similarity:
        # exact feeds two consumers only when the sim tier runs (compile +
        # the unlinked anti-join); with sim off it has a single consumer
        # and staying lazy lets Catalyst fuse the whole tail into one job.
        exact = _checkpoint(exact, "exact_links")

    # ---- stage 2e: TF-IDF similarity tier -------------------------------
    # idf is fit over ALL turn strings ∪ ontology strings — the reference
    # fits on the full clinical corpus (string_similarity.py:321-326), and
    # fitting on the raw transcripts keeps the (eager, driver-side) fit off
    # the expensive linking DAG. Scoring runs only over turns with no exact
    # link — at 10^12 turns the fuzzy tier is the fallback path, not a
    # second full pass (divergence from the reference, which scores every
    # row; exact-linked rows don't need fuzzy candidates for the graph).
    # Corpus statistics are fully distributed (distributed_query_stats):
    # the driver only collects document frequencies for the BOUNDED
    # ontology vocabulary; per-query l2 norms over the unbounded query
    # vocabulary stay Spark-side as a (doc_key, norm) table.
    sim_matches = None
    if with_similarity:
        all_queries = transcripts.select(
            "conv_id", "turn_idx",
            F.concat_ws(":", "conv_id", "turn_idx", F.lit("sim"), F.lit(0)).alias("mention_id"),
            preprocess_tokens_expr(F.col("text")).alias("tokens"),
        ).where(F.size("tokens") > 0)
        if persist:
            # tokenized turns feed two consumers (corpus stats + scoring);
            # checkpointing computes the preprocessing once AND truncates
            # its expression tree — the stopword alternation + lemma
            # exception map are large enough that every plan embedding
            # them pays seconds of driver-side codegen per plan shape
            all_queries = _checkpoint(all_queries, "sim_queries")
        ont_corpus = build_ont_corpus(lexicon)
        norms, ont_vocab_df, n_docs = distributed_query_stats(all_queries, ont_corpus)
        model = fit_tfidf_ont_vocab(ont_corpus, ont_vocab_df, n_docs)

        linked_turns = exact.select("conv_id", "turn_idx").distinct()
        unlinked = all_queries.join(
            linked_turns, on=["conv_id", "turn_idx"], how="left_anti"
        ).withColumn("__k", F.md5(F.concat_ws("\x01", F.col("tokens"))))
        # score each DISTINCT unlinked document once, not once per turn:
        # agent transcripts repeat text heavily (tool banners, templated
        # turns), and score/top-k/percentile/rank depend only on the token
        # multiset — so the whole scoring+filter tier runs at distinct-doc
        # cardinality and the per-turn fan-out is a single key join after.
        distinct_unl = (
            unlinked.select("__k", "tokens")
            .dropDuplicates(["__k"])
            .join(norms.withColumnRenamed("k", "__k"), on="__k", how="left")
        )
        raw_scores = similarity_scores(
            spark, distinct_unl, model, id_col="__k", top_n=SIM_TOP_N,
            floor=SIM_FLOOR, norm_col="norm",
        )
        key_matches = filter_similarity_matches(
            raw_scores, percentile=SIM_PERCENTILE
        ).withColumnRenamed("mention_id", "__k")
        sim_matches = key_matches.join(
            unlinked.select("__k", *KEY_COLS), on="__k", how="inner"
        ).select(*KEY_COLS, "sim_uri", "score", "rank")

    # ---- stage 3: canonicalization --------------------------------------
    leftover_caches: list[DataFrame] = []
    mappings = compile_mappings(exact, sim_matches, dims.labels, KEY_COLS, COMPILE_THRESHOLD)
    if persist and with_similarity:
        mappings = _checkpoint(mappings, "mappings")
        # the eager checkpoint has fully executed the similarity scoring,
        # so the corpus-stats caches inside distributed_query_stats are
        # done serving the hot path; release the executor memory (a later
        # re-read of PipelineResult.sim_matches just recomputes)
        for cached in getattr(norms, "cached_inputs", []):
            cached.unpersist()
    elif with_similarity:
        # persist=False: the stats caches are still referenced by the lazy
        # sim/mapping plans — hand them to the caller for release after
        # execution instead of leaking them for the session's lifetime
        leftover_caches = list(getattr(norms, "cached_inputs", []))

    # ---- stage 4: triple materialization ---------------------------------
    triples = build_triples(mentions, mappings, semtypes, assume_unique_turns)

    return PipelineResult(
        mentions=mentions,
        # the deduplicated stage artifact (reference P2 boundary semantics);
        # lazy — only executed if a consumer actually reads exact_links
        exact_links=exact.dropDuplicates(),
        sim_matches=sim_matches,
        semtypes=semtypes,
        mappings=mappings,
        triples=triples,
        cached_inputs=leftover_caches,
    )


def build_triples(
    mentions: DataFrame,
    mappings: DataFrame,
    semtypes: DataFrame | None,
    assume_unique_turns: bool = True,
) -> DataFrame:
    """Explode canonical mappings into (subj, pred, obj) rows.

    Subjects are stable mention entities ``transcript:<mention_id>``;
    conv_id/turn_idx ride along as partition/order columns (the north
    rule's stable (conv_id, turn_idx) ordering).

    ``assume_unique_turns`` declares the input contract that
    ``(conv_id, turn_idx)`` is the transcript table's primary key (it is
    for the Iceberg source and every fixture). Under that contract
    mentionOf/semtype rows are unique by construction and stay OUT of the
    distinct shuffle (~1/3 of triple volume). Pass ``False`` for
    dirty inputs (e.g. raw PERMISSIVE JSONL with possible duplicate turn
    rows): the mention/semtype families then join the global distinct, so
    the output is a set regardless of input duplication.
    """
    subj = F.concat(F.lit("transcript:"), F.col("mention_id"))

    # One pass over mappings: build an array<struct<pred,obj>> per row and
    # explode ONCE. Unioning per-block plan copies instead would make
    # Catalyst re-analyze the (deep) mapping plan per branch — measured at
    # ~30 s of pure analyzer time on the sandbox before this rewrite.
    def block_pairs(uri_col: str, cat_col: str, evid_col: str, pred_exact: str):
        pred = (
            F.when(F.col(cat_col).startswith("Automatic Constructor"), F.lit(PRED_CONSTRUCTOR))
            .when(F.col(cat_col) == "Manual Exact - Concept Similarity", F.lit(PRED_SIMILARITY))
            .otherwise(F.lit(pred_exact))
        )
        present = F.col(uri_col).isNotNull() & (F.col(uri_col) != "")
        uri_pairs = F.transform(
            F.split(F.col(uri_col), r" \| "),
            lambda u: F.struct(pred.alias("pred"), F.concat(F.lit("obo:"), u).alias("obj")),
        )
        meta_pairs = F.array(
            F.struct(F.lit(PRED_CATEGORY).alias("pred"), F.col(cat_col).alias("obj")),
            F.struct(F.lit(PRED_EVIDENCE).alias("pred"), F.col(evid_col).alias("obj")),
        )
        return F.when(present, F.concat(uri_pairs, meta_pairs)).otherwise(
            F.array().cast("array<struct<pred:string,obj:string>>")
        )

    cols = set(mappings.columns)
    pair_arrays = []
    if "AGG_URI" in cols:
        pair_arrays.append(block_pairs("AGG_URI", "AGG_MAPPING", "AGG_EVIDENCE", PRED_EXACT))
    if "SIM_URI" in cols:
        pair_arrays.append(block_pairs("SIM_URI", "SIM_MAPPING", "SIM_EVIDENCE", PRED_SIMILARITY))
    all_pairs = pair_arrays[0] if len(pair_arrays) == 1 else F.concat(*pair_arrays)
    parts = [
        mappings.select(
            "conv_id", "turn_idx", subj.alias("subj"), F.explode(all_pairs).alias("p")
        ).select("conv_id", "turn_idx", "subj", "p.pred", "p.obj")
    ]

    # Under the (conv_id, turn_idx)-primary-key contract the distinct
    # shuffle covers ONLY the mapping-derived triples (the one family that
    # can emit duplicates — same category/evidence/constructor obj across a
    # mention's per-ontology blocks). mentionOf rows are unique by
    # construction (one per mention; longest-match keeps a single span per
    # (turn, pos)) and semtype rows are one-per-mention aggregate output;
    # both use predicates disjoint from the mapping family, so unioning
    # them AFTER the distinct is set-identical to a global distinct while
    # keeping ~1/3 of the triple volume out of the shuffle and fully
    # pipelined from the mention checkpoint. With assume_unique_turns=False
    # they union BEFORE it (global distinct — duplicate turn rows collapse).
    mention_triples = mentions.select(
        "conv_id", "turn_idx",
        F.concat(F.lit("transcript:"), F.col("mention_id")).alias("subj"),
        F.lit(PRED_MENTION_OF).alias("pred"),
        F.concat(F.lit("transcript:"), F.col("conv_id"), F.lit(":"), F.col("turn_idx")).alias("obj"),
    )
    parts.append(mention_triples)
    if semtypes is not None:
        parts.append(
            semtypes.filter(F.col("UMLS_SEM_TYPE") != "").select(
                "conv_id", "turn_idx",
                F.concat(F.lit("transcript:"), F.col("mention_id")).alias("subj"),
                F.lit(PRED_SEMTYPE).alias("pred"),
                F.col("UMLS_SEM_TYPE").alias("obj"),
            )
        )

    if assume_unique_turns:
        out = parts[0].dropDuplicates(["subj", "pred", "obj"])
        for p in parts[1:]:
            out = out.unionByName(p)
    else:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.dropDuplicates(["subj", "pred", "obj"])
    return out

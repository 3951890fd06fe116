"""Physical-plan assertions: the shapes that make the pipeline scale are
pinned here so a regression (a dictionary join degrading to sort-merge, a
lost parquet filter pushdown) fails loudly instead of silently costing a
shuffle at 100 TB."""

from pyspark.sql import functions as F

from omop2obo_spark import fixtures as FX
from omop2obo_spark.fixtures.generators import transcripts_df, vocab_map_dict
from omop2obo_spark.plans.pipeline import run_pipeline

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kg_pipeline_joins_all_broadcast(spark):
    """Every dictionary join in the exact-tier pipeline must be a
    broadcast-hash join — no sort-merge join may appear anywhere in the
    triples plan (the fact table shuffles only at the compile groupBy and
    the triple distinct)."""
    tr = transcripts_df(spark, n_convs=20, turns_per_conv=5)
    res = run_pipeline(
        spark, tr, FX.lexicon_df(spark), vocab_map_dict(),
        mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
        ancestors=FX.ancestors_df(spark), with_similarity=False, persist=False,
    )
    plan = _plan(res.triples)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    # dimension builds are LocalTableScans (no job per broadcast site)
    assert "LocalTableScan" in plan


def test_link_dimension_above_broadcast_budget_joins_salted(spark, monkeypatch):
    """A link dimension above BROADCAST_DIM_MAX_ROWS is joined through
    joins.salted_join (a shuffle on the lookup key plus ``__salt``), with
    the same triples as the broadcast lookup."""
    from omop2obo_spark.plans import pipeline

    tr = transcripts_df(spark, n_convs=20, turns_per_conv=5)

    def run():
        return run_pipeline(
            spark, tr, FX.lexicon_df(spark), vocab_map_dict(),
            mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
            ancestors=FX.ancestors_df(spark), with_similarity=False, persist=False,
        ).triples

    def triple_set(df):
        return {tuple(r) for r in df.select("subj", "pred", "obj").collect()}

    broadcast = triple_set(run())
    monkeypatch.setattr(pipeline, "BROADCAST_DIM_MAX_ROWS", 1)
    # the persisted dimension is tiny: keep the planner from broadcasting it
    # anyway, as it could not at the size that triggers the fallback
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = run()
        plan = _plan(salted)
        # a shuffle join keyed on the link key and the salt
        assert any(
            ("SortMergeJoin" in line or "ShuffledHashJoin" in line)
            and "LINK_KEY" in line and "__salt" in line
            for line in plan.splitlines()
        ), plan
        assert triple_set(salted) == broadcast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_context_channel_pipeline_plan_stays_scale_safe(spark):
    """The r5 context channels must not change the pipeline's scale shape:
    with ``context_channels=True`` (synonym-cue flagging + FH relabel +
    cross-ontology overlay expansion) the triples plan still has zero
    sort-merge joins, zero nested-loop joins, and zero row-at-a-time
    Python evals — the cue checks are codegen array ops inside the
    existing co-keyed joins, and the relabel is pure CASE expressions."""
    from omop2obo_spark.fixtures import lexicon_data as L
    from omop2obo_spark.plans.guard import plan_report

    tr = transcripts_df(spark, n_convs=20, turns_per_conv=5)
    ancestors = FX.ancestors_df(spark).unionByName(
        spark.createDataFrame(
            L.cross_ontology_overlay(), "uri string, ancestor_uri string"
        )
    )
    res = run_pipeline(
        spark, tr, FX.lexicon_df(spark), vocab_map_dict(),
        mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
        ancestors=ancestors, with_similarity=False, persist=False,
        context_channels=True,
    )
    rep = plan_report(res.triples)
    assert rep["sort_merge_joins"] == 0, rep
    assert rep["nested_loop_joins"] == 0, rep
    assert rep["row_python_evals"] == 0, rep
    assert rep["broadcast_joins"] > 0, rep


def test_parquet_filter_pushdown(spark):
    """A doc_id predicate must reach the parquet scan as a pushed filter,
    not a post-scan Filter over a full read."""
    # earlier test modules cache this path; a cached plan resolves to an
    # InMemoryRelation and hides the scan-level pushdown being asserted
    spark.catalog.clearCache()
    df = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < 100)
    plan = _plan(df.select("doc_id"))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan or \
           "LessThan(doc_id,100)" in plan, plan
    # column pruning: the text column must not be read for a doc_id-only projection
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_compile_single_shuffle(spark):
    """The canonicalization stage contributes exactly ONE exchange keyed on
    the high-cardinality mention key (plus the final distinct) — no window
    pre-pass, no per-ontology loop shuffles."""
    from omop2obo_spark.operators.compile import compile_exact_mappings

    links = spark.createDataFrame(
        [("c1", 0, "m1", "code", "TURN_CODE", "http://purl.obolibrary.org/obo/HP_1",
          "HP", "lbl", "CONCEPT_DBXREF_x", "dbxref", "DbXref", 0, 0, "concept")],
        "conv_id string, turn_idx int, mention_id string, CODE string, CODE_COLUMN string, "
        "URI string, ONT_TYPE string, LABEL string, EVIDENCE string, MATCH_KIND string, "
        "MATCH_SUBTYPE string, src_rank int, tier_rank int, LEVEL string",
    )
    out = compile_exact_mappings(links, ["conv_id", "turn_idx", "mention_id"])
    plan = _plan(out)
    # exactly one shuffle exchange in the compile subtree
    assert plan.count("Exchange") == 1, plan


def test_range_join_never_nested_loop(spark):
    """The bucketized interval join must plan as an equi hash/merge join —
    a BroadcastNestedLoopJoin or CartesianProduct here is the quadratic
    plan the operator exists to avoid."""
    from omop2obo_spark.operators.temporal import range_join

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id", "ts", "event_type")
    w = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("wu"), F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("t1"),
    )
    plan = _plan(range_join(ev, w, "user_id", "wu", "ts", "t0", "t1", bucket_sec=7200))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_asof_join_single_shuffle(spark):
    """The as-of join is one window over the unioned stream: exactly one
    Exchange (plus AQE reads), no join operator at all."""
    from omop2obo_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id", "ts")
    st = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").alias("su"), F.col("ts").alias("sts"), F.col("value").alias("v")
    )
    plan = _plan(asof_join(ev, st, "user_id", "su", "ts", "sts", ["v"]))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_curation_filters_native_no_python(spark):
    """The language/quality/sampling stages of the curation funnel are
    pure native expressions — any Python eval node here would put a
    per-row interpreter in the corpus scan path."""
    from omop2obo_spark.operators.textstats import hash_sample, lang_id, quality_features

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    staged = quality_features(lang_id(docs)).filter(
        (F.col("lang_pred") == "en") & (F.col("q_tokens") >= 5)
    )
    sampled = hash_sample(staged, 0.5)
    plan = _plan(sampled)
    assert "EvalPython" not in plan, plan          # Batch/ArrowEvalPython
    assert "Exchange" not in plan, plan            # filter chain: zero shuffles


def test_keep_canonical_broadcast_anti_join(spark):
    """dedup_keep_canonical must broadcast the (tiny) non-head set and
    anti-join — the corpus side must not shuffle."""
    from omop2obo_spark.operators.dedup import dedup_keep_canonical

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clusters = spark.createDataFrame([(5, 1), (1, 1)], "doc_id long, component long")
    plan = _plan(dedup_keep_canonical(docs, clusters))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_chunk_and_fingerprint_single_shuffle(spark):
    """Conversation chunking and conversation fingerprinting are one
    conv_id shuffle each — chunk fan-out happens inside the row via
    sequence+explode, never a second exchange."""
    from omop2obo_spark.operators.chunk import chunk_turns

    tr = spark.createDataFrame(
        [("c1", i, f"t{i}") for i in range(6)], "conv_id string, turn_idx int, text string"
    )
    plan = _plan(chunk_turns(tr, window=3, stride=2))
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan, plan


def test_pack_sequences_single_shuffle_per_bucket_group(spark):
    """Packing is one hash-partition exchange on bucket feeding the
    Arrow-grouped pandas stage — the sequential greedy pass is the ONLY
    Python in the plan."""
    from omop2obo_spark.operators.pack import pack_sequences

    docs = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("n_tokens")
    )
    plan = _plan(pack_sequences(docs, budget=10, n_buckets=4))
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_conversation_stats_single_shuffle(spark):
    """The lag window and the final aggregation of conversation_stats
    both key on conv_id, so Catalyst must plan exactly ONE hash exchange
    (the groupBy reuses the window's partitioning)."""
    from omop2obo_spark.operators.transcript import conversation_stats

    tr = transcripts_df(spark, n_convs=20, turns_per_conv=6)
    plan = _plan(conversation_stats(tr))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_repetition_signals_two_shuffles_no_join(spark):
    """repetition_signals is one tagged-union stream: a partial-aggregated
    count on (doc, kind, value) plus the per-doc rollup — two exchanges,
    and never a join back to the corpus."""
    from omop2obo_spark.operators.textstats import repetition_signals

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repetition_signals(docs))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan, plan


def test_contamination_benchmark_vocab_broadcast(spark):
    """contamination_check: the benchmark gram vocabulary must broadcast
    (the corpus gram stream joins map-side); the only hash exchange is
    the per-doc aggregation."""
    from omop2obo_spark.operators.curate import contamination_check

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    plan = _plan(contamination_check(docs, bench, n=8))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # corpus side: exactly one wide exchange, the per-doc aggregation
    # (the benchmark-side distinct shuffles too, but only inside the
    # dimension-sized broadcast build)
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan


def test_paragraph_dedup_no_window_on_paragraph_key(spark):
    """paragraph_dedup: winner selection must be an aggregation (map-side
    combined), never a Window over the normalized-paragraph key — a
    corpus-wide footer would make that window a one-partition straggler."""
    from omop2obo_spark.operators.curate import paragraph_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(paragraph_dedup(docs))
    assert "Window" not in plan, plan
    # partial aggregation on the reduce side of the winner groupBy
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan


def test_stratified_sample_no_shuffle(spark):
    """stratified_sample: pure narrow plan — CASE + md5 bucket +
    sequence/explode; zero exchanges, zero joins."""
    from omop2obo_spark.operators.textstats import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source")
    plan = _plan(stratified_sample(docs, {"src0": 0.0, "src1": 2.5}))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_sft_spans_single_shuffle(spark):
    """sft_spans: one conv_id hash exchange shared by the cumulative
    window; nothing else moves."""
    from omop2obo_spark.fixtures.generators import transcripts_from_documents
    from omop2obo_spark.operators.transcript import sft_spans

    tr = transcripts_from_documents(spark, SF)
    plan = _plan(sft_spans(tr))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sameas_bridge_single_shuffle_no_self_join(spark):
    """The sameAs bridge shuffles once on the code key (groupBy +
    collect_set) plus the final pair aggregation — the pair expansion is
    an in-row explode, never a join of the dbxref table with itself."""
    from omop2obo_spark.operators.hierarchy import sameas_bridge

    dim = spark.createDataFrame(
        [("http://purl.obolibrary.org/obo/HP_1", "hp", "snomed:1"),
         ("http://purl.obolibrary.org/obo/MONDO_1", "mondo", "snomed:1")],
        "uri string, ont string, code string",
    )
    plan = _plan(sameas_bridge(dim))
    assert "Join" not in plan, plan
    # distinct + groupBy(code) + groupBy(pair): bounded, join-free
    assert plan.count("Exchange") <= 3, plan


def test_pagerank_broadcasts_rank_vector_edges_never_sort_merge(spark):
    """Each PageRank iteration joins the edge table against the broadcast
    rank/degree vectors — the edge side must never enter a sort-merge
    join (at 100 TB the edge table is fact-scale; re-sorting it per
    iteration would dominate)."""
    from omop2obo_spark.operators.hierarchy import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "ent_a string, ent_b string"
    )
    plan = _plan(pagerank(edges, iterations=2, checkpoint=False))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ntriple_lines_no_exchange(spark):
    """Serialization is a pure projection: the N-Triples plan adds no
    shuffle over the triple scan."""
    from omop2obo_spark.sources.export import ntriple_lines

    triples = spark.createDataFrame(
        [("obo:A", "owl:sameAs", "obo:B")], "subj string, pred string, obj string"
    )
    plan = _plan(ntriple_lines(triples))
    assert "Exchange" not in plan, plan


def test_quantized_topk_broadcasts_query_side_no_python(spark):
    """The int8 ranking scan must broadcast the (small) query side and
    stay fully native — no Python/Arrow eval node, no sort-merge join:
    at 100 TB the vector table is the scan and must never shuffle."""
    from omop2obo_spark.operators.ann import quantized_topk

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, -0.5]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    queries = vecs.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(quantized_topk(vecs, queries, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_k_hop_frontier_broadcast_edges_never_sort_merge(spark):
    """Each BFS round joins the edge table against the broadcast
    frontier; the edge table must never enter a sort-merge join (it is
    fact-scale at 100 TB and would be re-sorted per round)."""
    from omop2obo_spark.operators.hierarchy import k_hop

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "ent_a string, ent_b string"
    )
    seeds = spark.createDataFrame([("a",)], "ent string")
    plan = _plan(k_hop(edges, seeds, k=2, checkpoint=False))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_triple_diff_anti_joins_counts_partial(spark):
    """The graph diff is two anti-joins plus per-predicate counts with
    map-side partial aggregation (partial_count before the exchange)."""
    from omop2obo_spark.operators.hierarchy import triple_diff

    t = spark.createDataFrame(
        [("s", "p", "o")], "subj string, pred string, obj string"
    )
    plan = _plan(triple_diff(t, t))
    assert "partial_count" in plan or "partial count" in plan, plan


def test_triple_validity_projects_before_join(spark, tmp_path):
    """The transcript side of the validity join must be pruned to
    (conv_id, turn_idx, ts) AT THE SCAN — at 10^12 turns the text column
    must never leave the parquet reader, let alone ride the turn-key
    exchange."""
    from datetime import datetime

    from omop2obo_spark.operators.temporal import triple_validity

    src = str(tmp_path / "tr.parquet")
    spark.createDataFrame(
        [("c1", 0, "user", "some long text payload", None, datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.parquet(src)
    tr = spark.read.parquet(src)
    tp = spark.createDataFrame(
        [("c1", 0, "s", "p", "o")],
        "conv_id string, turn_idx int, subj string, pred string, obj string",
    )
    plan = _plan(triple_validity(tp, tr))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and all("text" not in ln.split("ReadSchema")[1] for ln in scan), plan


def test_set_similarity_join_never_full_shingle_self_join(spark):
    """The candidate join must read from the prefix (rank-filtered)
    side, so a row_number Window must appear upstream of the self-join;
    and the verify join must be candidate-driven (cand pairs joined to
    shingles), never a second full shingle-shingle join."""
    from omop2obo_spark.operators.dedup import prefix_filter_jaccard_join

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta") for i in range(10)],
        "doc_id int, text string",
    )
    plan = _plan(prefix_filter_jaccard_join(docs, threshold=(1, 2)))
    assert "row_number" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_label_propagation_broadcasts_labels_edges_never_sort_merge(spark):
    """Each LPA round must broadcast the label vector against the
    adjacency — the fact-scale edge table must not be sort-merged or
    re-sorted per round."""
    from omop2obo_spark.operators.hierarchy import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "ent_a string, ent_b string"
    )
    plan = _plan(label_propagation(edges, iterations=2))
    assert "SortMergeJoin" not in plan, plan


def test_detect_mentions_null_turn_key_and_unicode_parity(spark):
    """The Arrow scan drops NULL turn keys and matches its declarative
    reference (code ∪ term mentions over the key-filtered input); the
    ASCII \\b flag keeps code extraction identical across the two on
    accented text; a NaN-poisoned batch must not float-render turn ids."""
    from omop2obo_spark.plans.mention import (
        detect_code_mentions,
        detect_mentions,
        detect_term_mentions,
    )

    tr = spark.createDataFrame(
        [
            ("c1", 1, "fever snomed:123 found"),
            ("c1", None, "snomed:999 orphan"),
            ("c2", 2, "naïve:abc accent case"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    term_dim = spark.createDataFrame([("fever",)], "surface string")
    keyed = tr.filter(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
    reference = detect_code_mentions(keyed).unionByName(detect_term_mentions(keyed, term_dim))
    outs = {
        name: sorted((r.conv_id, r.turn_idx, r.mention_id, r.kind, r.surface)
                     for r in df.collect())
        for name, df in (("arrow", detect_mentions(tr, term_dim)), ("sql", reference))
    }
    assert outs["arrow"] == outs["sql"]
    ids = [m for (_c, _t, m, _k, _s) in outs["arrow"]]
    assert all(":None:" not in m and "nan" not in m and ".0" not in m for m in ids)
    assert not any(c == "c1" and t is None for (c, t, _m, _k, _s) in outs["arrow"])


def test_epoch_shuffle_no_global_sort(spark):
    """epoch_shuffle's only unbounded-window input is the n_buckets-row
    offset dimension: the corpus side must never see a single-partition
    Exchange or a global Sort, and the offsets must come back as a
    broadcast join."""
    from omop2obo_spark.operators.pack import epoch_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    plan = _plan(epoch_shuffle(docs, epoch=0, n_buckets=32))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # exactly one SinglePartition exchange: the tiny per-bucket-counts dim
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_preference_pairs_partial_aggregate_and_no_window(spark):
    """preference_pairs must plan the prompt-key reduction as a partial
    (map-side) aggregate — the hot-template-prompt defense — and never as
    a window; the prompt/response pairing is the plan's only join."""
    from omop2obo_spark.operators.transcript import preference_pairs

    tr = transcripts_df(spark, n_convs=20, turns_per_conv=6)
    plan = _plan(preference_pairs(tr, F.length("text")))
    assert "Window" not in plan, plan
    # partial_ min/max on the candidate struct before the key exchange
    assert "partial_" in plan and ("partial_max" in plan or "partial_min" in plan), plan


def test_skew_profile_takeordered_no_full_sort(spark):
    """skew_profile's top-n must compile to TakeOrderedAndProject
    (per-partition heaps + an n-row driver merge), never a global Sort."""
    from omop2obo_spark.operators.joins import skew_profile

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(skew_profile(ev, "user_id", top_n=5))
    assert "TakeOrderedAndProject" in plan, plan


def test_mad_outliers_fact_table_never_reshuffles(spark):
    """mad_outlier_flags: the two percentile dims come back as broadcast
    joins; the fact table itself must plan zero hash exchanges (the only
    exchanges feed the grouped percentile aggregates)."""
    from omop2obo_spark.operators.curate import mad_outlier_flags

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(mad_outlier_flags(docs, "n_chars", ["source"]))
    assert "SortMergeJoin" not in plan, plan
    # 3 broadcast joins: med + mad onto the fact, and med again inside the
    # deviation aggregate feeding mad; every Exchange keys the tiny grouped
    # percentile dims, never the fact table
    assert plan.count("BroadcastHashJoin") == 3, plan


def test_plan_guard_report_and_budgets(spark):
    """plans.guard: the public face of these plan assertions — report
    counts match the pinned shapes, budget violations raise with the
    offending counts, legitimate exceptions pass when budgeted."""
    from omop2obo_spark.operators.pack import epoch_shuffle
    from omop2obo_spark.plans.guard import assert_scale_safe, plan_report

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    # a clean aggregate: one hash exchange, nothing forbidden
    agg = docs.groupBy("source").count()
    rep = plan_report(agg)
    assert rep["hash_exchanges"] == 1 and rep["single_partition_exchanges"] == 0
    assert assert_scale_safe(agg) == rep

    # a cross join trips the nested-loop budget, and the error names it
    import pytest as _pytest

    cross = docs.crossJoin(docs.select(F.col("doc_id").alias("d2")))
    with _pytest.raises(AssertionError, match="nested_loop_joins=1"):
        assert_scale_safe(cross)

    # global sort: range exchange reported, single-partition budget clean
    assert plan_report(docs.orderBy("doc_id"))["range_exchanges"] == 1

    # the two-level prefix sum needs exactly its documented exception
    es = epoch_shuffle(docs.select("doc_id"), epoch=0, n_buckets=16)
    with _pytest.raises(AssertionError, match="single_partition_exchanges=1"):
        assert_scale_safe(es)
    rep2 = assert_scale_safe(es, max_single_partition_exchanges=1)
    assert rep2["broadcast_joins"] >= 1 and rep2["sort_merge_joins"] == 0

    # row-at-a-time Python UDF is flagged; Arrow is sanctioned
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x, LongType())
    with _pytest.raises(AssertionError, match="row_python_evals=1"):
        assert_scale_safe(docs.select(slow("doc_id").alias("d")))


def test_rdfs_entail_schema_broadcast_instance_single_pass(spark):
    """Every reasoner rule join must broadcast the closed schema — no
    sort-merge join and no fact-scale iteration may appear in the
    entailment plan; the one fact-scale exchange is the final triple
    dedup."""
    import __spark_entry__ as entry

    df = entry.queries()["q_rdfs_entail"](spark, SF)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_shacl_validate_shapes_broadcast_no_sort_merge(spark):
    """Shape and type-target joins broadcast; the only fact-scale
    shuffle is the cardinality count (hash aggregate), never a
    sort-merge join."""
    import __spark_entry__ as entry

    df = entry.queries()["q_shacl_validate"](spark, SF)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_dsir_sample_takeordered_no_global_sort(spark):
    """The Gumbel-top-k must compile to TakeOrderedAndProject; the rank
    window runs over the k survivors only (a single bounded partition),
    and a global Sort exchange must not appear before the take."""
    import __spark_entry__ as entry

    df = entry.queries()["q_dsir_sample"](spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_set_prf_no_nested_loop_single_expand(spark):
    """set_prf must compare sets via a key-partitioned full-outer join
    (never a nested loop) and one rollup Expand; the composite triple
    identity is the join key on both sides."""
    from omop2obo_spark.operators.analysis import set_prf

    a = spark.createDataFrame(
        [("s%d" % i, "p%d" % (i % 3), "o%d" % i) for i in range(50)],
        "subj string, pred string, obj string",
    )
    b = spark.createDataFrame(
        [("s%d" % i, "p%d" % (i % 3), "o%d" % i) for i in range(0, 50, 2)],
        "subj string, pred string, obj string",
    )
    plan = _plan(set_prf(a, b))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Expand") == 1, plan


def test_retrieval_metrics_composite_key_join_no_cartesian(spark):
    """The hits join must key on (query, item) — no cartesian, no
    nested loop; corpus items never join unkeyed."""
    from omop2obo_spark.operators.ann import retrieval_metrics

    ranked = spark.createDataFrame(
        [(q, i, r + 1) for q in range(5) for r, i in enumerate(range(q, q + 5))],
        "query_id int, vec_id int, rank int",
    )
    qrels = spark.createDataFrame(
        [(q, q + 1, 2) for q in range(5)], "query_id int, vec_id int, rel int"
    )
    plan = _plan(retrieval_metrics(ranked, qrels, k=5))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A fact table partitioned on the join column must be pruned at
    RUNTIME by a selective dim filter (dynamic partition pruning): the
    scan's partition filters carry a dynamicpruning subquery instead of
    reading all partitions. This is the mechanism that lets a dim-side
    WHERE clause skip fact partitions at 100 TB without a static
    predicate."""
    fact = spark.range(0, 1000).selectExpr(
        "id AS k", "pmod(id, 5) AS part", "id * 2 AS v"
    )
    path = str(tmp_path / "fact_parted")
    fact.write.partitionBy("part").mode("overwrite").parquet(path)
    f = spark.read.parquet(path)
    dim = spark.range(0, 5).selectExpr("id AS part", "concat('d', id) AS name")
    sel = dim.filter("part = 3")
    joined = f.join(sel, "part")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan or "PartitionFilters: [isnotnull(part" in plan, plan
    # and the result only reads the single surviving partition
    assert joined.count() == 200


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's runtime skew-join handling — the first line of defense
    before the manual salted_join — must actually fire on a Zipf-hot
    key: the executed plan's shuffle read shows the skewed split
    (AQEShuffleRead skewed / skew=true). Thresholds are lowered to make
    the 32KB-scale fixture cross the same relative bar a 100 TB hot
    partition crosses in production."""
    from omop2obo_spark.session import get_spark

    s = get_spark(app_name="omop2obo-tests", master="local[8]", shuffle_partitions=8)
    # runtime SQL confs apply to the SHARED session: save + restore, or
    # the lowered thresholds / disabled broadcasts poison later tests
    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: s.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            s.conf.set(k, v)
        big = s.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("padpadpadpadpadpadpadpadpad-"), F.col("id")).alias("v"),
        )
        dim = s.range(0, 1000).select(F.col("id").alias("k"), F.lit("d").alias("w"))
        j = big.join(dim, "k").select(F.substring("v", 1, 4).alias("s"))
        assert len(j.collect()) == 300_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan or "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                s.conf.unset(k)
            else:
                s.conf.set(k, v)


def test_edit_distance_join_no_cartesian_on_long_strings(spark):
    """When every string clears the short cutoff, the ED-Join plan must
    be pure equi-joins (gram prefix collisions + verify joins) — no
    cartesian/nested-loop anywhere. The bounded short×short block is the
    only legitimate nested-loop site and must stay empty-side here."""
    from omop2obo_spark.operators.dedup import edit_distance_join

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.substring("text", 1, 20).alias("text")
    )
    plan = _plan(edit_distance_join(docs, max_dist=2))
    assert "CartesianProduct" not in plan, plan


def test_rolling_range_agg_single_shuffle(spark):
    """The rolling RANGE window is one Exchange on the key — no join, no
    extra shuffle."""
    from omop2obo_spark.operators.temporal import rolling_range_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(rolling_range_agg(ev))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_length_bucket_stats_boundary_is_broadcast(spark):
    """The quantile boundary vector must come back as a 1-row broadcast
    (BroadcastNestedLoopJoin over a single-row dim), never a shuffle
    join or a global sort of the corpus."""
    from omop2obo_spark.operators.pack import length_bucket_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(length_bucket_stats(docs, n_buckets=8))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "GlobalSort" not in plan and "rangepartitioning" not in plan, plan


def test_token_pmi_no_quadratic_join(spark):
    """Pair generation must be the offset EQUI-join — no nested-loop/
    cartesian anywhere except the 1-row totals cross join."""
    from omop2obo_spark.operators.textstats import token_pmi
    from omop2obo_spark.plans.guard import plan_report

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    r = plan_report(token_pmi(docs, window=2, min_count=5))
    assert r["nested_loop_joins"] <= 1, r     # the broadcast totals row
    assert r["row_python_evals"] == 0, r


def test_sorted_neighborhood_no_global_sort(spark):
    """The global rank must come from the two-level prefix scaffold,
    never a corpus range-sort: the visible plan (downstream of the
    checkpointed rank table) is pure equi/broadcast pairing with no
    range partitioning; the scaffold's own offset-dim window is the
    documented n_buckets-row single-partition exception and runs in
    the checkpoint job."""
    from omop2obo_spark.operators.er import sorted_neighborhood_pairs
    from omop2obo_spark.plans.guard import plan_report

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.substring(F.lower(F.col("text")), 1, 12).alias("bkey")
    )
    r = plan_report(sorted_neighborhood_pairs(d, "bkey", window=3))
    assert r["range_exchanges"] == 0, r
    assert r["single_partition_exchanges"] <= 1, r
    assert r["sort_merge_joins"] == 0 and r["nested_loop_joins"] == 0, r


def test_winsorize_fact_never_reshuffles(spark):
    """One hash exchange total — the grouped quantile dim; the fact side
    reaches the output through a broadcast join only."""
    from omop2obo_spark.operators.curate import winsorize
    from omop2obo_spark.plans.guard import plan_report

    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    r = plan_report(winsorize(e, "value", ["event_type"]))
    assert r["hash_exchanges"] <= 1, r
    assert r["sort_merge_joins"] == 0, r


def test_scan_report_pushdown_and_pruning(spark):
    """scan_report must show the filter reaching the parquet scan and
    the column set pruned to the projection — the two properties that
    decide scan cost at 100 TB."""
    from omop2obo_spark.plans.guard import scan_report

    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "source")
    )
    scans = scan_report(df)
    assert len(scans) == 1, scans
    s = scans[0]
    assert "LessThan(doc_id,100)" in s["pushed_filters"], s
    cols = {c.split(":")[0] for c in s["read_schema"].split(",")}
    assert cols == {"doc_id", "source"}, s
    # a full-width scan reads everything — the report makes that visible
    wide = scan_report(spark.read.parquet(f"{SF}/documents.parquet"))
    assert len({c.split(":")[0] for c in wide[0]["read_schema"].split(",")}) == 5

"""Operator tests mirroring the reference's own frame-manipulation suite
(/root/reference/tests/test_data_utils.py:97-163, :202-229): same input
shapes, same expected row/column counts, including the column_splitter
cross-product quirk (13 rows from 5)."""

from pyspark.sql import functions as F

from omop2obo_spark.fixtures import lexicon_df, mrconso_df, mrsty_df
from omop2obo_spark.fixtures.generators import vocab_map_dict
from omop2obo_spark.operators.aggregate import grouped_pivot_agg, ordered_concat_agg
from omop2obo_spark.operators.joins import salted_join
from omop2obo_spark.operators.linking import (
    LexiconDims,
    dbxref_link,
    exact_string_link,
    prepare_mrconso,
    umls_annotate,
)
from omop2obo_spark.operators.reshape import (
    split_explode_columns,
    stack_columns,
    unstack_columns,
)


def _clin_data(spark):
    # reference tests/test_data_utils.py:16-20
    return spark.createDataFrame(
        [
            ("4331309", "2265305", "C0729608", "2265305"),
            ("4331309", "2265305", "C0729608", "2265305"),
            ("37018594", "802510", "C4075981", "802510"),
            ("37018594", "802510", "C4075981", "802510"),
            ("442264", "6817202", "C0151936", "6817202"),
        ],
        "CONCEPT_ID string, CONCEPT_SOURCE_CODE string, UMLS_CUI string, UMLS_CODE string",
    )


def test_stack_columns_subsetter_parity(spark):
    # data_frame_subsetter golden: 9 rows, 3 (+1 ordering) columns
    out = stack_columns(_clin_data(spark), "CONCEPT_ID", ["CONCEPT_SOURCE_CODE", "UMLS_CUI", "UMLS_CODE"])
    assert out.count() == 9
    assert out.columns == ["CONCEPT_ID", "CODE", "CODE_COLUMN", "src_rank"]


def test_unstack_columns_supersetter_parity(spark):
    stacked = stack_columns(_clin_data(spark), "CONCEPT_ID", ["CONCEPT_SOURCE_CODE", "UMLS_CUI", "UMLS_CODE"])
    wide = unstack_columns(stacked, "CONCEPT_ID", "CODE_COLUMN", "CODE",
                           ["CONCEPT_SOURCE_CODE", "UMLS_CODE", "UMLS_CUI"])
    assert wide.count() == 3
    assert set(wide.columns) == {"CONCEPT_ID", "CONCEPT_SOURCE_CODE", "UMLS_CODE", "UMLS_CUI"}


def test_split_explode_cross_product_quirk(spark):
    # reference column_splitter test expects 13 rows from 5 (J9 quirk,
    # tests/test_data_utils.py:122-134)
    data = spark.createDataFrame(
        [
            ("4331309", "Myocarditis due to infectious agent",
             "Myocarditis due to infectious agent | Infective myocarditis | Myocarditis due to infectious agent (disorder)"),
            ("37018594", "Complement level below reference range",
             "Complement level below reference range | Complement level below reference range (finding)"),
            ("442264", "Disorder of tendon",
             "Disorder of tendon (disorder) | Disorder of tendon | Tendon disorder"),
            ("4029098", "Disorder of tetrahydrobiopterin metabolism",
             "Disorder of tetrahydrobiopterin metabolism (disorder) | Disorder of tetrahydrobiopterin metabolism"),
            ("4012199", "Vulval pain", "Vulval pain (finding) | Vulval pain | Pain of vulva"),
        ],
        "CONCEPT_ID string, CONCEPT_LABEL string, CONCEPT_SYNONYM string",
    )
    out = split_explode_columns(data, "CONCEPT_ID", ["CONCEPT_LABEL", "CONCEPT_SYNONYM"], "|")
    assert out.count() == 13
    assert set(out.columns) == {"CONCEPT_ID", "CONCEPT_LABEL", "CONCEPT_SYNONYM"}


def test_ordered_concat_first_occurrence_dedup(spark):
    df = spark.createDataFrame(
        [("k1", 0, "b"), ("k1", 1, "a"), ("k1", 2, "b"), ("k1", 3, "c"), ("k2", 0, "z")],
        "k string, ord int, v string",
    )
    out = {r.k: r.v for r in ordered_concat_agg(df, "k", ["v"], ["ord"]).collect()}
    # unique_everseen semantics: first occurrence kept, input order preserved
    assert out == {"k1": "b | a | c", "k2": "z"}


def test_ordered_concat_skips_nulls_and_empties(spark):
    df = spark.createDataFrame(
        [("k1", 0, None), ("k1", 1, ""), ("k1", 2, "x")], "k string, ord int, v string"
    )
    out = {r.k: r.v for r in ordered_concat_agg(df, "k", ["v"], ["ord"]).collect()}
    assert out == {"k1": "x"}


def test_grouped_pivot_agg_grouper_parity(spark):
    # reference data_frame_grouper golden: 4 rows, HP_/MONDO_ column blocks
    # (tests/test_data_utils.py:149-163) — our naming replaces ONT with grp
    data = spark.createDataFrame(
        [
            ("442264", "http://purl.obolibrary.org/obo/MONDO_0100010", "MONDO", "tendinopathy", "CONCEPT_DBXREF_sctid:68172002", 0),
            ("4029098", "http://purl.obolibrary.org/obo/MONDO_0045014", "MONDO", "tetrahydrobiopterin metabolic process disease", "CONCEPT_DBXREF_sctid:237913008", 1),
            ("4141365", "http://purl.obolibrary.org/obo/MONDO_0043358", "MONDO", "engraftment syndrome", "CONCEPT_DBXREF_sctid:426768001", 2),
            ("133835", "http://purl.obolibrary.org/obo/HP_0000964", "HP", "eczema", "CONCEPT_DBXREF_snomedct_us:43116000", 3),
            ("133835", "http://purl.obolibrary.org/obo/MONDO_0002406", "MONDO", "dermatitis", "CONCEPT_DBXREF_sctid:43116000", 4),
        ],
        "CONCEPT_ID string, CONCEPT_DBXREF_ONT_URI string, CONCEPT_DBXREF_ONT_TYPE string, "
        "CONCEPT_DBXREF_ONT_LABEL string, CONCEPT_DBXREF_ONT_EVIDENCE string, ord int",
    )
    out = grouped_pivot_agg(
        data,
        "CONCEPT_ID",
        "CONCEPT_DBXREF_ONT_TYPE",
        ["CONCEPT_DBXREF_ONT_URI", "CONCEPT_DBXREF_ONT_LABEL", "CONCEPT_DBXREF_ONT_EVIDENCE"],
        ["ord"],
        type_values=["HP", "MONDO"],
    )
    assert out.count() == 4
    assert set(out.columns) == {
        "CONCEPT_ID",
        "CONCEPT_DBXREF_HP_URI", "CONCEPT_DBXREF_HP_LABEL", "CONCEPT_DBXREF_HP_EVIDENCE",
        "CONCEPT_DBXREF_MONDO_URI", "CONCEPT_DBXREF_MONDO_LABEL", "CONCEPT_DBXREF_MONDO_EVIDENCE",
    }
    row = {r.CONCEPT_ID: r for r in out.collect()}["133835"]
    assert row.CONCEPT_DBXREF_HP_LABEL == "eczema"
    assert row.CONCEPT_DBXREF_MONDO_LABEL == "dermatitis"


def test_umls_annotate_double_merge_expands(spark):
    vocab = vocab_map_dict()
    umls = prepare_mrconso(mrconso_df(spark), vocab)
    codes = spark.createDataFrame(
        [("m1", "snomed:190787008", "TURN_CODE", 0)],
        "mention_id string, CODE string, CODE_COLUMN string, src_rank int",
    )
    single = umls_annotate(codes, umls, mrsty_df(spark), ["mention_id"], "CODE", double_merge=False)
    double = umls_annotate(codes, umls, mrsty_df(spark), ["mention_id"], "CODE", double_merge=True)
    # double merge pulls in the other SABs sharing CUI C0000744 (MSH, HPO)
    assert single.count() < double.count()
    sabs = {r.UMLS_SAB for r in double.collect()}
    assert {"SNOMEDCT_US", "MSH", "HPO"} <= sabs
    assert {r.UMLS_SEM_TYPE for r in double.collect()} == {"Disease or Syndrome"}


def test_prepared_mrconso_python_replica_matches_spark(spark):
    """kg_oracle.prepared_mrconso is the ONE driver-side replica of
    prepare_mrconso (consumed by the flagship oracle AND, since r5, by
    q_ananke_bridge's oracle dims via __spark_entry__._ananke_dims) — pin
    it row-for-row against the real Spark operator so a drift in either
    derivation fails here instead of as an opaque gate hash mismatch."""
    from omop2obo_spark.fixtures.kg_oracle import prepared_mrconso

    spark_rows = {
        (r.CUI, r.SAB, r.CODE)
        for r in prepare_mrconso(mrconso_df(spark), vocab_map_dict()).collect()
    }
    assert spark_rows == set(prepared_mrconso())


def test_dbxref_link_direct_and_ananke(spark):
    vocab = vocab_map_dict()
    dims = LexiconDims.from_lexicon(lexicon_df(spark), vocab)
    umls = prepare_mrconso(mrconso_df(spark), vocab)
    stacked = spark.createDataFrame(
        [
            ("m1", "snomed:190787008", "TURN_CODE", 0),   # direct dbxref hit
            ("m2", "C0034063", "UMLS_CUI", 1),             # ananke: CUI → HPO code → HP_0100598
            ("m3", "nomatch:123", "TURN_CODE", 2),
        ],
        "mention_id string, CODE string, CODE_COLUMN string, src_rank int",
    )
    out = dbxref_link(stacked, dims, ["mention_id"], "concept", umls=umls)
    rows = {r.mention_id: r for r in out.collect()}
    assert rows["m1"].URI.endswith("HP_0008181")
    assert rows["m1"].EVIDENCE == "CONCEPT_DBXREF_snomed:190787008"
    assert rows["m1"].LABEL == "abetalipoproteinemia"
    assert rows["m2"].URI.endswith("HP_0100598")
    assert rows["m2"].CODE == "umls:C0034063"
    assert "m3" not in rows


def test_exact_string_link_label_and_synonym(spark):
    dims = LexiconDims.from_lexicon(lexicon_df(spark), vocab_map_dict())
    stacked = spark.createDataFrame(
        [
            ("m1", "Abetalipoproteinemia", "TURN_TEXT", 0),  # label (case-folded)
            ("m2", "wet lung", "TURN_TEXT", 1),              # synonym
            ("m3", "no such concept", "TURN_TEXT", 2),
        ],
        "mention_id string, CODE string, CODE_COLUMN string, src_rank int",
    )
    out = exact_string_link(stacked, dims, ["mention_id"], "concept")
    rows = {r.mention_id: r for r in out.collect()}
    assert rows["m1"].URI.endswith("HP_0008181") and rows["m1"].tier_rank == 0
    assert rows["m2"].URI.endswith("HP_0100598") and rows["m2"].tier_rank == 1
    assert rows["m2"].EVIDENCE == "TURN_TEXT:wet_lung"
    assert "m3" not in rows


def test_salted_join_matches_plain_join(spark):
    fact = spark.range(0, 2000).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 7, F.lit("hot")).otherwise(F.concat(F.lit("k"), F.col("id") % 50)).alias("k"),
    )
    dim = spark.createDataFrame([("hot", 1), ("k3", 2), ("k7", 3)], "k string, v int")
    plain = fact.join(dim, "k").select("id", "v")
    salted = salted_join(fact, dim, "k", salt_buckets=8, fact_salt_cols=["id"]).select("id", "v")
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_mention_engines_identical(spark):
    """Arrow single-pass detector == declarative explode/join/groupBy plan
    (code ∪ term mentions over the key-filtered input), row for row, over
    skewed synthetic transcripts."""
    from omop2obo_spark import fixtures as FX
    from omop2obo_spark.fixtures.generators import transcripts_df, vocab_map_dict
    from omop2obo_spark.operators.linking import LexiconDims
    from omop2obo_spark.plans.mention import (
        detect_code_mentions,
        detect_mentions,
        detect_term_mentions,
    )

    tr = transcripts_df(spark, n_convs=80, turns_per_conv=5)
    # NULL text (a PERMISSIVE JSONL row missing the field) must yield no
    # mentions in either plan, not crash the arrow scan
    null_row = spark.sql(
        "select 'cNULL' conv_id, cast(0 as int) turn_idx, 'user' role,"
        " cast(null as string) text, cast(null as string) tool,"
        " cast(null as timestamp) ts"
    )
    tr = tr.unionByName(null_row.select(*tr.columns))
    dims = LexiconDims.from_lexicon(FX.lexicon_df(spark), vocab_map_dict())
    from pyspark.sql import functions as F

    term_dim = dims.strings.select(F.col("CODE").alias("surface"))
    a = detect_mentions(tr, term_dim, 4)
    keyed = tr.filter(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
    b = detect_code_mentions(keyed).unionByName(detect_term_mentions(keyed, term_dim, 4))
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 0
    assert not any(r[0] == "cNULL" for r in ra)


def test_umls_annotate_salted_matches_broadcast_on_zipf_skew(spark):
    """The salted shuffle-join strategy (big-MRCONSO path) returns exactly
    the broadcast result on a Zipf-skewed fact table, and no single
    shuffle partition owns the hot key after salting."""
    from pyspark.sql import functions as F

    from omop2obo_spark.operators.joins import salted_join
    from omop2obo_spark.operators.linking import prepare_mrconso, umls_annotate
    from omop2obo_spark.fixtures import mrconso_df, mrsty_df
    from omop2obo_spark.fixtures.generators import vocab_map_dict

    # Zipf fixture: 5k code mentions, 80% of them the single hot code
    n = 5000
    fact = spark.range(n).select(
        F.concat(F.lit("c"), (F.col("id") / 50).cast("long")).alias("conv_id"),
        F.pmod(F.col("id"), F.lit(50)).cast("int").alias("turn_idx"),
        F.concat(F.lit("m"), F.col("id")).alias("mention_id"),
        F.when(F.pmod(F.col("id"), F.lit(10)) < 8, F.lit("snomed:22253000"))  # 'pain'
        .otherwise(F.lit("snomed:386661006")).alias("CODE"),
    )
    umls = prepare_mrconso(mrconso_df(spark), vocab_map_dict())
    keys = ["conv_id", "turn_idx", "mention_id"]
    bcast = umls_annotate(fact, umls, mrsty_df(spark), keys, "CODE")
    salted = umls_annotate(fact, umls, mrsty_df(spark), keys, "CODE", strategy="salted",
                           salt_buckets=8)
    a = sorted(map(tuple, bcast.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0

    # partition-balance evidence: the shuffle a plain equi-join induces
    # hashes the fact on CODE alone — the hot key lands on ONE reducer;
    # salted_join's shuffle hashes on (CODE, __salt) — same rows spread
    # over salt_buckets reducers. Reproduce both shuffle keyings exactly.
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in keys]), F.lit(8)).cast("int")
    )

    def max_partition_share(df):
        sizes = (
            df.withColumn("p", F.spark_partition_id()).groupBy("p").count().collect()
        )
        total = sum(r["count"] for r in sizes)
        return max(r["count"] for r in sizes) / total

    plain_share = max_partition_share(fact.repartition(8, "CODE"))
    salted_share = max_partition_share(salted_fact.repartition(8, "CODE", "__salt"))
    assert plain_share > 0.7          # hot key concentrates on one reducer
    # (code, salt) combos still collide lumpily into 8 partitions, so the
    # spread is not perfectly uniform — but the straggler share must drop
    # by at least 2x vs the unsalted keying
    assert salted_share < 0.5 and salted_share < plain_share / 2


def test_localize_dim_produces_local_table_scan(spark):
    """localize_dim_checked must yield a LocalTableScan (broadcast builds
    need no cluster job) — the pandas/Arrow path, not a parallelized
    ExistingRDD."""
    from omop2obo_spark.operators.linking import localize_dim_checked

    df = spark.createDataFrame([("a", 1), ("b", None)], "k string, v int")
    local, fits = localize_dim_checked(df)
    assert fits
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert sorted(map(tuple, local.collect())) == [("a", 1), ("b", None)]


def test_asof_join_backward_forward_tolerance(spark):
    """asof_join semantics: backward inclusive, forward inclusive, ties on
    the right resolved by sort order, tolerance nulls far matches, and
    null payload FIELDS don't make the carry reach further back (struct
    semantics)."""
    from datetime import datetime

    from omop2obo_spark.operators.temporal import asof_join

    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u", ts("2024-01-01 10:00:00")),
         (2, "u", ts("2024-01-01 12:00:00")),
         (3, "u", ts("2024-01-01 09:00:00")),   # before any state
         (4, "v", ts("2024-01-01 12:00:00"))],  # key with no state rows
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", ts("2024-01-01 10:00:00"), 100, "a"),
         ("u", ts("2024-01-01 11:30:00"), 200, None)],  # null payload field
        "k string, rts timestamp, val int, tag string",
    )

    back = asof_join(left, right, "k", "k", "ts", "rts", ["val", "tag"])
    got = {r.event_id: (r.val, r.tag) for r in back.collect()}
    # event 1: equal-ts state row counts (inclusive); event 2 takes the
    # 11:30 row whose tag is genuinely null — NOT the earlier 'a'
    assert got == {1: (100, "a"), 2: (200, None), 3: (None, None), 4: (None, None)}

    fwd = asof_join(left, right, "k", "k", "ts", "rts", ["val"], direction="forward")
    gotf = {r.event_id: r.val for r in fwd.collect()}
    assert gotf == {1: 100, 2: None, 3: 100, 4: None}

    tol = asof_join(left, right, "k", "k", "ts", "rts", ["val"], tolerance_sec=600)
    gott = {r.event_id: r.val for r in tol.collect()}
    # event 2 is 30 min past the 11:30 state row -> outside 10-min tolerance
    assert gott == {1: 100, 2: None, 3: None, 4: None}


def test_range_join_matches_naive_inequality_join(spark):
    """Bucketized range_join must equal the naive non-equi join, including
    intervals spanning multiple buckets and boundary-inclusive endpoints."""
    from datetime import datetime, timedelta

    from omop2obo_spark.operators.temporal import range_join

    base = datetime(2024, 1, 1)
    probes = spark.createDataFrame(
        [(i, "k%d" % (i % 3), base + timedelta(minutes=7 * i)) for i in range(40)],
        "pid long, k string, ts timestamp",
    )
    ivals = spark.createDataFrame(
        [(j, "k%d" % (j % 3), base + timedelta(minutes=11 * j),
          base + timedelta(minutes=11 * j + 90)) for j in range(12)],
        "iid long, ik string, t0 timestamp, t1 timestamp",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(probes, ivals, "k", "ik", "ts", "t0", "t1",
                            bucket_sec=1200).collect()
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in probes.join(
            ivals,
            (probes.k == ivals.ik) & (probes.ts >= ivals.t0) & (probes.ts <= ivals.t1),
        ).collect()
    )
    assert got == naive and len(got) > 0


def test_read_transcripts_jsonl_good_and_quarantine(spark, tmp_path):
    """JSONL transcript reader: contract schema enforced, ISO timestamps
    parsed, malformed lines quarantined to the dead-letter frame."""
    from omop2obo_spark.sources.readers import read_transcripts_jsonl

    p = tmp_path / "tr.jsonl"
    p.write_text(
        '{"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hi", "tool": null, "ts": "2026-01-01T00:00:00Z"}\n'
        '{"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "hello", "ts": "2026-01-01T00:00:05Z"}\n'
        "this is not json at all\n"
        '{"conv_id": "c2", "turn_idx": "NOT_AN_INT", "role": "user"}\n'
    )
    good, bad = read_transcripts_jsonl(spark, str(p))
    rows = {(r.conv_id, r.turn_idx): r for r in good.collect()}
    assert set(rows) == {("c1", 0), ("c1", 1)}
    assert rows[("c1", 1)].tool is None          # missing field → null
    assert rows[("c1", 0)].ts is not None
    assert good.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    bad_rows = [r.raw_line for r in bad.collect()]
    assert len(bad_rows) == 2
    assert any("not json" in b for b in bad_rows)


def test_flag_negated_mentions_window_and_polarity(spark):
    from omop2obo_spark.plans.mention import detect_term_mentions, flag_negated_mentions

    tr = spark.createDataFrame(
        [
            ("c1", 0, "patient denies headache today"),
            ("c1", 1, "patient reported headache again"),
            ("c2", 0, "no evidence of seizures"),          # cue 2 tokens back
            ("c2", 1, "the word no appears far far far before headache"),  # outside window
            ("c3", 0, "headache"),                          # pos 0: nothing precedes
        ],
        "conv_id string, turn_idx int, text string",
    )
    terms = spark.createDataFrame(
        [("headache",), ("seizures",)], "surface string"
    )
    m = detect_term_mentions(tr, terms)
    got = {
        (r.conv_id, r.turn_idx, r.surface): r.is_negated
        for r in flag_negated_mentions(tr, m, window=3).collect()
    }
    assert got == {
        ("c1", 0, "headache"): True,
        ("c1", 1, "headache"): False,
        ("c2", 0, "seizures"): True,
        ("c2", 1, "headache"): False,
        ("c3", 0, "headache"): False,
    }


def test_term_mentions_on_turns_shorter_than_max_ngram(spark):
    """Regression: a turn with fewer tokens than max_term_tokens used to
    crash span generation (sequence(0, size-n) descends when size < n and
    slice() rejects start 0). Single- and zero-token turns must simply
    yield their possible spans, in the Arrow scan and its declarative
    reference."""
    from omop2obo_spark.plans.mention import detect_mentions, detect_term_mentions

    tr = spark.createDataFrame(
        [("c1", 0, "headache"), ("c2", 0, ""), ("c3", 0, "a b"),
         ("c4", 0, "severe chronic migraine headache pain")],
        "conv_id string, turn_idx int, text string",
    )
    terms = spark.createDataFrame([("headache",), ("a b",)], "surface string")
    declarative = {
        (r.conv_id, r.surface, r.pos)
        for r in detect_term_mentions(tr, terms).collect()
    }
    assert declarative == {("c1", "headache", 0), ("c3", "a b", 0),
                           ("c4", "headache", 3)}
    arrow = {
        (r.conv_id, r.surface, r.pos)
        for r in detect_mentions(tr, terms).collect()
        if r.kind == "term"
    }
    assert arrow == declarative


def test_salted_join_rejects_right_and_full(spark):
    """Dim-side replication corrupts right/full joins (unmatched dim rows
    appear once per salt bucket) — salted_join must refuse them."""
    import pytest as _pytest

    from omop2obo_spark.operators.joins import salted_join

    fact = spark.createDataFrame([(1, "a")], "id long, k string")
    dim = spark.createDataFrame([("a", "x"), ("z", "u")], "k string, v string")
    for how in ("right", "full", "outer", "full_outer", "rightouter"):
        with _pytest.raises(ValueError, match="salted_join"):
            salted_join(fact, dim, "k", salt_buckets=4, fact_salt_cols=["id"], how=how)
    # supported types still work
    assert salted_join(fact, dim, "k", salt_buckets=4, fact_salt_cols=["id"], how="left_anti").count() == 0


def test_unstack_columns_raises_on_conflicting_duplicates(spark):
    """pandas pivot raises ValueError on duplicate (index, column) pairs;
    a silent first() would be partition-order nondeterministic. Same-value
    duplicates dedup away; different values must fail loudly."""
    import pytest as _pytest

    ok = spark.createDataFrame(
        [(1, "A", "x"), (1, "A", "x"), (1, "B", "y")],
        "CONCEPT_ID long, CODE_COLUMN string, CODE string",
    )
    row = unstack_columns(ok, "CONCEPT_ID", "CODE_COLUMN", "CODE", ["A", "B"]).collect()[0]
    assert (row.A, row.B) == ("x", "y")

    # a NULL alongside one real value is NOT a conflict: the cell resolves
    # unambiguously (first ignorenulls), matching countDistinct semantics
    null_plus = spark.createDataFrame(
        [(1, "A", None), (1, "A", "x")],
        "CONCEPT_ID long, CODE_COLUMN string, CODE string",
    )
    row = unstack_columns(null_plus, "CONCEPT_ID", "CODE_COLUMN", "CODE", ["A"]).collect()[0]
    assert row.A == "x"

    # an extra column differing between otherwise-identical rows must not
    # trip the guard either — only the VALUES column's distinct count matters
    extra = spark.createDataFrame(
        [(1, "A", "x", "u1"), (1, "A", "x", "u2")],
        "CONCEPT_ID long, CODE_COLUMN string, CODE string, SRC string",
    )
    row = unstack_columns(extra, "CONCEPT_ID", "CODE_COLUMN", "CODE", ["A"]).collect()[0]
    assert row.A == "x"

    dup = spark.createDataFrame(
        [(1, "A", "x"), (1, "A", "y")],
        "CONCEPT_ID long, CODE_COLUMN string, CODE string",
    )
    with _pytest.raises(Exception, match="duplicate entries"):
        unstack_columns(dup, "CONCEPT_ID", "CODE_COLUMN", "CODE", ["A"]).collect()


def test_split_explode_null_cell_keeps_key(spark):
    """A NULL delimited cell keeps its key (explode_outer) instead of the
    inner re-join silently erasing the key's values in OTHER columns."""
    data = spark.createDataFrame(
        [(1, "a|b", None), (2, "c", "d|e")],
        "CONCEPT_ID long, CA string, CB string",
    )
    out = split_explode_columns(data, "CONCEPT_ID", ["CA", "CB"], "|")
    rows = {(r.CONCEPT_ID, r.CA, r.CB) for r in out.collect()}
    assert (1, "a", None) in rows and (1, "b", None) in rows
    assert (2, "c", "d") in rows and (2, "c", "e") in rows


def test_grouped_pivot_agg_single_agg_col(spark):
    """Spark names single-aggregate pivot columns just '<grp>' (no alias
    suffix) — the ONT→grp rename must still produce the reference layout."""
    from omop2obo_spark.operators.aggregate import grouped_pivot_agg

    df = spark.createDataFrame(
        [(1, "HP", "u1", 0), (1, "MONDO", "u2", 0)],
        "CONCEPT_ID long, ONT_TYPE string, AGG_ONT_URI string, ord int",
    )
    out = grouped_pivot_agg(
        df, "CONCEPT_ID", "ONT_TYPE", ["AGG_ONT_URI"], ["ord"],
        type_values=["HP", "MONDO"],
    )
    assert set(out.columns) == {"CONCEPT_ID", "AGG_HP_URI", "AGG_MONDO_URI"}
    row = out.collect()[0]
    assert row.AGG_HP_URI == "u1" and row.AGG_MONDO_URI == "u2"


def test_grouped_pivot_agg_suffix_collision(spark):
    """One agg name being a suffix of another (ONT_URI vs AGG_ONT_URI)
    must rename via the LONGEST matching suffix."""
    from omop2obo_spark.operators.aggregate import grouped_pivot_agg

    df = spark.createDataFrame(
        [(1, "HP", "short", "agg", 0)],
        "CONCEPT_ID long, ONT_TYPE string, ONT_URI string, AGG_ONT_URI string, ord int",
    )
    out = grouped_pivot_agg(
        df, "CONCEPT_ID", "ONT_TYPE", ["ONT_URI", "AGG_ONT_URI"], ["ord"],
        type_values=["HP"],
    )
    assert set(out.columns) == {"CONCEPT_ID", "HP_URI", "AGG_HP_URI"}
    row = out.collect()[0]
    assert row.HP_URI == "short" and row.AGG_HP_URI == "agg"


def test_skew_profile_report(spark):
    """skew_profile: counts/shares/x_avg/salt_buckets vs hand arithmetic,
    NULL bucket, deterministic tie-break at the cut, top_n bound."""
    from omop2obo_spark.operators.joins import skew_profile

    rows = (
        [("hot",)] * 60
        + [("warm",)] * 20
        + [("a",)] * 10 + [("b",)] * 10
        + [(None,)] * 0
    )
    df = spark.createDataFrame(rows, "k string")
    got = skew_profile(df, "k", top_n=3, target_rows_per_task=25).collect()
    assert [(r.key, r.n) for r in got] == [("hot", 60), ("warm", 20), ("a", 10)]
    top = got[0]
    assert top.share == round(60 / 100, 9)
    assert top.x_avg == round(60 * 4 / 100, 6)     # 2.4x the average key
    assert top.salt_buckets == 3                   # ceil(60/25)
    # tie at the cut: "a" beats "b" by key order
    assert got[2].key == "a"

    nulls = spark.createDataFrame([("x",), (None,), (None,)], "k string")
    gn = {r.key: r.n for r in skew_profile(nulls, "k").collect()}
    assert gn == {"__null__": 2, "x": 1}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="top_n"):
        skew_profile(df, "k", top_n=0)


def test_aggregate_state_merge_equals_union(spark):
    """The partial-aggregate algebra: merge(state(A), state(B)) ==
    state(A UNION ALL B) exactly, including NULL values, disjoint keys,
    and negative sums; a second merge stays associative."""
    from omop2obo_spark.operators.aggregate import (
        aggregate_state,
        merge_aggregate_states,
    )

    schema = "k string, v long"
    a = spark.createDataFrame(
        [("x", 5), ("x", -2), ("y", 7), ("z", None)], schema
    )
    b = spark.createDataFrame(
        [("x", 100), ("w", 1), ("z", None), ("z", 3)], schema
    )
    c = spark.createDataFrame([("w", -50), ("q", 0)], schema)

    def rows(df):
        return {
            r.k: (r.n, r.n_nonnull, r.sum_v, r.min_v, r.max_v)
            for r in df.collect()
        }

    sa, sb, sc = (aggregate_state(d, ["k"], "v") for d in (a, b, c))
    merged = merge_aggregate_states(sa, sb, ["k"])
    direct = aggregate_state(a.unionByName(b), ["k"], "v")
    assert rows(merged) == rows(direct)
    assert rows(merged)["x"] == (3, 3, 103, -2, 100)
    assert rows(merged)["z"] == (3, 1, 3, 3, 3)      # NULLs counted in n only
    assert rows(merged)["w"] == (1, 1, 1, 1, 1)      # single-side key

    # associativity: (A+B)+C == state(A+B+C)
    m3 = merge_aggregate_states(merged, sc, ["k"])
    assert rows(m3) == rows(aggregate_state(a.unionByName(b).unionByName(c), ["k"], "v"))


def test_grouped_topk_equals_flat_window(spark):
    """The two-level salted top-k must equal the flat window exactly —
    ties at the cut (id tie-break), NULL order values last, NULL group,
    k larger than a group, and every salt_buckets setting."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from omop2obo_spark.operators.aggregate import grouped_topk

    rows = []
    for g in ("a", "b", None):
        for i in range(40):
            rows.append((g, (hash((g, i)) % 7) * 1.0, i + (0 if g == "a" else 100)))
    rows.append(("tiny", 5.0, 999))
    rows.append(("a", None, 998))
    df = spark.createDataFrame(rows, "grp: string, v: double, doc_id: long")
    flat = (
        df.withColumn(
            "grp_rank",
            F.row_number().over(
                Window.partitionBy("grp").orderBy(F.col("v").desc_nulls_last(), F.col("doc_id"))
            ),
        )
        .filter(F.col("grp_rank") <= 5)
        .select("grp", "doc_id", "v", "grp_rank")
    )
    want = {(r.grp, r.doc_id, r.v, r.grp_rank) for r in flat.collect()}
    for buckets in (1, 4, 32):
        got = {
            (r.grp, r.doc_id, r.v, r.grp_rank)
            for r in grouped_topk(df, "grp", "v", k=5, salt_buckets=buckets).collect()
        }
        assert got == want, buckets
    import pytest

    with pytest.raises(ValueError):
        grouped_topk(df, "grp", "v", k=0)

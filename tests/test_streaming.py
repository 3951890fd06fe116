"""Structured Streaming: incremental ingestion picks up only new files and
produces the same links the batch path would."""

from collections import Counter
from datetime import datetime

from pyspark.sql import functions as F

from omop2obo_spark import fixtures as FX
from omop2obo_spark.fixtures.generators import TRANSCRIPTS_SCHEMA, vocab_map_dict
from omop2obo_spark.operators.linking import LINK_VALUE_COLS
from omop2obo_spark.plans.pipeline import KEY_COLS, run_pipeline
from omop2obo_spark.streaming.incremental import stream_code_mentions, stream_triples


def _write_batch(spark, path, n_convs, offset=0, extra_rows=()):
    t = FX.transcripts_df(spark, n_convs, 5)
    t = t.withColumn(
        "conv_id", F.concat(F.lit(f"b{offset}_"), F.col("conv_id"))
    )
    if extra_rows:
        t = t.unionByName(spark.createDataFrame(list(extra_rows), TRANSCRIPTS_SCHEMA))
    t.write.mode("append").parquet(path)
    return t


def test_stream_code_mentions_incremental(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    lex, vm = FX.lexicon_df(spark), vocab_map_dict()

    _write_batch(spark, src, 20, offset=0)
    q = stream_code_mentions(spark, src, out, ckpt, lex, vm).start()
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # second trigger with no new data: nothing appended
    q = stream_code_mentions(spark, src, out, ckpt, lex, vm).start()
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1

    # new files arrive → only they are processed; the hand-written turn
    # carries a umls: code (a key the link dimension also stacks as its
    # bare CUI) and a source code the vocab map renames
    hand = ("b1_hand", 0, "user", "coded as umls:c0000744 and snomedct_us:190787008",
            None, datetime(2026, 1, 1))
    _write_batch(spark, src, 10, offset=1, extra_rows=[hand])
    q = stream_code_mentions(spark, src, out, ckpt, lex, vm).start()
    q.awaitTermination(120)
    n3 = spark.read.parquet(out).count()
    assert n3 > n1
    got = spark.read.parquet(out)
    assert got.count() == got.dropDuplicates(["mention_id", "URI", "CODE"]).count()
    # streaming output matches what the batch pipeline links on the union
    cols = KEY_COLS + LINK_VALUE_COLS
    want = run_pipeline(
        spark, spark.read.parquet(src), lex, vm, with_similarity=False
    ).exact_links.where(F.col("mention_id").contains(":code:"))
    got_rows = Counter(map(tuple, got.select(cols).collect()))
    assert got_rows == Counter(map(tuple, want.select(cols).collect()))
    hand = {(r.mention_id, r.CODE) for r in got.where(F.col("conv_id") == "b1_hand").collect()}
    assert hand == {("b1_hand:0:code:0", "umls:c0000744"), ("b1_hand:0:code:1", "snomed:190787008")}


def test_stream_triples_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    lex, vm = FX.lexicon_df(spark), vocab_map_dict()

    _write_batch(spark, src, 15, offset=0)
    q = stream_triples(spark, src, out, ckpt, lex, vm).start()
    q.awaitTermination(180)
    triples = spark.read.parquet(out)
    n1 = triples.count()
    assert n1 > 0
    assert {r.pred for r in triples.select("pred").distinct().collect()} >= {
        "omop2obo:hasExactMapping", "omop2obo:mentionOf"
    }

    # incremental batch → appended with a new batch_id, no reprocessing
    _write_batch(spark, src, 5, offset=1)
    q = stream_triples(spark, src, out, ckpt, lex, vm).start()
    q.awaitTermination(180)
    after = spark.read.parquet(out)
    n2 = after.count()
    assert n2 > n1
    assert after.select("batch_id").distinct().count() >= 2

    # replay: drop the checkpoint's last commit (a crash after the sink
    # wrote but before the query committed), so the restart re-runs that
    # batch id over the same files. Its partition overwrite keeps one copy
    # where a blind append doubles the batch. (A fresh checkpoint is no
    # replay here: it regroups both files into one batch 0.)
    commits = tmp_path / "ckpt2" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)
    q = stream_triples(spark, src, out, ckpt, lex, vm).start()
    q.awaitTermination(180)
    assert spark.read.parquet(out).count() == n2

    # a fresh checkpoint regroups both files into one batch 0, which
    # clears the older batch partitions instead of keeping them beside it;
    # building the query deletes nothing
    fresh_query = stream_triples(spark, src, out, str(tmp_path / "ckpt2-fresh"), lex, vm)
    assert spark.read.parquet(out).select("batch_id").distinct().count() >= 2
    q = fresh_query.start()
    q.awaitTermination(180)
    fresh = spark.read.parquet(out)
    assert fresh.count() == n2
    assert [r.batch_id for r in fresh.select("batch_id").distinct().collect()] == [0]


def test_stateful_conversation_tracking_survives_restart(spark, tmp_path):
    """applyInPandasWithState: per-conversation state accumulates across
    separate availableNow runs (state restored from the checkpoint)."""
    from datetime import datetime

    from omop2obo_spark.fixtures.generators import TRANSCRIPTS_SCHEMA
    from omop2obo_spark.streaming.incremental import stream_conversation_state

    src = str(tmp_path / "in"); out = str(tmp_path / "out"); ck = str(tmp_path / "ck")

    def write_batch(rows, name):
        spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    ts = datetime(2026, 1, 1)
    write_batch([("A", i, "user", f"turn {i}", None, ts) for i in range(3)], "b1")
    q = stream_conversation_state(spark, src, out, ck).start()
    q.awaitTermination()

    write_batch([("A", i, "user", f"turn {i}", None, ts) for i in range(3, 5)]
                + [("B", 0, "user", "hi", None, ts)], "b2")
    q = stream_conversation_state(spark, src, out, ck).start()
    q.awaitTermination()

    rows = spark.read.parquet(out).collect()
    per_conv = {}
    for r in rows:
        per_conv.setdefault(r.conv_id, []).append((r.turns_total, r.max_turn_idx))
    # run 1 emitted (A: 3 turns, max idx 2); run 2 accumulated state → (A: 5, 4)
    assert (3, 2) in per_conv["A"] and (5, 4) in per_conv["A"]
    assert per_conv["B"] == [(1, 0)]


def test_stream_curate_matches_batch_stages(spark, tmp_path):
    """Streaming curation keeps exactly the docs the batch funnel's
    lang/quality/exact-dedup stages keep (same micro-batch → same
    dedup horizon), and an incremental file only contributes its new
    content."""
    from omop2obo_spark.operators.curate import curate_corpus
    from omop2obo_spark.streaming.incremental import stream_curate

    docs = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank", "en", "web", 64),
        (2, "the quick brown fox jumps over the lazy dog near the river bank", "en", "web", 64),  # exact dup
        (3, "der hund und die katze sind nicht auf der wiese mit dem ball", "de", "web", 61),  # wrong lang
        (4, "!!! ??? ... ###", "en", "web", 15),  # fails quality
        (5, "a patient was seen in the clinic for the usual follow up visit", "en", "ehr", 63),
    ]
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(docs, "doc_id long, text string, lang string, source string, n_chars long").write.parquet(src)

    stream_curate(spark, src, out, ckpt).start().awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    # exactly one representative of the {1,2} duplicate pair survives —
    # WHICH one is arrival-order-dependent (dropDuplicatesWithinWatermark
    # keeps the first row seen, unlike the batch funnel's min-id
    # canonical); 3 fails lang, 4 fails quality, 5 is unique
    assert len(kept) == 2 and kept[1] == 5 and kept[0] in (1, 2)

    # batch funnel (without the near-dup stage, which streaming defers)
    batch_docs = spark.read.parquet(src)
    _, funnel = curate_corpus(batch_docs)
    stages = {r.stage: r.n_docs for r in funnel.collect()}
    assert stages["s3_exact_dedup"] == len(kept)

    # incremental: appending a new file with one dup + one new doc emits only the new doc
    spark.createDataFrame(
        [(6, docs[0][1], "en", "web", 64),
         (7, "an entirely new note about a different patient in the ward today", "en", "ehr", 65)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("append").parquet(src)
    stream_curate(spark, src, out, ckpt).start().awaitTermination(120)
    kept2 = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    # doc 6 (dup of the round-1 winner, whichever of {1,2} it was) is
    # suppressed by the checkpointed dedup state; doc 7 is new
    assert kept2 == sorted(kept + [7])


def test_stream_mention_rates_windowed_append(spark, tmp_path):
    """Watermarked tumbling-window rates: append mode emits a window only
    after the watermark passes its end; late data beyond the horizon is
    dropped, not double-emitted."""
    from datetime import datetime

    from omop2obo_spark.streaming.incremental import stream_mention_rates

    src = str(tmp_path / "in3")
    out = str(tmp_path / "out3")
    ckpt = str(tmp_path / "ckpt3")
    lex, vm = FX.lexicon_df(spark), vocab_map_dict()

    def write(rows):
        spark.createDataFrame(
            [(c, 0, "user", f"coded as {code}", None, datetime(2026, 1, 1, h, m))
             for (c, code, h, m) in rows],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        ).write.mode("append").parquet(src)

    code = "snomedct_us:190787008"  # fixture dbxref of HP_0008181
    # hours 0, 1, 2 → max ts 02:10, watermark(30m) = 01:40: only the
    # [0,1) window has closed (end ≤ watermark); [1,2) and [2,3) are
    # still open and must NOT emit yet
    write([("c1", code, 0, 10), ("c2", code, 0, 20),
           ("c3", code, 1, 10), ("c4", code, 2, 10)])
    q = stream_mention_rates(spark, src, out, ckpt, lex, vm).start()
    q.awaitTermination(180)
    got = {
        (r.win_start.hour, r.n_links)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(0, 2)}

    # a much later row advances the watermark to 04:30 → the hour-1 and
    # hour-2 windows flush; a late hour-0 row is beyond the horizon →
    # dropped, and the closed hour-0 window is not re-emitted
    write([("c5", code, 5, 0), ("c6", code, 0, 30)])
    q = stream_mention_rates(spark, src, out, ckpt, lex, vm).start()
    q.awaitTermination(180)
    got2 = sorted(
        (r.win_start.hour, r.n_links) for r in spark.read.parquet(out).collect()
    )
    assert got2 == [(0, 2), (1, 1), (2, 1)]


def test_stream_drift_monitor_psi_per_closed_window(spark, tmp_path):
    """Streaming PSI: each closed window emits its category-share drift vs
    the static baseline exactly once — including eps-floored rows for
    baseline categories absent from the window; open windows emit
    nothing; values match the batch psi_drift arithmetic."""
    import math
    from datetime import datetime

    import pytest

    from omop2obo_spark.streaming.incremental import stream_drift_monitor

    src = str(tmp_path / "din")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    schema = "doc_id long, lang string, ts timestamp"

    baseline = spark.createDataFrame(
        [(i, "en") for i in range(50)] + [(i, "fr") for i in range(50, 100)],
        "doc_id long, lang string",
    )

    def write(rows):
        spark.createDataFrame(
            [(i, lang, datetime(2026, 1, 1, h, m)) for i, (lang, h, m) in enumerate(rows)],
            schema,
        ).write.mode("append").parquet(src)

    # hour-0 window: 3 en, 1 de (a category the baseline lacks; fr silent)
    # hour-1 row only advances the watermark enough to close hour 0
    write([("en", 0, 5), ("en", 0, 15), ("en", 0, 25), ("de", 0, 35),
           ("en", 1, 45)])
    q = stream_drift_monitor(
        spark, src, out, ckpt, baseline, schema, cat_col="lang"
    ).start()
    q.awaitTermination(180)
    rows = spark.read.parquet(out).collect()
    got = {(r.win_start.hour, r.cat): (r.p, r.q, r.psi_term) for r in rows}
    assert set(got) == {(0, "en"), (0, "de"), (0, "fr")}

    # batch-identical arithmetic
    assert got[(0, "en")][0] == 0.5 and got[(0, "en")][1] == 0.75
    assert got[(0, "en")][2] == pytest.approx(-0.25 * math.log(0.5 / 0.75), abs=1e-9)
    assert got[(0, "de")][0] == 1e-6 and got[(0, "de")][1] == 0.25  # unseen in baseline
    assert got[(0, "fr")][0] == 0.5 and got[(0, "fr")][1] == 1e-6   # silent source drifts
    assert got[(0, "fr")][2] > 0

    # advancing the watermark far closes hour 1; hour 0 is NOT re-emitted
    write([("fr", 5, 0)])
    q = stream_drift_monitor(
        spark, src, out, ckpt, baseline, schema, cat_col="lang"
    ).start()
    q.awaitTermination(180)
    rows2 = spark.read.parquet(out).collect()
    hours = sorted(r.win_start.hour for r in rows2 if r.cat == "en")
    assert hours == [0, 1]  # exactly once each
    g1 = {r.cat: (r.p, r.q) for r in rows2 if r.win_start.hour == 1}
    assert g1["en"] == (0.5, 1.0) and g1["fr"] == (0.5, 1e-6)


def test_stream_dedup_against_accumulating_ledger(spark, tmp_path):
    """Incremental dedup against ALL history: the seeded corpus drops its
    duplicates, within-batch dups keep the min-id canonical, the ledger
    accumulates so a later trigger dedups against earlier KEPT batches,
    and output/ledger are batch_id-partitioned for idempotent retries."""
    from omop2obo_spark.streaming.incremental import (
        seed_dedup_ledger,
        stream_dedup_against,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    corpus = spark.createDataFrame(
        [(100, "already kept document about rivers", "en", "web", 34)], schema
    )
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt, ledger = str(tmp_path / "ckpt"), str(tmp_path / "ledger")
    seed_dedup_ledger(corpus, ledger)

    batch1 = [
        (1, "already kept document about rivers", "en", "web", 34),   # corpus dup
        (3, "a brand new document about mountains", "en", "web", 36), # in-batch dup, min id
        (7, "a brand new document about mountains", "en", "web", 36),
        (5, "another fresh document about forests", "en", "ehr", 36),
        (9, None, "en", "web", 0),                                    # NULL text: kept singleton
    ]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    stream_dedup_against(spark, src, out, ckpt, ledger).start().awaitTermination(120)
    kept1 = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept1 == [3, 5, 9]

    # second trigger: dup of batch-1 KEPT doc drops via the grown ledger;
    # NULL text stays un-dedupable (unknown content is never "a duplicate")
    batch2 = [
        (11, "a brand new document about mountains", "en", "web", 36),
        (13, "genuinely unseen text about deserts", "en", "web", 35),
        (15, None, "en", "web", 0),
    ]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    stream_dedup_against(spark, src, out, ckpt, ledger).start().awaitTermination(120)
    kept_all = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept_all == [3, 5, 9, 13, 15]

    # ledger holds exactly the distinct hashes of corpus + kept docs with text
    n_hashes = spark.read.parquet(ledger).count()
    assert n_hashes == 4  # rivers, mountains, forests, deserts
    # partitioned layout: one batch_id partition per trigger + the seed
    bids = sorted(r.batch_id for r in spark.read.parquet(ledger).select("batch_id").distinct().collect())
    assert bids[0] == -1 and len(bids) == 3


def test_stream_dedup_against_retry_ignores_own_ledger_partition(spark, tmp_path):
    """A retried micro-batch must NOT anti-join against its own
    partially-committed ledger partition: batch 0's retry sees a stale
    ledger partition batch_id=0 holding its own hashes (crash between
    ledger commit and checkpoint commit) and must still keep the docs,
    overwriting both partitions byte-identically."""
    from omop2obo_spark.operators.dedup import normalized_text
    from omop2obo_spark.streaming.incremental import (
        seed_dedup_ledger,
        stream_dedup_against,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt, ledger = str(tmp_path / "ckpt"), str(tmp_path / "ledger")
    seed_dedup_ledger(spark.createDataFrame([], schema), ledger)

    batch = [(1, "fresh text about glaciers", "en", "web", 25),
             (2, "fresh text about fjords", "en", "web", 23)]
    bdf = spark.createDataFrame(batch, schema)
    bdf.write.mode("append").parquet(src)

    # simulate the crashed first attempt of batch 0: its ledger partition
    # is committed, but the streaming checkpoint is not → replay runs 0 again
    (
        bdf.select(F.md5(normalized_text(F.col("text"))).alias("text_hash"))
        .withColumn("batch_id", F.lit(0).cast("long"))
        .write.partitionBy("batch_id").mode("append").parquet(ledger)
    )

    stream_dedup_against(spark, src, out, ckpt, ledger).start().awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2]  # NOT dropped against their own partial commit
    # the retry's dynamic overwrite replaced the partial partition exactly
    n0 = spark.read.parquet(ledger).filter(F.col("batch_id") == 0).count()
    assert n0 == 2


def test_stream_drift_monitor_replayed_batch_overwrites_not_appends(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed micro-batch must replace
    its own batch_id partition, not append a second copy of every
    window's PSI rows."""
    from datetime import datetime

    from omop2obo_spark.streaming.incremental import stream_drift_monitor

    src, out, ckpt = str(tmp_path / "din"), str(tmp_path / "dout"), str(tmp_path / "dckpt")
    schema = "doc_id long, lang string, ts timestamp"
    baseline = spark.createDataFrame([(0, "en")], "doc_id long, lang string")
    # the 2:10 row advances the watermark (2:10 - 30 min = 1:40) past the
    # hour-0 window's end so that window actually closes and emits
    spark.createDataFrame(
        [(0, "en", datetime(2026, 1, 1, 0, 10)), (1, "en", datetime(2026, 1, 1, 2, 10))],
        schema,
    ).write.mode("append").parquet(src)

    stream_drift_monitor(spark, src, out, ckpt, baseline, schema, cat_col="lang")\
        .start().awaitTermination(120)
    first = spark.read.parquet(out).collect()
    assert len(first) > 0

    # replay the same batch with a FRESH checkpoint (same deterministic
    # batch ids) against the same output dir — the overwrite must leave
    # exactly one copy, where a blind append would double every row
    stream_drift_monitor(
        spark, src, out, str(tmp_path / "dckpt2"), baseline, schema, cat_col="lang"
    ).start().awaitTermination(120)
    again = spark.read.parquet(out).collect()
    assert len(again) == len(first)


def test_stream_heavy_hitters_merge_equals_batch_sketch(spark, tmp_path):
    """CMS mergeability across micro-batches: the cell-wise sum of the
    per-batch sketches must equal the sketch built in one pass over the
    union corpus, EXACTLY — and a replayed stream (fresh checkpoint, same
    deterministic batch ids) must leave the ledger unchanged (dynamic
    overwrite, not append)."""
    from omop2obo_spark.operators.sketch import cms_build
    from omop2obo_spark.operators.textstats import tokens
    from omop2obo_spark.streaming.incremental import (
        merged_sketch,
        stream_heavy_hitters,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src, sk = str(tmp_path / "hin"), str(tmp_path / "hsk")
    b1 = [(1, "the cat sat on the mat", "en", "web", 22),
          (2, "dogs chase the cat", "en", "web", 18)]
    b2 = [(3, "the mat was red", "en", "web", 15),
          (4, None, "en", "web", 0)]
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    stream_heavy_hitters(spark, src, sk, str(tmp_path / "c1"), schema,
                         depth=4, width=64).start().awaitTermination(120)
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    # simulate the crashed first attempt of batch 1: a stale PARTIAL cell
    # partition is already committed (here: garbage — b1's sketch under
    # batch_id=1), but the streaming checkpoint is not -> the next run
    # reprocesses batch 1 and its dynamic overwrite must REPLACE the
    # partition, not add to it
    toks_b1 = spark.createDataFrame(b1, schema).select(
        F.explode(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("tok"))
    (
        cms_build(toks_b1, depth=4, width=64)
        .withColumn("batch_id", F.lit(1).cast("long"))
        .write.partitionBy("batch_id").mode("append").parquet(sk)
    )
    stream_heavy_hitters(spark, src, sk, str(tmp_path / "c1"), schema,
                         depth=4, width=64).start().awaitTermination(120)

    union = spark.createDataFrame(b1 + b2, schema)
    toks = union.select(F.explode(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("tok"))
    want = sorted(map(tuple, cms_build(toks, depth=4, width=64).collect()))
    got = sorted(map(tuple, merged_sketch(spark, sk).select("row", "bucket", "c").collect()))
    assert got == want

"""Incremental (Structured Streaming) ingestion of transcript data.

The reference is strictly batch (SURVEY.md §2.8) and the north rule's
resumability maps to partition manifests, not streaming checkpoints — but
a transcript table at 10^12-turn scale is append-heavy, and incremental
processing of *new* conversations is the natural companion to the batch
backfill. Two modes:

* ``stream_code_mentions`` / ``stream_mention_rates`` — fully streaming
  (stateless transforms + stream-static joins): readStream → code-mention
  keys → one lookup into the batch pipeline's link dimension
  (:class:`~omop2obo_spark.operators.linking.LinkDim`) → append sink, with
  a watermark dedup for at-least-once sources.
* ``foreachBatch`` sinks (``stream_triples``, ``stream_drift_monitor``,
  ``stream_dedup_against``, ``stream_heavy_hitters``) — the idiomatic
  escape hatch for logic that needs self-joins/windows a pure stream
  can't express. Every one writes through :func:`_overwrite_batch`: its
  output is PARTITIONED BY batch_id with dynamic partition overwrite, so
  a replayed micro-batch (foreachBatch is at-least-once) replaces its own
  partition instead of appending a second copy. A query on a fresh
  checkpoint renumbers its batches from 0 over every input file, so its
  batch 0 first clears those partitions (:func:`_clear_batches`).

All default to ``Trigger.AvailableNow`` — drain what exists, then stop —
which is also how the tests drive them deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop2obo_spark.config import BROADCAST_DIM_MAX_ROWS, SALT_BUCKETS
from omop2obo_spark.fixtures.generators import TRANSCRIPTS_SCHEMA
from omop2obo_spark.functions.normalize import normalize_source_codes
from omop2obo_spark.operators.linking import LINK_VALUE_COLS, LexiconDims
from omop2obo_spark.plans.mention import CODE_PATTERN
from omop2obo_spark.plans.pipeline import KEY_COLS, run_pipeline
from omop2obo_spark.sources.writers import hadoop_path


def _code_mention_keys(stream: DataFrame, vocab_map: dict[str, str]) -> DataFrame:
    """A transcript stream's code mentions as link-dimension keys:
    ``conv_id, turn_idx, ts, pos, mention_id, kind='code', LINK_KEY``.

    The batch pipeline's CODE_PATTERN and ``normalize_source_codes``, so
    batch backfill and incremental ingestion extract and key the same
    mentions; ``ts`` stays so a watermarked dedup can bound its state.
    """
    mentions = stream.select(
        "conv_id", "turn_idx", "ts",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(CODE_PATTERN), 1)
        ).alias("pos", "surface"),
    )
    return mentions.select(
        "conv_id", "turn_idx", "ts", "pos",
        F.concat_ws(":", "conv_id", "turn_idx", F.lit("code"), "pos").alias("mention_id"),
        F.lit("code").alias("kind"),
        normalize_source_codes(F.col("surface"), vocab_map).alias("LINK_KEY"),
    )


def _link_code_mentions(
    keys: DataFrame, lexicon: DataFrame, vocab_map: dict[str, str]
) -> DataFrame:
    """Link code-mention keys through the link dimension (no MRCONSO):
    the keys' columns plus ``LINK_VALUE_COLS``. A stream-static join, so
    it adds no streaming state."""
    link_dim = LexiconDims.from_lexicon(lexicon, vocab_map).link_dim(
        None, None, vocab_map, BROADCAST_DIM_MAX_ROWS, SALT_BUCKETS
    )
    return link_dim.lookup(keys, link_dim.links, KEY_COLS)


def _overwrite_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the ``batch_id`` partition of ``path`` with dynamic
    partition overwrite: a replayed micro-batch (same batch id, same
    files) replaces its own partition instead of appending a second copy."""
    (
        df.withColumn("batch_id", F.lit(batch_id).cast("long"))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )


def _clear_batches(spark: SparkSession, *paths: str) -> None:
    """Delete the :func:`_overwrite_batch` partitions (``batch_id`` >= 0)
    under ``paths``. Each sink calls it when its batch 0 runs, which only
    happens while the checkpoint has no commit: the query regroups every
    input file from batch 0, so an earlier lineage's partitions would stay
    beside the new ones and duplicate their rows (a retried batch 0 finds
    only its own partial partition). Other partitions (a seeded
    ``batch_id=-1`` ledger) stay."""
    for path in paths:
        root, fs = hadoop_path(path, spark)
        if not fs.exists(root):
            continue
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if name.startswith("batch_id=") and not name.startswith("batch_id=-"):
                fs.delete(status.getPath(), True)


def stream_code_mentions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lexicon: DataFrame,
    vocab_map: dict[str, str],
    watermark: str = "1 hour",
):
    """Streaming code-mention linking: parquet source → linked mentions
    (``KEY_COLS + LINK_VALUE_COLS``, the batch pipeline's code-mention
    ``exact_links``).

    Stateless except the watermarked dropDuplicates on (conv_id, turn_idx,
    pos), which runs before the lookup so ``ts`` can bound its state; the
    link-dimension lookup is a stream-static join, so the plan is
    streaming-legal without stream-stream joins. A same-mention duplicate
    link row is left to the batch compaction that reads this sink.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
        .withWatermark("ts", watermark)
    )
    keys = _code_mention_keys(stream, vocab_map).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx", "pos"]
    )
    linked = _link_code_mentions(keys, lexicon, vocab_map).select(*KEY_COLS, *LINK_VALUE_COLS)
    return (
        linked.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def stream_conversation_state(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-conversation running state (total turns seen, max turn index)
    maintained across micro-batches AND across restarts (state lives in the
    streaming checkpoint).

    Append-mode-legal: one cumulative row is emitted per conversation per
    micro-batch that touches it. This is the harness for stateful
    enrichment that window functions can't express incrementally —
    per-conversation dedup horizons, running entity tallies, session
    boundaries — on the transcript stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, turns_total long, max_turn_idx int"
    state_schema = "turns_total long, max_turn_idx int"

    def track(key, pdfs, state: GroupState):
        n, mx = 0, -1
        for pdf in pdfs:
            n += len(pdf)
            # file sources force nullability: one NULL turn_idx arrives as
            # NaN and int(NaN) would kill the whole query — skip the dirty
            # values, keep counting the rows
            vals = pdf["turn_idx"].dropna()
            if len(vals):
                mx = max(mx, int(vals.max()))
        if state.exists:
            pn, pmx = state.get
            n += int(pn)
            mx = max(mx, int(pmx))
        state.update((n, mx))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "turns_total": [n], "max_turn_idx": [mx]}
        )

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
    counted = stream.groupBy("conv_id").applyInPandasWithState(
        track, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return (
        counted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def stream_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lexicon: DataFrame,
    vocab_map: dict[str, str],
):
    """Full exact-tier pipeline per micro-batch via foreachBatch.

    The streaming engine provides source tracking + batch ids; the batch
    pipeline provides the linking semantics, with one ``LexiconDims`` (and
    so one link dimension) per query, not per micro-batch. New transcript
    files appended to ``input_dir`` are picked up on the next trigger.
    Each batch's triples overwrite its ``batch_id`` partition
    (:func:`_overwrite_batch`), so a replayed batch does not duplicate them.

    A fresh checkpoint reprocesses, and replaces, everything under
    ``output_dir``: its batch 0 deletes the earlier ``batch_id``
    partitions, so ``input_dir`` must still hold every earlier file.
    """
    dims = LexiconDims.from_lexicon(lexicon, vocab_map)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            _clear_batches(spark, output_dir)
        if batch_df.isEmpty():
            return
        res = run_pipeline(
            spark, batch_df, lexicon, vocab_map, with_similarity=False, dims=dims
        )
        _overwrite_batch(res.triples, batch_id, output_dir)

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def stream_curate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lang: str = "en",
    min_tokens: int = 5,
    min_alpha_ratio: float = 0.5,
    max_punct_ratio: float = 0.2,
    watermark: str = "1 hour",
):
    """Streaming corpus curation: the funnel's stateless stages (language
    ID, quality floor — pure native expressions) run unchanged on the
    stream; exact dedup becomes ``dropDuplicatesWithinWatermark`` on the
    content hash keyed to ingest time, so dedup state is bounded by the
    watermark horizon (duplicates arriving further apart re-admit — the
    standard streaming-dedup tradeoff, stated rather than hidden). The
    surviving representative of a duplicate group is the first row seen
    in processing order — arrival-order-dependent, unlike the batch
    funnel's deterministic min-id canonical.

    Near-dup LSH needs self-joins a pure stream cannot express: run the
    batch ``curate_corpus`` via ``foreachBatch`` (see
    :func:`stream_triples` for the pattern) or periodic compaction over
    the curated output.
    """
    from omop2obo_spark.operators.dedup import normalized_text
    from omop2obo_spark.operators.textstats import lang_id, quality_features

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", watermark)
    )
    filtered = lang_id(stream).filter(F.col("lang_pred") == lang)
    quality = quality_features(filtered).filter(
        (F.col("q_tokens") >= min_tokens)
        & (F.col("q_alpha_ratio") >= min_alpha_ratio)
        & (F.col("q_punct_ratio") <= max_punct_ratio)
    )
    deduped = (
        quality.withColumn("text_hash", F.md5(normalized_text(F.col("text"))))
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def stream_mention_rates(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lexicon: DataFrame,
    vocab_map: dict[str, str],
    window: str = "1 hour",
    watermark: str = "30 minutes",
):
    """Watermarked tumbling-window entity link rates — the streaming face
    of operators/temporal.py:entity_bursts. Code mentions are linked
    through the link dimension (a stream-static join, like
    :func:`stream_code_mentions`), deduplicated per (mention, URI) and
    aggregated per (event-time window, URI); append mode emits each
    window exactly once, when the watermark passes its end, so late
    transcript files inside the horizon still count and later ones are
    dropped rather than double-emitted.

    Scale shape: the stateful operators are the (mention, URI) dedup and
    the windowed aggregate, whose state is bounded by (#live windows ×
    #entities) — dimension scale, not fact scale; the watermark evicts
    both. One shuffle on the (window, URI) key; extraction and linking
    are stateless map-side work against the link dimension.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
        .withWatermark("ts", watermark)
    )
    # the watermarked per-(mention, URI) dedup gives per-mention counting
    # with bounded state (a full-row distinct would be unbounded)
    linked = _link_code_mentions(
        _code_mention_keys(stream, vocab_map), lexicon, vocab_map
    ).dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "mention_id", "URI"])
    rates = (
        linked.groupBy(F.window("ts", window).alias("win"), F.col("URI"))
        .agg(F.count("*").alias("n_links"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            F.col("URI").alias("uri"),
            "n_links",
        )
    )
    return (
        rates.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def stream_drift_monitor(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    baseline: DataFrame,
    schema,
    cat_col: str = "lang",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "30 minutes",
    eps: float = 1e-6,
):
    """Streaming corpus-drift monitor — the incremental face of
    operators/analysis.py:psi_drift. Per closed event-time window, emit
    the PSI terms of the window's category shares against a STATIC
    baseline snapshot: ingestion keeps flowing, and a window whose total
    PSI spikes (>0.25 in the usual reading) flags a crawl/source shift
    the moment its watermark closes.

    Structure: a watermarked tumbling-window count per (window, cat) is
    the only stateful operator (state bounded by live windows x category
    cardinality); append mode hands each closed window to ``foreachBatch``
    exactly once and in full, so the batch side can compute per-window
    totals, full-outer-join the (tiny, precomputed-once) baseline share
    dim, and apply the identical eps-floor/ln arithmetic as the batch
    operator — then write to parquet PARTITIONED BY batch_id with dynamic
    partition overwrite, so a retried micro-batch (foreachBatch is
    at-least-once) replaces its own partition byte-identically instead of
    appending a second copy of every window's rows. Late rows inside the
    horizon count; later ones are dropped, never double-emitted.

    NULL categories count as their own bucket ('__null__'), like the
    batch operator. Baseline categories with no traffic in a window get
    an emitted row too (q floored at eps) — silence on a formerly-major
    source IS drift.

    A fresh checkpoint reprocesses, and replaces, everything under
    ``output_dir``: its batch 0 deletes the earlier ``batch_id``
    partitions, so ``input_dir`` must still hold every earlier file.
    """
    from omop2obo_spark.operators.analysis import (
        psi_category_shares,
        psi_term_columns,
    )

    # Materialize the tiny baseline-share dim to DRIVER-side literals, not a
    # localCheckpoint: checkpoint blocks live on executors and are not
    # recoverable, so in a long-running stream one decommissioned executor
    # would fail every later micro-batch ("checkpoint block not found")
    # until restart. Collected rows rebuilt as a local relation survive any
    # executor churn and broadcast for free in each emit().
    base_dim = psi_category_shares(baseline, cat_col, "p")
    base_shares = spark.createDataFrame(base_dim.collect(), base_dim.schema)

    stream = (
        spark.readStream.schema(schema).parquet(input_dir)
        .withWatermark(ts_col, watermark)
    )
    win_counts = stream.groupBy(
        F.window(F.col(ts_col), window).alias("win"),
        F.coalesce(F.col(cat_col).cast("string"), F.lit("__null__")).alias("cat"),
    ).agg(F.count("*").alias("n"))

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            _clear_batches(spark, output_dir)
        if batch_df.isEmpty():
            return
        w_tot = batch_df.groupBy("win").agg(F.sum("n").alias("__t"))
        shares = (
            batch_df.join(w_tot, on="win")
            .select("win", "cat", (F.col("n") / F.col("__t")).alias("q"))
        )
        # every closed window must see every baseline category
        wins = batch_df.select("win").distinct()
        full = wins.crossJoin(F.broadcast(base_shares)).join(
            shares, on=["win", "cat"], how="full"
        )
        out = full.select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cat",
            *psi_term_columns(eps),  # identical arithmetic to psi_drift
        )
        _overwrite_batch(out, batch_id, output_dir)

    return (
        win_counts.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def seed_dedup_ledger(
    corpus: DataFrame, ledger_dir: str, text_col: str = "text"
) -> None:
    """Initialize the content-hash ledger for
    :func:`stream_dedup_against` from an existing kept corpus: its
    distinct normalized-content md5 hashes under ``batch_id=-1``. The
    ledger is the dedup state — 32 hex chars per distinct document,
    orders of magnitude smaller than the corpus it summarizes — and the
    ONLY thing later batches read; corpus text is never re-scanned.
    """
    from omop2obo_spark.operators.dedup import normalized_text

    (
        corpus.select(
            F.md5(normalized_text(F.col(text_col))).alias("text_hash")
        )
        .filter(F.col("text_hash").isNotNull())
        .distinct()
        .withColumn("batch_id", F.lit(-1).cast("long"))
        .write.partitionBy("batch_id")
        .mode("overwrite")
        .parquet(ledger_dir)
    )


def stream_dedup_against(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    ledger_dir: str,
):
    """Streaming incremental exact dedup against ALL history — the
    crawl-refresh face of ``operators.dedup.dedup_against``: each
    micro-batch of new documents drops (a) duplicates of anything in the
    hash ledger (the seeded corpus plus every previously kept batch) and
    (b) within-batch duplicates (keeping the deterministic min-id
    canonical, the batch funnel's contract — unlike
    ``dropDuplicatesWithinWatermark``'s arrival-order winner), then
    appends its survivors' hashes to the ledger, so state accumulates
    across batches without any watermark horizon.

    Seed the ledger first with :func:`seed_dedup_ledger` (an empty
    corpus works: ``corpus.limit(0)``).

    Idempotence: output and ledger are PARTITIONED BY batch_id and
    written with dynamic partition overwrite, so a retried micro-batch
    replaces its own partitions byte-identically instead of appending
    twice — the same overwrite-then-commit shape as the batch resume
    layer (plans/checkpoint.py).

    A fresh checkpoint reprocesses, and replaces, everything under
    ``output_dir`` and the ledger's kept-batch partitions: its batch 0
    deletes the earlier ``batch_id`` >= 0 partitions of both, so
    ``input_dir`` must still hold every earlier file, or the documents
    kept from the missing files leave the output and the ledger (the
    seeded ``batch_id=-1`` hashes stay).

    Scale shape: the per-batch ledger read scans hashes only (32 hex
    chars per distinct doc ever kept); the anti-join shuffles the batch
    on the hash, never its text; the within-batch canonical is
    exact_dedup's min-struct (one hash shuffle, NULL-text singletons
    preserved).
    """
    from omop2obo_spark.operators.dedup import exact_dedup, normalized_text

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            _clear_batches(spark, output_dir, ledger_dir)
        if batch_df.isEmpty():
            return
        # Only FULLY-COMMITTED earlier batches: a retried batch must not
        # anti-join against its own partially-committed ledger partition,
        # or docs whose hashes survived the partial commit would vanish
        # from the rewritten output partition. batch_id is the partition
        # key, so this filter prunes at the source. Read with its schema,
        # a ledger with no partition yet (an empty seed, or one cleared for
        # a fresh checkpoint) is empty instead of unreadable.
        ledger = (
            spark.read.schema("text_hash string, batch_id long").parquet(ledger_dir)
            .filter(F.col("batch_id") < F.lit(batch_id))
            .select("text_hash")
        )
        canon = exact_dedup(batch_df)
        in_batch_kept = canon.filter(F.col("doc_id") == F.col("canonical_id"))
        kept = (
            batch_df.join(
                in_batch_kept.select("doc_id", "text_hash"), on="doc_id"
            )
            .join(ledger, on="text_hash", how="left_anti")
        )
        _overwrite_batch(kept.drop("text_hash"), batch_id, output_dir)
        _overwrite_batch(
            kept.select("text_hash").filter(F.col("text_hash").isNotNull()).distinct(),
            batch_id, ledger_dir,
        )

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stream_heavy_hitters(
    spark: SparkSession,
    input_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
):
    """Streaming count-min maintenance: each micro-batch's token stream
    becomes one CMS cell table (``operators.sketch.cms_build``) written
    PARTITIONED BY batch_id with dynamic partition overwrite — the
    replay-idempotent ledger shape shared with :func:`stream_dedup_against`.

    Why this shape: CMS cells are SUMMABLE (the sketch of a union is the
    cell-wise sum of the sketches), so the reader merges all history with
    one bounded groupBy — no per-batch rescans of text, no unbounded
    streaming state, no watermark horizon. Stream state on disk is at
    most n_batches * depth * width rows of three integers, independent of
    corpus size; :func:`merged_sketch` collapses it to depth*width.

    Query the merged sketch with ``operators.sketch.cms_estimate``; the
    mergeability contract (merged estimate == batch-built estimate over
    the union corpus, exactly) is pinned in tests.

    Idempotency scope (same as the other foreachBatch ledgers): a RETRY
    of a micro-batch within one checkpoint lineage replaces its own
    partition byte-identically. Reprocessing from a FRESH checkpoint may
    group the same files into different batch ids, so its batch 0 deletes
    the sketch dir's earlier ``batch_id`` partitions: ``input_dir`` must
    still hold every earlier file.
    """
    from omop2obo_spark.operators.sketch import cms_build
    from omop2obo_spark.operators.textstats import tokens

    stream = spark.readStream.schema(schema).parquet(input_dir)

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            _clear_batches(spark, sketch_dir)
        if batch_df.isEmpty():
            return
        toks = batch_df.select(
            F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok")
        )
        _overwrite_batch(cms_build(toks, depth=depth, width=width), batch_id, sketch_dir)

    return (
        stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def merged_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Collapse the per-batch CMS ledger to one depth*width sketch:
    cell-wise sum (CMS mergeability). Bounded output regardless of how
    many batches have run."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )

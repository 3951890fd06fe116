"""One benchmark driver process: the job ``tools/submit_job.py`` runs.

Started fresh for every benchmark run, like a ``spark-submit`` launch:

    session start -> dimension prep        (timed as set-up; untraced runs
                                            set up three times more after
                                            the launch has written the input)
    transcripts_from_documents -> parquet  (untimed input set-up)
    read_transcripts -> run_partitioned(build=run_pipeline(...).triples)
        -> GraphSink + manifest            (timed, repeated)

Usage (``run.py`` writes the config and reads the result):

    python3 perfbench/job.py <config.json>
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
ORACLE_WAIT_S = 120  # run.py replays the oracle while the launch writes the input


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_mb(pid: int) -> tuple[float, bool]:
    """Resident MB of ``pid`` and whether it is a Python process."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
        with open(f"/proc/{pid}/comm") as f:
            is_py = f.read().startswith("python")
    except (OSError, IndexError, ValueError):
        return 0.0, False
    return pages * PAGE_KB / 1024.0, is_py


class RssSampler:
    """Samples the resident memory of this driver process and all of its
    descendants (the JVM, the PySpark daemon and its Python workers) from
    /proc and keeps the peaks of the total and of the Python workers."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.py_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self) -> None:
        self.peak_mb = self.py_peak_mb = 0.0

    def sample(self) -> None:
        me = os.getpid()
        kids = _children()
        total, workers, todo = _rss_mb(me)[0], 0.0, list(kids.get(me, []))
        while todo:
            pid = todo.pop()
            mb, is_py = _rss_mb(pid)
            total += mb
            if is_py:
                workers += mb
            todo.extend(kids.get(pid, []))
        self.peak_mb = max(self.peak_mb, total)
        self.py_peak_mb = max(self.py_peak_mb, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class ClockSink:
    """Wraps a ``GraphSink``; stamps each batch's start (its first
    'pending' record) and end (its last 'done' record). Every other
    attribute is the wrapped sink's."""

    def __init__(self, inner, call=None):
        self._inner = inner
        self._call = call or (lambda name, fn, *a, **k: fn(*a, **k))
        self.batches: list[dict] = []
        self._open: dict | None = None

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def traced(*a, **k):
            return self._call(f"sources.writers.{name}", attr, *a, **k)

        return traced

    def record(self, run_id, part_id, status, *a, **k):
        now = time.perf_counter()
        if status == "pending":
            if self._open is None:
                self._open = {"start": now, "end": None, "parts": [], "done": []}
                self.batches.append(self._open)
            self._open["parts"].append(part_id)
        out = self._call("sources.writers.record", self._inner.record,
                         run_id, part_id, status, *a, **k)
        if status == "done" and self._open is not None:
            self._open["done"].append(part_id)
            self._open["end"] = time.perf_counter()
            if len(self._open["done"]) == len(self._open["parts"]):
                self._open = None
        return out


def wait_for(path: str, timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while not os.path.exists(path):
        if time.time() > deadline:
            return False
        time.sleep(0.05)
    return True


class SetUp:
    """Session start and dimension prep: the work between a launch and
    the first batch."""

    def __init__(self, cfg: dict, conf: dict):
        from omop2obo_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{cfg['workload']['name']}",
                               master=f"local[{cfg['nproc']}]",
                               shuffle_partitions=2 * cfg["nproc"], extra_conf=conf)
        # ship the package to the Python workers as --py-files would: the
        # TfidfModel broadcast is unpickled there and imports the package
        self.spark.sparkContext.addPyFile(cfg["zip"])
        self.session_s = time.perf_counter() - t0

    def prep_dims(self) -> None:
        from omop2obo_spark.fixtures.generators import (
            ancestors_df,
            lexicon_df,
            mrconso_df,
            mrsty_df,
            vocab_map_dict,
        )
        from omop2obo_spark.operators.linking import LexiconDims

        t0 = time.perf_counter()
        self.lexicon = lexicon_df(self.spark)
        self.vocab_map = vocab_map_dict()
        self.dims = LexiconDims.from_lexicon(self.lexicon, self.vocab_map)
        self.mrconso, self.mrsty = mrconso_df(self.spark), mrsty_df(self.spark)
        self.ancestors = ancestors_df(self.spark)
        self.dims_s = time.perf_counter() - t0


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    spawn_ts = cfg["spawn_ts"]
    sys.path.insert(0, cfg["repo"])
    wl, work = cfg["workload"], cfg["work"]
    trace = bool(cfg["trace"])
    result: dict = {"reps": [], "errors": [], "phases_s": {}}

    def phase(name: str) -> None:
        result["phases_s"][name] = round(time.time() - spawn_ts, 2)

    import trace_layers as tl
    from omop2obo_spark.fixtures.generators import transcripts_from_documents

    tmp = os.path.join(work, "tmp")
    # keep every file the JVM writes inside the run's directory
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.defaultJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     # plan text is not rolled up; the node tree is
                     "spark.sql.maxPlanStringLength": "256"})
    tr_path = os.path.join(work, "transcripts")

    def write_input(spark) -> None:
        """Untimed input set-up: the program reads the transcripts as parquet."""
        transcripts_from_documents(spark, cfg["docs_dir"]).write.parquet(tr_path)

    def wait_oracle() -> None:
        if not wait_for(os.path.join(work, "oracle_done"), ORACLE_WAIT_S):
            result["errors"].append("oracle did not finish in time")

    su = SetUp(cfg, conf)  # a fresh JVM, as a spark-submit launch
    phase("launched")
    if trace:
        # the launch's own set-up, for the per-layer split; run.py replays
        # the oracle only after it
        su.prep_dims()
        result["session_start_s"], result["dims_s"] = su.session_s, su.dims_s
        result["setups_s"] = [time.time() - spawn_ts]
        open(os.path.join(work, "setup_done"), "w").close()
        write_input(su.spark)
    else:
        # the launch writes the input while run.py replays the oracle; then
        # set-up runs several times in this JVM (new SparkContext, dims
        # prepared again), and setup_s is the median: JVM start and JIT
        # warm-up vary with the host far more than the set-up work does
        write_input(su.spark)
        phase("input_written")
        wait_oracle()
        phase("oracle_done")
        result["setups_s"] = []
        for _ in range(cfg["setups"]):
            su.spark.stop()
            su = SetUp(cfg, conf)
            su.prep_dims()
            result["setups_s"].append(su.session_s + su.dims_s)
    result["setup_s"] = statistics.median(result["setups_s"])
    spark = su.spark
    result["spark_version"] = spark.version
    result["clock_offset"] = time.time() - time.perf_counter()

    from omop2obo_spark.plans import pipeline
    from omop2obo_spark.plans.checkpoint import run_partitioned
    from omop2obo_spark.sources.readers import read_transcripts
    from omop2obo_spark.sources.writers import GraphSink

    transcripts = read_transcripts(spark, tr_path)
    phase("set_up")
    per_bucket: dict = {}
    if trace:
        # turns per bucket, for the fixed/marginal fit over batches
        probe = GraphSink(os.path.join(work, "bucket-probe"), n_buckets=wl["buckets"])
        per_bucket = {r["part_id"]: r["count"] for r in
                      probe.with_part_id(transcripts).groupBy("part_id").count().collect()}
        result["turns_in"] = sum(per_bucket.values())
        wait_oracle()
    else:
        result["turns_in"] = parquet_rows(tr_path)

    tracer = tl.Tracer(spark.sparkContext) if trace else None
    layout = wl["batch_partitions"]

    def build_with(ckpt: str):
        def build(subset):
            return pipeline.run_pipeline(
                spark, subset, su.lexicon, su.vocab_map,
                mrconso=su.mrconso, mrsty=su.mrsty, ancestors=su.ancestors,
                with_similarity=wl["with_similarity"], dims=su.dims,
                checkpoint_dir=ckpt,
            ).triples

        return build

    def one_rep(i: int, role: str, batch_partitions) -> dict:
        traced = role == "traced"
        rep_dir = os.path.join(work, f"rep{i}")
        ckpt = os.path.join(rep_dir, "checkpoints")
        call = tracer.call if traced else None
        sink = ClockSink(GraphSink(os.path.join(rep_dir, "sink"), n_buckets=wl["buckets"]), call)
        build = build_with(ckpt)

        if traced:
            tracer.start(i)
            build_fn = lambda subset: tracer.call("plans.pipeline.build", build, subset)  # noqa: E731
            run = lambda: tracer.call(  # noqa: E731
                "plans.checkpoint.run_partitioned", run_partitioned,
                spark, transcripts, build_fn, sink, batch_partitions=batch_partitions,
                run_id=f"rep{i}")
        else:
            run = lambda: run_partitioned(  # noqa: E731
                spark, transcripts, build, sink, batch_partitions=batch_partitions,
                run_id=f"rep{i}")
        rep = {"rep": i, "role": role, "traced": traced, "batch_partitions": batch_partitions,
               "sink": os.path.join(rep_dir, "sink", "triples"), "ok": True}
        t0 = time.perf_counter()
        try:
            run()
        except Exception:  # a failed run is reported, not fatal to the benchmark
            rep["ok"] = False
            result["errors"].append(traceback.format_exc())
        rep["wall_s"] = time.perf_counter() - t0
        if traced:
            rep["spans"] = tracer.stop()
            rep["counts"] = tracer.counts() if rep["ok"] else {}
        rep["batches"] = [
            {"start": b["start"], "wall_s": (b["end"] or b["start"]) - b["start"], "ok": b["end"] is not None
             and len(b["done"]) == len(b["parts"]),
             "turns": sum(per_bucket.get(p, 0) for p in b["parts"]), "parts": len(b["parts"])}
            for b in sink.batches
        ]
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.clearCache()
        return rep

    def time_left() -> bool:
        """Whether one more job, as slow as the slowest so far, still ends
        well before the run's deadline."""
        return time.time() + 1.5 * max(r["wall_s"] for r in result["reps"]) < cfg["deadline_ts"]

    def schedule():
        """(role, batch_partitions) of each job this driver runs."""
        if trace:
            # the cold job warms the JVM and the Python workers; for exact
            # tiers it runs the other batch layout (layout invariance, and
            # with the warm job the fixed/marginal fit). The traced and the
            # untraced warm job give the tracing overhead; which runs first
            # alternates with the seed, so the order's bias does too.
            yield "cold", cfg["alt_batch_partitions"] or layout
            for role in ("traced", "untraced")[::1 if cfg["seed"] % 2 else -1]:
                yield role, layout
            return
        start = time.perf_counter()
        yield "job", layout
        while time.perf_counter() - start < cfg["seconds"] and time_left():
            yield "job", layout

    with RssSampler() as rss:
        for i, (role, bp) in enumerate(schedule()):
            rss.reset()
            rep = one_rep(i, role, bp)
            rep["peak_rss_mb"], rep["py_peak_rss_mb"] = rss.peak_mb, rss.py_peak_mb
            result["reps"].append(rep)
    phase("jobs_done")
    spark.stop()
    phase("stopped")
    with open(cfg["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))

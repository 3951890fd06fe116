"""Production-path benchmark for the transcripts -> triples job.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run:

1. writes a seeded ``documents`` table (``inputs.py``) and packages
   ``omop2obo_spark`` with ``tools/package_pyfiles.py`` for the workers;
2. starts one fresh driver process (``job.py``) at ``local[nproc]``, like a
   ``spark-submit`` launch. The launch writes the transcripts parquet
   (untimed); then the driver sets up the session and dimensions three
   times in its JVM (``setup_s`` is the median) and runs
   ``run_partitioned`` into a fresh ``GraphSink`` until ``--seconds``
   have passed, at least once: with BENCHMARK.json's ``run_seconds`` that
   is one job, the first of the driver;
3. replays the same documents through the DuckDB oracle
   (``fixtures/kg_oracle.py``) while the driver launches and writes its
   input, and compares every job's sink with it;
4. prints one context line (host, sizes, checks) and, last, one JSON
   result line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` sets up once,
at the launch (the oracle runs after that), and runs the job cold (exact
tiers: in another batch layout, compared with the main one), then warm
traced and untraced (in an order that alternates with the seed), and
reports the per-layer metrics of the traced job (``trace_layers.py``).
``--tiny`` shrinks the input to a few hundred turns (``test_smoke.py``).
Everything is written under ``.perfbench_work/`` and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 170.0  # the whole run, including set-up and the oracle
TINY_DEADLINE_S = 480.0  # smoke runs: 8 batches in the other layout
TAIL_S = 20.0  # kept free at the end of a run: session stop, output checks
SETUPS = 3  # timed set-ups per untraced run; setup_s is their median


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke size: a few hundred turns")
    return p.parse_args(argv)


def host_probe_ms() -> float:
    """Wall time of a fixed pure-Python loop: a host-speed reference."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def kill_tree(proc: subprocess.Popen) -> None:
    """Stop the driver and everything it started (JVM, Python workers) and
    wait until they have ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.05)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    for need in ("omop2obo_spark/plans/checkpoint.py", "tools/package_pyfiles.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    import inputs
    import oracle
    import trace_layers

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = inputs.WORKLOADS[args.workload]
    n_docs = inputs.TINY_DOCS if args.tiny else wl.docs
    started = time.time()
    deadline_s = TINY_DEADLINE_S if args.tiny else DEADLINE_S
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work", uuid.uuid4().hex[:12])
    os.makedirs(work)
    proc = None
    try:
        docs_dir = os.path.join(work, "docs")
        doc_info = inputs.write_documents(
            os.path.join(docs_dir, "documents.parquet"), n_docs, wl.vocab, args.seed)
        from tools.package_pyfiles import build as package_pyfiles

        zip_path = package_pyfiles(os.path.join(work, "omop2obo_spark.zip"))
        cfg = {
            "repo": root, "seed": args.seed, "work": work, "workload": wl.as_dict(), "nproc": nproc,
            "seconds": 0 if args.tiny else args.seconds, "trace": args.trace, "zip": zip_path,
            "docs_dir": docs_dir, "result": os.path.join(work, "result.json"),
            # the TF-IDF tier fits its corpus statistics per batch, so only
            # the exact-tier workloads are batch-layout invariant
            # traced runs: batches of 12 and 4 buckets, so the fixed/marginal
            # fit sees two batch sizes; smoke runs: 8 batches of 2
            "alt_batch_partitions": None if wl.with_similarity else (2 if args.tiny else 12),
            "setups": SETUPS, "deadline_ts": started + deadline_s - TAIL_S,
        }
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp,
                   SPARK_GRAFT_DRIVER_MEM="3g", PYSPARK_PYTHON=sys.executable)
        env.pop("PYTHONPATH", None)  # workers get the package from the zip only
        cfg["spawn_ts"] = time.time()
        cfg_path = os.path.join(work, "job.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        log_path = os.path.join(work, "driver.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "job.py"), cfg_path],
                cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
        # the oracle overlaps the launch and the (untimed) input write, and
        # neither a timed set-up nor a timed job; a traced run times the
        # launch's own set-up, so there it waits for that
        while args.trace and not os.path.exists(os.path.join(work, "setup_done")):
            if proc.poll() is not None or time.time() - started > deadline_s / 2:
                break
            time.sleep(0.05)
        expected = oracle.Oracle(docs_dir, wl.with_similarity)
        open(os.path.join(work, "oracle_done"), "w").close()
        try:
            proc.wait(timeout=max(1.0, deadline_s - (time.time() - started)))
        except subprocess.TimeoutExpired:
            kill_tree(proc)
            print("perfbench: driver did not finish in time", file=sys.stderr)
            return 3
        kill_tree(proc)  # reap anything the driver left behind
        if proc.returncode != 0 or not os.path.exists(cfg["result"]):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            print("perfbench: driver failed", file=sys.stderr)
            return 3
        with open(cfg["result"]) as f:
            res = json.load(f)
        for err in res["errors"]:
            sys.stderr.write(err + "\n")
        checks = oracle.check_reps(expected, res["reps"], doc_info["turns"], res["turns_in"])
        context = {
            "workload": wl.name, "seed": args.seed, "nproc": nproc,
            "spark_version": res["spark_version"], "host_probe_ms": round(host_probe_ms(), 2),
            "docs": doc_info["docs"], "turns": res["turns_in"], "doc_vocab": doc_info["vocab"],
            "buckets": wl.buckets, "batch_partitions": wl.batch_partitions,
            "oracle_triples": expected.size,
            "job_walls_s": {f"{r['rep']}:{r['role']}": round(r["wall_s"], 3) for r in res["reps"]},
            "phases_s": {**res["phases_s"], "checked": round(time.time() - cfg["spawn_ts"], 2)},
            "setups_s": [round(s, 3) for s in res["setups_s"]], **checks["summary"],
        }
        if args.trace:
            metrics = trace_layers.layer_metrics(res, os.path.join(work, "events"), checks)
            metrics = {k: {"value": v, "unit": trace_layers.UNITS[k]} for k, v in metrics.items()}
        else:
            metrics = end_to_end(res)
        attempted = failed = 0
        for r in res["reps"]:
            bad = sum(1 for b in r["batches"] if not b["ok"])
            if not r["ok"] and bad == 0:  # the job failed outside any batch
                attempted, bad = attempted + 1, 1
            attempted += len(r["batches"])
            failed += bad
        context["fail_ratio"] = failed / attempted
        context["attempted_batches"] = attempted
        correct = checks["correct"] and not res["errors"] and failed == 0
        print(json.dumps({"context": context}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            kill_tree(proc)
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(res: dict) -> dict:
    """Medians over the driver's jobs; with ``--seconds`` shorter than one
    job (as in BENCHMARK.json) that is the single job of a fresh launch."""
    reps = res["reps"]
    turns = res["turns_in"]
    batch_walls = [b["wall_s"] for r in reps for b in r["batches"]]
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "turns_per_s": {"value": statistics.median(turns / r["wall_s"] for r in reps),
                        "unit": "1/s"},
        "batch_s_p50": {"value": statistics.median(batch_walls or [r["wall_s"] for r in reps]),
                        "unit": "s"},
        "peak_rss_mb": {"value": statistics.median(r["peak_rss_mb"] for r in reps),
                        "unit": "MB"},
    }


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

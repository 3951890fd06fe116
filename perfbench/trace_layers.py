"""Tracing from outside the program, and the per-layer roll-up.

``Tracer`` wraps the calls the benchmark makes into each layer's public
functions: the build callable, every ``GraphSink`` method (through
``job.ClockSink``) and the calls ``plans.pipeline`` makes into
``plans.mention``, ``operators.linking``, ``operators.similarity`` and
``operators.compile`` (patched in that module's namespace for the traced
runs only). Each wrapper records a span (name, start, end, parent). Spark
work that a layer starts after one wrapped call returns and before the
next begins (the eager stage checkpoints, the probe, the read-back count)
is recorded as a gap span named ``<previous call>>gap``.

Every Spark job carries the id of the span it started in (a local
property, so it lands in the event log). ``layer_metrics`` reads Spark's
JSON event log and charges each stage's task time, CPU, GC, shuffle,
spill and Python (Arrow) bytes to a layer, by the plan operators the
stage ran; see ``stage_layer``.
"""

from __future__ import annotations

import glob
import json
import re
import statistics
import time

SPAN_KEY = "perfbench.span"

# (module, attribute) -> span name; patched only while a traced run is on
PATCHES = {
    "omop2obo_spark.plans.pipeline": {
        "detect_mentions": "plans.mention.detect_mentions",
        "prepare_mrconso": "operators.linking.prepare_mrconso",
        "umls_annotate": "operators.linking.umls_annotate",
        "dbxref_link": "operators.linking.dbxref_link",
        "exact_string_link": "operators.linking.exact_string_link",
        "_expand_ancestors": "plans.pipeline.expand_ancestors",
        "build_ont_corpus": "operators.similarity.build_ont_corpus",
        "distributed_query_stats": "operators.similarity.distributed_query_stats",
        "fit_tfidf_ont_vocab": "operators.similarity.fit_tfidf_ont_vocab",
        "similarity_scores": "operators.similarity.similarity_scores",
        "filter_similarity_matches": "operators.similarity.filter_similarity_matches",
        "compile_mappings": "operators.compile.compile_mappings",
        "build_triples": "plans.pipeline.build_triples",
    },
    # run_pipeline imports this one from the module at call time
    "omop2obo_spark.operators.linking": {
        "localize_dim_checked": "operators.linking.localize_dim_checked",
    },
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.gap: dict | None = None
        self.kept: dict[str, tuple] = {}
        self.on = False
        self.rep = -1
        self._saved: list[tuple] = []

    # -- span bookkeeping --------------------------------------------------
    def _tag(self, span_id) -> None:
        self.sc.setLocalProperty(SPAN_KEY, None if span_id is None else f"{self.rep}:{span_id}")

    def _open(self, name: str, parent) -> dict:
        span = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
                "end": None, "parent": parent}
        self.spans.append(span)
        self._tag(span["id"])
        return span

    def _end_gap(self) -> None:
        if self.gap is not None:
            self.gap["end"] = time.perf_counter()
            self.gap = None

    def call(self, name: str, fn, *a, **k):
        if not self.on:
            return fn(*a, **k)
        self._end_gap()
        parent = self.stack[-1] if self.stack else None
        span = self._open(name, parent)
        self.stack.append(span["id"])
        try:
            out = fn(*a, **k)
            self.kept[name] = (a, k, out)
            return out
        finally:
            self._end_gap()
            span["end"] = time.perf_counter()
            self.stack.pop()
            if parent is None:
                self._tag(None)
            else:
                self.gap = self._open(f"{name}>gap", parent)

    # -- install / remove --------------------------------------------------
    def start(self, rep: int) -> None:
        import importlib

        self.spans, self.stack, self.kept, self.gap, self.rep = [], [], {}, None, rep
        for mod_name, attrs in PATCHES.items():
            mod = importlib.import_module(mod_name)
            for attr, span_name in attrs.items():
                fn = getattr(mod, attr)
                self._saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrapper(span_name, fn))
        self.on = True

    def _wrapper(self, span_name: str, fn):
        def traced(*a, **k):
            return self.call(span_name, fn, *a, **k)

        return traced

    def stop(self) -> list[dict]:
        self.on = False
        self._end_gap()
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved = []
        self._tag(None)
        return self.spans

    # -- row counts at layer boundaries, untimed, after the traced run -----
    def counts(self) -> dict:
        from pyspark.sql import functions as F

        self._tag(None)
        key_cols = ["conv_id", "turn_idx", "mention_id"]
        out: dict = {}
        kept = self.kept
        # concept links, ancestor links and mappings, counted in one job
        tiers = [(kept[k][2], tier) for k, tier in (
            ("operators.linking.dbxref_link", "concept_links"),
            ("operators.linking.exact_string_link", "concept_links"),
            ("plans.pipeline.expand_ancestors", "ancestor_links"),
            ("operators.compile.compile_mappings", "mappings_out")) if k in kept]
        if tiers:
            rows = tiers[0][0].select(*key_cols, F.lit(tiers[0][1]).alias("__tier"))
            for df, tier in tiers[1:]:
                rows = rows.unionByName(df.select(*key_cols, F.lit(tier).alias("__tier")))
            for r in rows.groupBy("__tier").agg(F.count(F.lit(1)).alias("n"),
                                                F.countDistinct(*key_cols).alias("keys")).collect():
                out[r["__tier"]] = r["n"]
                if r["__tier"] == "concept_links":
                    out["linked_mentions"] = r["keys"]
        if "operators.similarity.similarity_scores" in kept:
            # similarity_scores(spark, queries, model, ...)
            a, _k, _ = kept["operators.similarity.similarity_scores"]
            out["docs_scored"] = a[1].count()
            out["model_mb"] = _model_mb(a[2])
            matches = kept["operators.similarity.filter_similarity_matches"][2]
            out["docs_matched"] = matches.filter(F.col("rank") == 1).count()
        return out


def _model_mb(model) -> float:
    """Broadcast size of a TfidfModel: its pickle, dense ont_mat included."""
    import pickle

    return len(pickle.dumps(model, protocol=pickle.HIGHEST_PROTOCOL)) / 1e6


# -- roll-up --------------------------------------------------------------

LAYERS = ("plans.mention", "operators.linking", "operators.similarity",
          "operators.compile", "plans.pipeline", "plans.checkpoint", "sources.writers")
# stage-level data flow order, used to break ties between recognized nodes
FLOW = {name: i for i, name in enumerate(LAYERS)}
# eager stage checkpoints (plans/pipeline.py _checkpoint) by output name
CHECKPOINT_LAYER = {"mentions": "plans.mention", "exact_links": "operators.linking",
                    "sim_queries": "operators.similarity", "mappings": "operators.compile"}
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")

UNITS = {
    "session.start_s": "s",
    "operators.linking.dims_s": "s",
    "sources.readers.turns_in": "count",
    "plans.mention.task_s": "s",
    "plans.mention.gc_s": "s",
    "plans.mention.arrow_bytes": "B",
    "plans.mention.mentions_out": "count",
    "plans.mention.code_mentions": "count",
    "plans.mention.term_mentions": "count",
    "operators.linking.plan_s": "s",
    "operators.linking.task_s": "s",
    "operators.linking.broadcast_joins": "count",
    "operators.linking.links_out": "count",
    "operators.linking.ancestor_links": "count",
    "operators.linking.hit_ratio": "ratio",
    "operators.similarity.stats_s": "s",
    "operators.similarity.score_task_s": "s",
    "operators.similarity.docs_scored": "count",
    "operators.similarity.match_ratio": "ratio",
    "operators.similarity.model_mb": "MB",
    "operators.similarity.py_peak_rss_mb": "MB",
    "operators.compile.task_s": "s",
    "operators.compile.shuffle_mb": "MB",
    "operators.compile.mappings_out": "count",
    "plans.pipeline.build_s": "s",
    "plans.pipeline.triples_task_s": "s",
    "plans.pipeline.triples_shuffle_mb": "MB",
    "plans.pipeline.dup_ratio": "ratio",
    "plans.checkpoint.batches": "count",
    "plans.checkpoint.jobs_per_batch": "count",
    "plans.checkpoint.probe_s": "s",
    "plans.checkpoint.no_job_s": "s",
    "plans.checkpoint.task_s": "s",
    "plans.checkpoint.cpu_s": "s",
    "plans.checkpoint.gc_s": "s",
    "plans.checkpoint.spill_mb": "MB",
    "plans.checkpoint.fixed_s": "s",
    "plans.checkpoint.marginal_us_per_turn": "us",
    "sources.writers.write_s": "s",
    "sources.writers.clear_s": "s",
    "sources.writers.readback_s": "s",
    "sources.writers.manifest_s": "s",
    "sources.writers.files_written": "count",
    "sources.writers.bytes_per_triple": "B",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
}


def span_layer(span: dict, spans: list[dict]) -> str:
    """The layer (module) a span's own time belongs to. A gap belongs to
    the call it follows, except under ``run_partitioned``: the gap after
    the post-build ``with_part_id`` is the probe (persist + distinct
    collect) and the gap after ``read_triples`` is the read-back count."""
    name = span["name"]
    if name.endswith(">gap"):
        call = name[:-4]
        parent = spans[span["parent"]]["name"] if span["parent"] is not None else ""
        if parent == "plans.checkpoint.run_partitioned":
            return "sources.writers" if call == "sources.writers.read_triples" else "plans.checkpoint"
        name = call
    if name == "plans.pipeline.expand_ancestors":
        return "operators.linking"  # the ancestor tier
    return ".".join(name.split(".")[:2])


def _agg_keys(simple: str) -> list[str] | None:
    m = re.search(r"keys?=\[([^\]]*)\]", simple)
    if not m:
        return None
    return [k.strip().split("#")[0] for k in m.group(1).split(",") if k.strip()]


def node_layer(node: dict) -> str | None:
    """The layer a physical operator belongs to, for operators that mark
    one; ``python-map`` is an Arrow map (mention scan or TF-IDF scoring)."""
    name, simple = node["name"], node["simple"]
    if "MapInPandas" in name or "MapInArrow" in name:
        return "python-map"
    if name == "BroadcastHashJoin":
        return "operators.linking"
    if name == "Window":
        return "operators.similarity"
    if name == "Generate" and "explode" in simple and "pred" in simple:
        return "plans.pipeline"
    if name.endswith("Aggregate"):
        keys = _agg_keys(simple) or []
        if {"subj", "pred", "obj"} <= set(keys):
            return "plans.pipeline"  # the triple dedup
        if keys == ["part_id"]:
            return "plans.checkpoint"  # the pre-write partition probe
        if "sim_uri" in keys or keys[:1] in (["k"], ["g"], ["__k"]):
            return "operators.similarity"
        if keys == ["conv_id", "turn_idx", "mention_id"]:
            return "plans.pipeline"  # the per-mention semantic-type concat
        if "mention_id" in keys:
            return "operators.linking" if "CODE" in keys else "operators.compile"
    return None


class EventLog:
    """The parts of one Spark JSON event log the roll-up needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.accums: dict[int, dict] = {}  # SQL metric accumulator -> plan node
        self.plans: dict[int, dict] = {}  # execution id -> latest plan tree
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {"id": ev["Job ID"], "submit": ev["Submission Time"] / 1000.0,
                           "end": None, "span": props.get(SPAN_KEY),
                           "exec": int(props.get("spark.sql.execution.id", -1))}
                    self.jobs[job["id"]] = job
                    for sid in ev["Stage IDs"]:
                        self.stage_job[sid] = job["id"]
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev)
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                    self._nodes(ev["sparkPlanInfo"], 0, False)

    def _nodes(self, info: dict, depth: int, bcast: bool) -> None:
        node = {"name": info["nodeName"], "simple": info["simpleString"], "depth": depth,
                "bcast": bcast}
        for m in info["metrics"]:
            self.accums[m["accumulatorId"]] = node
        bcast = bcast or info["nodeName"] == "BroadcastExchange"
        for child in info["children"]:
            self._nodes(child, depth + 1, bcast)

    def _task(self, ev: dict) -> None:
        st = self.stages.setdefault(ev["Stage ID"], {
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read": 0,
            "spill": 0, "py_bytes": 0, "accums": set(), "rows": {}})
        m = ev.get("Task Metrics") or {}
        st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        read = m.get("Shuffle Read Metrics", {})
        st["shuffle_read"] += read.get("Local Bytes Read", 0) + read.get("Remote Bytes Read", 0)
        st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Metadata") == "sql":
                st["accums"].add(acc["ID"])
                if acc.get("Name") in PY_BYTES:
                    st["py_bytes"] += int(acc.get("Update") or 0)
                elif acc.get("Name") == "number of output rows":
                    st["rows"][acc["ID"]] = st["rows"].get(acc["ID"], 0) + int(acc.get("Update") or 0)

    def exec_layer(self, exec_id: int) -> str | None:
        """Layer of an eager stage-checkpoint write, from its output path."""
        plan = self.plans.get(exec_id)
        if plan is None:
            return None
        m = re.search(r"/checkpoints/(\w+)", plan["simpleString"])
        if m is None and plan["children"]:
            m = re.search(r"/checkpoints/(\w+)", plan["children"][0]["simpleString"])
        return CHECKPOINT_LAYER.get(m.group(1)) if m else None

    def stage_layer(self, sid: int, job_layer: str) -> str:
        """Charge a stage to one layer: the recognized operator it runs that
        sits deepest in the plan (first in data-flow order). A stage with
        none that builds a broadcast side feeds a dimension join (linking,
        outside the similarity tier); any other belongs to its job's layer."""
        best, bcast = None, False
        for acc in self.stages[sid]["accums"]:
            node = self.accums.get(acc)
            bcast = bcast or bool(node and node["bcast"])
            layer = node_layer(node) if node else None
            if layer is None:
                continue
            if layer == "python-map":
                layer = "plans.mention" if job_layer == "plans.mention" else "operators.similarity"
            key = (node["depth"], -FLOW[layer])
            if best is None or key > best[0]:
                best = (key, layer)
        if best:
            return best[1]
        return "operators.linking" if bcast and job_layer != "operators.similarity" else job_layer

    def count_nodes(self, exec_id: int, name: str) -> int:
        """Distinct ``name`` operators in an execution's final plan. A reused
        exchange repeats its subtree in the plan tree with the same metric
        accumulators, so operators are told apart by accumulator id."""
        seen: set[int] = set()

        def walk(info):
            if info["nodeName"] == name and info["metrics"]:
                seen.add(info["metrics"][0]["accumulatorId"])
            for c in info["children"]:
                walk(c)

        if exec_id in self.plans:
            walk(self.plans[exec_id])
        return len(seen)


def _self_times(spans: list[dict]) -> dict[str, float]:
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        if s["end"] is None:
            continue
        layer = span_layer(s, spans)
        if layer in out:
            out[layer] += (s["end"] - s["start"]) - child[s["id"]]
    return out


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] covered by the union of ``intervals``."""
    total, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            total += b - a
            cur = b
    return total


def _fit(points: list[tuple[float, float]]) -> tuple[float, float]:
    """Least-squares wall = fixed + turns * marginal; (0, 0) if degenerate."""
    xs = [p[0] for p in points]
    if len(set(xs)) < 2:
        return 0.0, 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(p[1] for p in points)
    sxx = sum((x - mx) ** 2 for x in xs)
    slope = sum((x - mx) * (y - my) for x, y in points) / sxx
    return my - slope * mx, slope


def layer_metrics(res: dict, events_dir: str, checks: dict) -> dict:
    """Per-layer metrics of the traced rep, with the tracing overhead
    against the warm untraced rep."""
    reps = res["reps"]
    main = next(r for r in reps if r["role"] == "traced")
    untraced = next(r for r in reps if r["role"] == "untraced")
    spans, counts = main["spans"], main["counts"]
    stats = next(p for p in checks["per_rep"] if p["rep"] == main["rep"])
    log = EventLog(glob.glob(f"{events_dir}/**/events_*", recursive=True)[0])
    prefix = f"{main['rep']}:"

    # jobs of the main rep and the layer each stage is charged to
    by_layer = {layer: {"run_s": 0.0, "gc_s": 0.0, "shuffle_read": 0, "py_bytes": 0}
                for layer in LAYERS}
    totals = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "spill": 0}
    exploded = 0  # rows out of build_triples' explode, before its dedup
    linking_execs, jobs = set(), []
    for job in log.jobs.values():
        if not (job["span"] or "").startswith(prefix):
            continue
        jobs.append(job)
        span = spans[int(job["span"][len(prefix):])]
        job_layer = log.exec_layer(job["exec"]) or span_layer(span, spans)
        for sid, jid in log.stage_job.items():
            if jid != job["id"] or sid not in log.stages:
                continue
            st = log.stages[sid]
            layer = log.stage_layer(sid, job_layer)
            if layer not in by_layer:
                layer = "plans.checkpoint"
            for k in by_layer[layer]:
                by_layer[layer][k] += st[k]
            for k in totals:
                totals[k] += st[k]
            if layer == "operators.linking":
                linking_execs.add(job["exec"])
            exploded += sum(n for acc, n in st["rows"].items()
                            if acc in log.accums and log.accums[acc]["name"] == "Generate"
                            and node_layer(log.accums[acc]) == "plans.pipeline")

    def span_sum(pred) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["end"] is not None and pred(s))

    def named(*names):
        return lambda s: s["name"] in names

    top = [s for s in spans if s["parent"] == 0]  # calls inside run_partitioned
    probe_s = sum(
        s["end"] - s["start"] for s, nxt in zip(top, top[1:])
        if s["name"] == "sources.writers.with_part_id>gap"
        and nxt["name"] == "sources.writers.clear_partitions")

    batches = main["batches"]
    offset = res["clock_offset"]
    job_iv = [(j["submit"], j["end"] or j["submit"]) for j in jobs]
    no_job = sum(b["wall_s"] - _covered(b["start"] + offset, b["start"] + offset + b["wall_s"], job_iv)
                 for b in batches)
    # warm untraced batches: the warm job's and, in the other layout, the
    # cold job's after its first (which warms the JVM and the workers)
    fit_points = [(b["turns"], b["wall_s"]) for r in reps for i, b in enumerate(r["batches"])
                  if r["role"] == "untraced" or (r["role"] == "cold" and i > 0)]
    fixed, marginal = _fit(fit_points)

    sim_on = bool(counts.get("docs_scored") is not None)
    mentions = stats["stats"]["mentions"]
    mapping_rows = stats["stats"]["mapping_triples"]
    self_s = _self_times(spans)
    mb = 1e6
    out = {
        "session.start_s": res["session_start_s"],
        "operators.linking.dims_s": res["dims_s"],
        "sources.readers.turns_in": res["turns_in"],
        "plans.mention.task_s": by_layer["plans.mention"]["run_s"],
        "plans.mention.gc_s": by_layer["plans.mention"]["gc_s"],
        "plans.mention.arrow_bytes": by_layer["plans.mention"]["py_bytes"],
        "plans.mention.mentions_out": mentions,
        "plans.mention.code_mentions": stats["stats"]["code_mentions"],
        "plans.mention.term_mentions": stats["stats"]["term_mentions"],
        "operators.linking.plan_s": span_sum(
            lambda s: s["name"].startswith("operators.linking.") and not s["name"].endswith(">gap")),
        "operators.linking.task_s": by_layer["operators.linking"]["run_s"],
        "operators.linking.broadcast_joins": sum(
            log.count_nodes(e, "BroadcastHashJoin") for e in linking_execs),
        "operators.linking.links_out": counts.get("concept_links", 0) + counts.get("ancestor_links", 0),
        "operators.linking.ancestor_links": counts.get("ancestor_links", 0),
        "operators.linking.hit_ratio": counts.get("linked_mentions", 0) / mentions if mentions else 0.0,
        "operators.similarity.stats_s": span_sum(named(
            "operators.similarity.build_ont_corpus", "operators.similarity.distributed_query_stats",
            "operators.similarity.fit_tfidf_ont_vocab")),
        "operators.similarity.score_task_s": by_layer["operators.similarity"]["run_s"],
        "operators.similarity.docs_scored": counts.get("docs_scored", 0),
        "operators.similarity.match_ratio": (counts["docs_matched"] / counts["docs_scored"]
                                             if counts.get("docs_scored") else 0.0),
        "operators.similarity.model_mb": counts.get("model_mb", 0.0),
        "operators.similarity.py_peak_rss_mb": main["py_peak_rss_mb"] if sim_on else 0.0,
        "operators.compile.task_s": by_layer["operators.compile"]["run_s"],
        "operators.compile.shuffle_mb": by_layer["operators.compile"]["shuffle_read"] / mb,
        "operators.compile.mappings_out": counts.get("mappings_out", 0),
        "plans.pipeline.build_s": span_sum(named("plans.pipeline.build")),
        "plans.pipeline.triples_task_s": by_layer["plans.pipeline"]["run_s"],
        "plans.pipeline.triples_shuffle_mb": by_layer["plans.pipeline"]["shuffle_read"] / mb,
        "plans.pipeline.dup_ratio": exploded / mapping_rows if mapping_rows else 0.0,
        "plans.checkpoint.batches": len(batches),
        "plans.checkpoint.jobs_per_batch": len(jobs) / max(1, len(batches)),
        "plans.checkpoint.probe_s": probe_s,
        "plans.checkpoint.no_job_s": no_job,
        "plans.checkpoint.task_s": totals["run_s"],
        "plans.checkpoint.cpu_s": totals["cpu_s"],
        "plans.checkpoint.gc_s": totals["gc_s"],
        "plans.checkpoint.spill_mb": totals["spill"] / mb,
        "plans.checkpoint.fixed_s": fixed,
        "plans.checkpoint.marginal_us_per_turn": marginal * 1e6,
        "sources.writers.write_s": span_sum(named("sources.writers.write_partitions")),
        "sources.writers.clear_s": span_sum(named("sources.writers.clear_partitions")),
        "sources.writers.readback_s": span_sum(named(
            "sources.writers.read_triples", "sources.writers.read_triples>gap")),
        "sources.writers.manifest_s": span_sum(named(
            "sources.writers.record", "sources.writers.completed_partitions")),
        "sources.writers.files_written": stats["files"],
        "sources.writers.bytes_per_triple": stats["bytes"] / stats["rows"] if stats["rows"] else 0.0,
        **{f"{layer}.self_s": v for layer, v in self_s.items()},
        "trace.overhead_s": main["wall_s"] - untraced["wall_s"],
    }
    if set(out) != set(UNITS):
        raise RuntimeError(f"per-layer metrics out of step with UNITS: {set(out) ^ set(UNITS)}")
    return out

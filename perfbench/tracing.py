"""Per-layer tracing for the benchmark's traced runs.

Python side: the public functions of each engine layer are wrapped from
outside, both where they are defined and wherever another engine module
imported them by name (``queries.py`` imports most operators at module
top). Each wrapped call is a span; a layer's self time is the span's
duration minus the time of the wrapped calls nested in it. py4j round
trips are counted at the gateway client's ``send_command`` and charged
to the innermost open span of the calling thread.

Spark side: the run writes an uncompressed event log, which
``read_eventlog`` and ``fold`` fold with stdlib ``json``. Jobs, stages
and SQL executions are assigned to the benchmark phase (query, build or
action) whose wall-clock interval holds their submission time, and
eager build jobs to the innermost span open at that moment. The runner
also tags each phase with ``setJobGroup("<workload>|<query>|<phase>")``
for whoever reads the log, but attribution goes by time: streaming
micro-batches run under the stream's own job group.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import re
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "apache_spark_link_prediction_spark"

# Engine module -> layer name. Functions of modules not listed here are
# charged to their caller, ultimately to the ``queries`` registry call.
LAYERS = {
    "sources.readers": "sources",
    "functions.layout": "functions",
    "functions.pairwise": "functions",
    "functions.textstats": "functions",
    "functions.timeutils": "functions",
    "functions.vectors": "functions",
    "operators.dedup": "operators.dedup",
    "operators.similarity": "operators.similarity",
    "operators.graph": "operators.graph",
    "operators.joins": "operators.joins",
    "operators.multimodal": "operators.multimodal",
    "plans.p1": "plans.p1",
    "plans.p2": "plans.p2",
    "plans.text_pipeline": "plans.text_pipeline",
    "streaming.events": "streaming.events",
}
BUILD_LAYERS = tuple(dict.fromkeys(v for v in LAYERS.values() if v != "sources"))
COUNTED_LAYERS = ("operators.dedup", "operators.similarity", "plans.p1", "plans.p2")
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
PYTHON_METRICS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
    "number of output rows": "py_rows",
}


def self_times(spans) -> dict[str, float]:
    """Self time per layer from ``(thread, layer, start, end, depth)``
    spans: each span's duration minus the durations of the spans
    directly nested in it on the same thread."""
    out: dict[str, float] = {}
    by_thread: dict[int, list] = {}
    for thread, layer, start, end, depth in spans:
        by_thread.setdefault(thread, []).append((start, depth, end, layer))
    for items in by_thread.values():
        stack: list[list] = []  # [layer, depth, duration, child time]
        for start, depth, end, layer in sorted(items):
            while stack and stack[-1][1] >= depth:
                lay, _, dur, child = stack.pop()
                out[lay] = out.get(lay, 0.0) + dur - child
            if stack:
                stack[-1][3] += end - start
            stack.append([layer, depth, end - start, 0.0])
        for lay, _, dur, child in stack:
            out[lay] = out.get(lay, 0.0) + dur - child
    return out


@dataclass
class _Open:
    start: float
    py4j: int = 0  # py4j calls made while this span was the innermost


@dataclass
class Phase:
    """One timed step of the run: a query's registry call or its action."""

    pass_idx: int
    query: str
    phase: str  # "build" or "action"
    start: float
    end: float = 0.0
    py4j: int = 0
    layer_calls: dict = field(default_factory=dict)
    layer_py4j: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)  # (thread, layer, start, end, depth)


class Tracer:
    """Wraps the engine's layer functions and the py4j client for the
    lifetime of a traced run; ``close`` restores the originals."""

    def __init__(self):
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.phase: Phase | None = None
        self.phases: list[Phase] = []

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        import py4j.java_gateway as jg

        wrappers: dict[int, object] = {}
        for mod_name, layer in LAYERS.items():
            # Queries import some layers inside their bodies: load them now.
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for name, fn in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                    and not hasattr(fn, "evalType")
                    and not inspect.isgeneratorfunction(fn)
                ):
                    wrappers[id(fn)] = (fn, self._wrap(fn, layer))
        # Rebind every engine-module name that refers to a wrapped function.
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._set(mod, name, hit[1])
        self._set(jg.GatewayClient, "send_command", self._wrap_send(jg.GatewayClient.send_command))

    def _set(self, owner, name, value) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def close(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    def _stack(self) -> list[_Open]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            ph = tracer.phase
            if ph is None or ph.phase != "build":
                return fn(*args, **kwargs)
            stack = tracer._stack()
            depth = len(stack)
            cur = _Open(time.time())
            stack.append(cur)
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.time()
                stack.pop()
                with tracer._lock:
                    ph.layer_calls[layer] = ph.layer_calls.get(layer, 0) + 1
                    ph.layer_py4j[layer] = ph.layer_py4j.get(layer, 0) + cur.py4j
                    ph.spans.append((threading.get_ident(), layer, cur.start, end, depth))

        return span

    def _wrap_send(self, orig):
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            ph = tracer.phase
            if ph is not None and ph.phase == "build":
                stack = tracer._stack()
                with tracer._lock:
                    ph.py4j += 1
                    if stack:
                        stack[-1].py4j += 1
            return orig(client, *args, **kwargs)

        return send_command

    # -- phases ---------------------------------------------------------
    def begin(self, pass_idx: int, query: str, phase: str) -> None:
        self.phase = Phase(pass_idx, query, phase, time.time())

    def end(self) -> None:
        ph = self.phase
        ph.end = time.time()
        self.phase = None
        self.phases.append(ph)


class StreamingProgress:
    """Collects ``(batch start, duration s, input rows)`` per micro-batch
    through a Python ``StreamingQueryListener``."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append(
                    (
                        _iso_epoch(p.timestamp),
                        p.durationMs.get("triggerExecution", 0) / 1000.0,
                        p.numInputRows,
                    )
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


# -- event log -------------------------------------------------------------
def eventlog_files(log_dir: str, app_id: str) -> list[str]:
    """The event files of one application: a single file, or the parts of
    a rolling (``eventlog_v2_``) log in order."""
    single = os.path.join(log_dir, app_id)
    if os.path.exists(single):
        return [single]
    d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    parts = [f for f in os.listdir(d) if f.startswith("events_")]
    return [os.path.join(d, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_eventlog(paths: list[str]) -> dict:
    """Fold an uncompressed Spark event log into jobs, stages and SQL
    executions, all with epoch-second times."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    execs: dict[int, dict] = {}
    for e in _events(paths):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1000.0, "stages": e["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _new_stage())
            st["submit"] = info.get("Submission Time", 0) / 1000.0
            st["end"] = info.get("Completion Time", 0) / 1000.0
            for acc in info.get("Accumulables", []):
                st["accs"][acc["ID"]] = _num(acc.get("Value"))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], _new_stage())
            m = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            st["tasks"] += 1
            st["task_s"].append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            im = m.get("Input Metrics") or {}
            st["bytes_read"] += im.get("Bytes Read", 0)
            st["records_read"] += im.get("Records Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            execs[e["executionId"]] = {"start": e["time"] / 1000.0, "plan": e["sparkPlanInfo"]}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]
    return {"jobs": jobs, "stages": stages, "execs": execs}


def _new_stage() -> dict:
    return {
        "submit": 0.0,
        "end": 0.0,
        "tasks": 0,
        "task_s": [],
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read": 0,
        "shuffle_write": 0,
        "spill": 0,
        "bytes_read": 0,
        "records_read": 0,
        "accs": {},
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_nodes(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _plan_nodes(child)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _owner(phases: list[Phase], t: float) -> Phase | None:
    for ph in phases:
        if ph.start <= t <= ph.end:
            return ph
    return None


def _innermost(spans: list, t: float) -> str | None:
    best = None
    for _, layer, lo, hi, depth in spans:
        if lo <= t <= hi and (best is None or depth > best[1]):
            best = (layer, depth)
    return best[0] if best else None


def fold(log: dict, phases: list[Phase], cores: int) -> dict[int, dict]:
    """Per-phase Spark numbers: ``{id(phase): {...}}``."""
    out: dict[int, dict] = {id(ph): _empty_phase() for ph in phases}
    stage_phase: dict[int, dict] = {}
    for job in log["jobs"].values():
        ph = _owner(phases, job["submit"])
        if ph is None:
            continue
        agg = out[id(ph)]
        agg["jobs"] += 1
        agg["first_job"] = min(agg["first_job"], job["submit"])
        agg["job_s"] += job.get("end", job["submit"]) - job["submit"]
        if ph.phase == "build":
            layer = _innermost(ph.spans, job["submit"])
            if layer is not None:
                agg["layer_jobs"][layer] = agg["layer_jobs"].get(layer, 0) + 1
        for sid in job["stages"]:
            stage_phase[sid] = agg
    python_accs: dict[int, str] = {}
    rows_accs: dict[int, dict] = {}  # phase agg -> first output-rows acc of its plan
    for ex in log["execs"].values():
        ph = _owner(phases, ex["start"])
        nodes = list(_plan_nodes(ex["plan"]))
        for node in nodes:
            if PYTHON_NODE.search(node.get("nodeName", "")):
                for m in node.get("metrics", []):
                    python_accs[m["accumulatorId"]] = m["name"]
        if ph is None or ph.phase != "action":
            continue
        agg = out[id(ph)]
        agg["plan_scans"] += sum(1 for n in nodes if "Scan" in n.get("nodeName", ""))
        agg["plan_exchanges"] += sum(
            1
            for n in nodes
            if "Exchange" in n.get("nodeName", "") and "QueryStage" not in n.get("nodeName", "")
        )
        for n in nodes:
            rows = [m for m in n.get("metrics", []) if m["name"] == "number of output rows"]
            if rows:
                rows_accs[rows[0]["accumulatorId"]] = agg
                break
    acc_final: dict[int, tuple] = {}
    for sid, st in log["stages"].items():
        agg = stage_phase.get(sid)
        if agg is None:
            continue
        agg["stages"] += 1
        agg["tasks"] += st["tasks"]
        agg["run_s"] += st["run_s"]
        agg["cpu_s"] += st["cpu_s"]
        agg["gc_s"] += st["gc_s"]
        agg["shuffle_read"] += st["shuffle_read"]
        agg["shuffle_write"] += st["shuffle_write"]
        agg["spill"] += st["spill"]
        agg["bytes_read"] += st["bytes_read"]
        agg["records_read"] += st["records_read"]
        if st["end"] > st["submit"] > 0:
            agg["stage_iv"].append((st["submit"], st["end"]))
        if st["task_s"] and st["run_s"] >= agg["slowest_stage_s"]:
            agg["slowest_stage_s"] = st["run_s"]
            med = statistics.median(st["task_s"])
            agg["task_skew"] = max(st["task_s"]) / med if med > 0 else 1.0
        if any(a in python_accs for a in st["accs"]):
            agg["py_run_s"] += st["run_s"]
        for a, v in st["accs"].items():
            # Accumulable values are running totals: keep each one's largest.
            if a in python_accs or a in rows_accs:
                acc_final[a] = (agg, max(v, acc_final.get(a, (None, 0.0))[1]))
    for a, (agg, v) in acc_final.items():
        key = PYTHON_METRICS.get(python_accs.get(a))
        if key:
            agg[key] += v
        if rows_accs.get(a) is agg:
            agg["output_rows"] += v
    for agg in out.values():
        agg["in_stage_s"] = _union_s(agg.pop("stage_iv"))
        agg["cores"] = cores
    return out


def _empty_phase() -> dict:
    return {
        "jobs": 0,
        "first_job": float("inf"),
        "job_s": 0.0,
        "layer_jobs": {},
        "stages": 0,
        "tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read": 0,
        "shuffle_write": 0,
        "spill": 0,
        "bytes_read": 0,
        "records_read": 0,
        "stage_iv": [],
        "slowest_stage_s": -1.0,
        "task_skew": 1.0,
        "plan_scans": 0,
        "plan_exchanges": 0,
        "py_run_s": 0.0,
        "py_sent": 0.0,
        "py_returned": 0.0,
        "py_rows": 0.0,
        "output_rows": 0.0,
    }


UNITS = {
    "session.start_s": "s",
    "cold_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "scan.bytes_read": "bytes",
    "scan.records_read": "count",
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "queries.build_share": "ratio",
    **{f"{layer}.build_s": "s" for layer in BUILD_LAYERS},
    **{f"{layer}.py4j_calls": "count" for layer in COUNTED_LAYERS},
    **{f"{layer}.build_jobs": "count" for layer in COUNTED_LAYERS},
    "action.plan_s": "s",
    "action.plan_scans": "count",
    "action.plan_exchanges": "count",
    "action.run_s": "s",
    "action.in_stage_s": "s",
    "action.gap_s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "action.executor_run_s": "s",
    "action.executor_cpu_s": "s",
    "action.gc_s": "s",
    "action.shuffle_read_bytes": "bytes",
    "action.shuffle_write_bytes": "bytes",
    "action.spill_bytes": "bytes",
    "action.task_skew": "ratio",
    "action.core_util": "ratio",
    "action.output_rows": "count",
    "pyworker.stage_run_s": "s",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_returned": "bytes",
    "pyworker.rows_returned": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.input_rows": "count",
    "driver.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.geomean_query_s": "s",
}


RATIOS = ("queries.build_share", "action.task_skew", "action.core_util")


def _query_metrics(phases: list[Phase], spark_by_phase: dict, batches: list, cores: int) -> dict:
    """Per-layer numbers summed over ``phases`` (one query or one whole pass)."""
    m = dict.fromkeys(UNITS, 0.0)
    build = [p for p in phases if p.phase == "build"]
    action = [p for p in phases if p.phase == "action"]
    selfs = self_times([s for p in build for s in p.spans])
    for p in build:
        sp = spark_by_phase[id(p)]
        m["queries.build_s"] += p.end - p.start
        m["queries.py4j_calls"] += p.py4j
        m["queries.build_jobs"] += sp["jobs"]
        m["queries.build_job_s"] += sp["job_s"]
        m["sources.load_calls"] += p.layer_calls.get("sources", 0)
        for layer in COUNTED_LAYERS:
            m[f"{layer}.py4j_calls"] += p.layer_py4j.get(layer, 0)
            m[f"{layer}.build_jobs"] += sp["layer_jobs"].get(layer, 0)
    m["sources.load_s"] = selfs.get("sources", 0.0)
    for layer in BUILD_LAYERS:
        m[f"{layer}.build_s"] = selfs.get(layer, 0.0)
    skew_stage = -1.0
    for p in action:
        sp = spark_by_phase[id(p)]
        run_s = p.end - p.start
        plan_s = min(sp["first_job"] - p.start, run_s) if sp["jobs"] else run_s
        m["action.run_s"] += run_s
        m["action.plan_s"] += max(plan_s, 0.0)
        m["action.in_stage_s"] += sp["in_stage_s"]
        m["action.gap_s"] += max(run_s - max(plan_s, 0.0) - sp["in_stage_s"], 0.0)
        m["action.plan_scans"] += sp["plan_scans"]
        m["action.plan_exchanges"] += sp["plan_exchanges"]
        m["action.jobs"] += sp["jobs"]
        m["action.stages"] += sp["stages"]
        m["action.tasks"] += sp["tasks"]
        m["action.executor_run_s"] += sp["run_s"]
        m["action.executor_cpu_s"] += sp["cpu_s"]
        m["action.gc_s"] += sp["gc_s"]
        m["action.shuffle_read_bytes"] += sp["shuffle_read"]
        m["action.shuffle_write_bytes"] += sp["shuffle_write"]
        m["action.spill_bytes"] += sp["spill"]
        m["action.output_rows"] += sp["output_rows"]
        if sp["slowest_stage_s"] > skew_stage:
            skew_stage, m["action.task_skew"] = sp["slowest_stage_s"], sp["task_skew"]
    for p in phases:
        sp = spark_by_phase[id(p)]
        m["scan.bytes_read"] += sp["bytes_read"]
        m["scan.records_read"] += sp["records_read"]
        m["pyworker.stage_run_s"] += sp["py_run_s"]
        m["pyworker.bytes_sent"] += sp["py_sent"]
        m["pyworker.bytes_returned"] += sp["py_returned"]
        m["pyworker.rows_returned"] += sp["py_rows"]
    for start, dur, rows in batches:
        if any(p.start <= start <= p.end for p in phases):
            m["streaming.batches"] += 1
            m["streaming.batch_s"] += dur
            m["streaming.input_rows"] += rows
    total = m["queries.build_s"] + m["action.run_s"]
    m["queries.build_share"] = m["queries.build_s"] / total if total else 0.0
    if m["action.run_s"]:
        m["action.core_util"] = m["action.executor_run_s"] / (m["action.run_s"] * cores)
    return m


def per_layer(log, phases, batches, cores):
    """Workload per-layer metrics, averaged over the warm passes, and the
    per-query breakdown (also averaged per warm pass). The caller fills
    in the metrics measured outside the event log and the spans."""
    spark_by_phase = fold(log, phases, cores)
    warm = [p for p in phases if p.pass_idx >= 1]
    n = max(p.pass_idx for p in phases)
    per_pass = [
        _query_metrics([p for p in warm if p.pass_idx == i], spark_by_phase, batches, cores)
        for i in range(1, n + 1)
    ]
    metrics = {k: statistics.fmean(pp[k] for pp in per_pass) for k in UNITS}
    breakdown = {}
    for q in dict.fromkeys(p.query for p in warm):
        qm = _query_metrics([p for p in warm if p.query == q], spark_by_phase, batches, cores)
        breakdown[q] = {k: v if k in RATIOS else v / n for k, v in qm.items() if v}
    return metrics, breakdown

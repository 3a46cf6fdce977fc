"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

One run is one fresh process, in this order:

1. generate the seeded input (in a child process, outside every timing);
2. set the session up ``SETUPS`` times -- JVM launch and ``get_spark`` --
   tearing the JVM down between them, and keep the last session;
3. one cold pass over the workload's queries, which collects each
   query's rows to the driver (a one-shot user's run);
4. warm passes, each query forced through the noop sink, until
   ``--seconds`` have passed (at least ``MIN_WARM``);
5. an untimed check of the rows the cold pass collected (check.py).

With ``--trace 0`` the last line carries the end-to-end metrics: the
median set-up and the warm pass, the sum of each query's fastest warm
run (host interference only ever adds time, and a run holds too few
warm passes for a median to drop it). With ``--trace 1`` the engine's
layers are wrapped and an event log is written (tracing.py), and the
last line carries the per-layer metrics, among them the cold pass and
the geometric mean of the per-query warm times, which spread too much
between runs on a shared host to bound; the per-query
breakdown goes to ``.perfbench/traces/``. The line before the last one
records the run's environment (nproc, load, pyspark and java versions,
input fingerprint, per-query times, and the CPU time the host stole
from this machine during the passes -- a slow run with high steal is
host contention, not the program).

The run pins its environment (cores, driver memory, scratch
directories, ``PYTHONPATH``) and keeps everything it writes under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# A set-up is a JVM launch (~6 s on a 4-core host) and a run pays for
# every one; two set-ups and two warm passes keep a run near a minute.
SETUPS = 2
MIN_WARM = 2
DRIVER_MEM = "2g"

sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def pin_env(scratch_root: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    scratch = {d: os.path.join(scratch_root, d) for d in ("tmp", "spark-local", "warehouse")}
    for d in scratch.values():
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=scratch["spark-local"],
        SPARK_GRAFT_WAREHOUSE=scratch["warehouse"],
        TMPDIR=scratch["tmp"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={scratch['tmp']}",
        # Python workers import the engine by name.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return cpus


def generate(workload: str, seed: int) -> dict:
    out = os.path.join(WORK, "data", workload)
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), out],
        check=True,
        capture_output=True,
        text=True,
    )
    info = json.loads(res.stdout.strip().splitlines()[-1])
    info["dir"] = out
    return info


def steal_s() -> float:
    """CPU time the host took from this machine's processors so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Session:
    """Owns the engine's SparkSession and the JVM behind it."""

    def __init__(self, extra_conf: dict):
        from apache_spark_link_prediction_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=extra_conf)

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit, so the next session
        launches a fresh one."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_query(spark, queries, name: str, data_dir: str, tracer, tag: str, pass_idx: int):
    """Build and force one query; returns (build_s, action_s, output,
    error). The cold pass (``pass_idx`` 0) collects the rows as the
    output ``(columns, rows)``; later passes write to the noop sink."""
    spark.catalog.clearCache()
    gc.collect()
    sc = spark.sparkContext
    t0 = t1 = time.perf_counter()
    try:
        if tracer:
            sc.setJobGroup(f"{tag}|{name}|build", f"{name} build")
            tracer.begin(pass_idx, name, "build")
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, data_dir)
        finally:
            t1 = time.perf_counter()
            if tracer:
                tracer.end()
        if tracer:
            sc.setJobGroup(f"{tag}|{name}|action", f"{name} action")
            tracer.begin(pass_idx, name, "action")
        t1 = time.perf_counter()
        output = None
        try:
            if pass_idx == 0:
                output = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
        finally:
            if tracer:
                tracer.end()
        return t1 - t0, time.perf_counter() - t1, output, None
    except Exception as exc:  # a failing query is counted, the workload goes on
        err = f"{type(exc).__name__}: {str(exc)[:300]}"
        return t1 - t0, time.perf_counter() - t1, None, err


def timed_passes(spark, queries, wl, data_dir: str, tracer, seconds: float):
    """The cold pass, then warm passes until ``seconds`` have passed and
    at least ``MIN_WARM`` have run.
    Returns per pass ``{query: (build_s, action_s, error)}``, the cold
    pass's outputs and the first error of each failing query."""
    passes: list[dict[str, tuple]] = []
    outputs: dict[str, tuple] = {}
    errors: dict[str, str] = {}
    deadline = None
    while deadline is None or len(passes) <= MIN_WARM or time.perf_counter() < deadline:
        times = {}
        for name in wl.queries:
            b, a, out, err = run_query(spark, queries, name, data_dir, tracer, wl.name, len(passes))
            if err:
                errors.setdefault(name, err)
            if out is not None:
                outputs[name] = out
            times[name] = (b, a, err)
        passes.append(times)
        if deadline is None:
            deadline = time.perf_counter() + seconds  # the cold pass is not counted
    return passes, outputs, errors


def check_outputs(outputs: dict, data_dir: str, fingerprint: str) -> dict[str, str | None]:
    """Verdict per query on its collected ``(columns, rows)``."""
    from apache_spark_link_prediction_spark.queries import ORACLE

    from check import OracleCache, check_output

    oracle = OracleCache(os.path.join(WORK, "oracle"), data_dir, fingerprint)
    try:
        return {
            name: check_output(name, cols, rows, oracle, ORACLE)
            for name, (cols, rows) in outputs.items()
        }
    finally:
        oracle.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    # Turn SIGTERM into an exit, so the finally blocks stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import pyspark
        from apache_spark_link_prediction_spark.queries import QUERIES
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    missing = [q for q in wl.queries if q not in QUERIES]
    if missing:
        print(f"perfbench: queries missing from the registry: {missing}", file=sys.stderr)
        return 2
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        return run(args, wl, QUERIES, pyspark.__version__, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, wl, QUERIES, pyspark_version: str, scratch: str) -> int:
    cpus = pin_env(scratch)

    t0 = time.perf_counter()
    data = generate(wl.name, args.seed)
    gen_s = time.perf_counter() - t0

    extra_conf: dict[str, str] = {}
    eventlog_dir = os.path.join(scratch, "eventlog")
    if args.trace:
        os.makedirs(eventlog_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
        }

    setups = []
    session = tracer = None
    try:
        for _ in range(SETUPS):
            if session is not None:
                session.close()
            t0 = time.perf_counter()
            session = Session(extra_conf)
            setups.append(time.perf_counter() - t0)
        spark = session.spark
        if args.trace:
            from tracing import StreamingProgress, Tracer

            tracer = Tracer()
            tracer.install()
            streaming = StreamingProgress(spark)
        steal0 = steal_s()
        passes, outputs, errors = timed_passes(
            spark, QUERIES, wl, data["dir"], tracer, args.seconds
        )
        steal = steal_s() - steal0
        # Peak RSS of the driver JVM plus this Python driver.
        peak_rss_mb = (vm_hwm_kb(session.jvm_pid) + vm_hwm_kb("self")) / 1024.0
        java_version = spark.sparkContext._jvm.System.getProperty("java.version")
        app_id = spark.sparkContext.applicationId
    finally:
        if tracer is not None:
            tracer.close()
        if session is not None:
            session.close()
    attempted = sum(len(p) for p in passes)
    failed = sum(1 for p in passes for _, _, err in p.values() if err)
    for name, verdict in check_outputs(outputs, data["dir"], data["fingerprint"]).items():
        attempted += 1
        if verdict:
            failed += 1
            errors.setdefault(name, verdict)

    # The cold pass is a single sample dominated by JIT warm-up; it spreads
    # too much between runs to bound, so it is reported with the layers.
    cold_s = sum(b + a for b, a, _ in passes[0].values())
    warm = passes[1:]
    per_query = {q: min(p[q][0] + p[q][1] for p in warm) for q in wl.queries}
    env = {
        "workload": wl.name,
        "seed": args.seed,
        "nproc": cpus,
        "load1": os.getloadavg()[0],
        "pyspark": pyspark_version,
        "java": java_version,
        "driver_mem": DRIVER_MEM,
        "gen_s": gen_s,
        "fingerprint": data["fingerprint"],
        "rows": data["rows"],
        "setups_s": setups,
        "passes_steal_s": steal,
        "warm_passes": len(warm),
        "query_cold_s": {q: b + a for q, (b, a, _) in passes[0].items()},
        "query_warm_s": per_query,
        "errors": errors,
    }
    print(json.dumps({"env": env}))
    if args.trace:
        from tracing import UNITS, eventlog_files, per_layer, read_eventlog

        log = read_eventlog(eventlog_files(eventlog_dir, app_id))
        metrics, breakdown = per_layer(log, tracer.phases, streaming.batches, cpus)
        metrics["session.start_s"] = statistics.median(setups)
        metrics["cold_s"] = cold_s
        metrics["driver.peak_rss_mb"] = peak_rss_mb
        metrics["trace.wall_s"] = sum(per_query.values())
        metrics["trace.geomean_query_s"] = statistics.geometric_mean(per_query.values())
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json"), "w") as f:
            json.dump({"env": env, "metrics": metrics, "per_query": breakdown}, f, indent=1)
        units = UNITS
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "wall_s": sum(per_query.values()),
        }
        units = dict.fromkeys(metrics, "s")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

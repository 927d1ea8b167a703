"""Benchmark of skdist_spark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload dist_fit --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).
A run:

1. starts the session, generates or stages its inputs from the seed and
   computes the expected result of every operation (set-up);
2. runs the workload's untimed warm passes over the operation list
   (set-up too);
3. times whole passes over the operation list, each in a seed-permuted
   order, until ``--seconds`` have elapsed, and checks every result.

With ``--trace 1`` every other timed pass is traced and the run reports
per-layer metrics instead of end-to-end ones. Every scratch file lives
under ``.bench_work/`` in the checkout; traces are kept in
``.bench_work/traces/``. The last line of stdout is the result object;
the line before it holds the run's detail (warm-pass walls, the cold
pass per operation, tail percentile and sample count, failures by name,
host context).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MIN_TIMED_PASSES = 3  # timed passes run for --seconds and at least this many passes
MIN_TRACED_PASSES = 2  # a traced run: at least this many untraced and as many traced
CONTROL_ROWS = 50_000_000

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ok_ratio": "ratio",
}
# every per-layer metric with its unit; bypassed layers report 0
PER_LAYER = {
    "sources.session_start_s": "s", "sources.stream_stage_s": "s",
    "setup.inputs_s": "s", "setup.oracle_s": "s", "setup.warm_s": "s",
    "setup.warm_passes": "count",
    "query.build_s": "s", "query.collect_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.stage_busy_s": "s", "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.deser_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "python.rows_out": "count", "python.bytes_in": "bytes", "python.bytes_out": "bytes",
    "engine.calls": "count", "engine.tasks": "count", "engine.run_tasks_s": "s",
    "engine.task_compute_s": "s", "engine.overhead_s": "s",
    "engine.broadcast_bytes": "bytes", "engine.result_bytes": "bytes",
    "meta.driver_s": "s",
    "ml.fit_s.LogisticRegression": "s", "ml.score_s.LogisticRegression": "s",
    "ml.fit_s.DecisionTreeClassifier": "s", "ml.score_s.DecisionTreeClassifier": "s",
    "predict.udf_s": "s", "predict.rows_per_s": "1/s",
    "stream.triggers": "count", "stream.start_s": "s", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_ms": "ms", "stream.planning_ms": "ms",
    "stream.state_rows": "count", "stream.state_bytes": "bytes",
    "driver.peak_rss_mb": "MB",
    "host.control_jvm_s": "s", "trace.overhead_s": "s",
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _prepare_env(work_dir: str) -> None:
    """Keep every file the run, Spark and the JVM write inside the work
    directory, and let Python workers import the checkout's packages."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    # every JVM, the launcher's too: temp files in the work dir, none in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _jvm_heap_peaks_mb(spark) -> dict:
    """The peak used size of each of the driver JVM's heap pools."""
    from py4j.java_gateway import java_import

    jvm = spark.sparkContext._jvm
    java_import(jvm, "java.lang.management.*")
    pools = jvm.ManagementFactory.getMemoryPoolMXBeans()
    return {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in pools
            if p.getType().toString() == "Heap memory"}


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    """Runs passes over one workload's operations and keeps the record."""

    def __init__(self, spark, ops, seed: int):
        import numpy as np

        self.spark, self.ops = spark, ops
        self.rng = np.random.default_rng(seed)
        self.first: dict = {}  # op name -> first warm-up fingerprint
        self.failures: list = []  # timed operations that failed, by name
        self.warm_failures: list = []
        self.listener = None

    def order(self):
        return [self.ops[i] for i in self.rng.permutation(len(self.ops))]

    def check(self, op, result) -> bool:
        got = op.fingerprint(result)
        want = op.expected if op.expected is not None else self.first.setdefault(op.name, got)
        return got == want

    def run_pass(self, pass_no: int, tracer=None, timed=True):
        """One pass; returns (wall, [(op, latency, ok)], layer counters)."""
        from perfbench.trace import NullTracer

        tracer = tracer or NullTracer()
        records, counters = [], {}
        t_pass = time.perf_counter()
        for op in self.order():
            ok, df = False, None
            if tracer.enabled:
                group = f"perfbench-{pass_no}-{op.name}"
                self.spark.sparkContext.setJobGroup(group, group)
                streams_before = len(self.listener.started)
                wall0 = time.time()
            t0 = time.perf_counter()
            try:
                with tracer.span(op.kind, op=op.name):
                    result, df = op.run(tracer)
                latency = time.perf_counter() - t0
                ok = self.check(op, result)
            except Exception as exc:  # a failed operation is counted, never dropped
                latency = time.perf_counter() - t0
                print(f"# {op.name} failed: {type(exc).__name__}: {exc}"[:2000], file=sys.stderr)
            if not ok:
                (self.failures if timed else self.warm_failures).append(op.name)
            records.append((op, latency, ok))
            if tracer.enabled:
                self._layer_counters(tracer, op, df, group, streams_before, wall0, latency)
        wall = time.perf_counter() - t_pass
        if tracer.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            counters = tracer.take_counters()
            if counters.get("predict.udf_s"):
                counters["predict.rows_per_s"] = (counters.get("python.rows_out", 0.0)
                                                  / counters["predict.udf_s"])
        return wall, records, counters

    def _layer_counters(self, tracer, op, df, group, streams_before, wall0, latency):
        from bench import shuffle_stats

        from perfbench.trace import python_metrics, read_stages

        groups = [group]
        if op.kind == "stream":
            runs = self.listener.runs_since(streams_before)
            groups += runs
            stream = self.listener.summary(runs)
            stream["stream.start_s"] = latency - stream.pop("stream.trigger_ms", 0.0) / 1e3
            for key, value in stream.items():
                tracer.add(key, value)
        for key, value in read_stages(self.spark.sparkContext, groups, wall0,
                                      wall0 + latency).items():
            tracer.add(key, value)
        if df is not None:
            stats = shuffle_stats(df)
            tracer.add("spark.shuffle_write_bytes", stats["shuffle_bytes"])
            tracer.add("spark.spill_bytes", stats["spill_bytes"])
            for key, value in python_metrics(df).items():
                tracer.add(key, value)
        if op.kind == "predict":
            tracer.add("predict.udf_s", latency)


def _span_totals(spans) -> dict:
    """Per-layer time from the spans of one traced pass."""
    from perfbench.stats import self_times

    selfs = self_times(spans)
    out = {"query.build_s": 0.0, "query.collect_s": 0.0, "meta.driver_s": 0.0}
    for s in spans:
        if s["name"] == "query.build":
            out["query.build_s"] += s["end"] - s["start"]
        elif s["name"] == "query.collect":
            out["query.collect_s"] += s["end"] - s["start"]
        elif s["name"] == "meta.fit":
            # the Dist* estimator's own driver work: its wall minus run_tasks
            out["meta.driver_s"] += selfs[s["id"]]
    return out


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warm_up(runner, passes: int) -> tuple[list, dict]:
    """Untimed warm passes. Returns their walls and the first (cold)
    pass's latency per operation."""
    walls, cold = [], {}
    for pass_no in range(passes):
        wall, records, _ = runner.run_pass(pass_no, timed=False)
        walls.append(wall)
        cold = cold or {op.name: latency for op, latency, _ in records}
    return walls, cold


class Timed:
    """What the timed passes measured. In a traced run passes alternate
    untraced and traced, starting untraced; latencies come from the
    untraced ones only."""

    def __init__(self, ops):
        self.walls = {False: [], True: []}
        self.latencies: list = []
        self.by_name = {op.name: [] for op in ops}
        self.layers: list = []  # per traced pass: per-layer counters
        self.attempted = self.ok = 0
        self.seconds = 0.0


def timed_passes(runner, first_pass: int, seconds: float, tracer, cores: int) -> Timed:
    from perfbench.stats import MIN_BEYOND
    from perfbench.trace import tracing

    out = Timed(runner.ops)
    t_start = time.perf_counter()
    pass_no = first_pass
    need = MIN_TIMED_PASSES if tracer is None else MIN_TRACED_PASSES
    while (time.perf_counter() - t_start < seconds
           or len(out.walls[False]) < need
           or len(out.latencies) <= MIN_BEYOND
           or (tracer is not None and len(out.walls[True]) < need)):
        traced = tracer is not None and len(out.walls[False]) > len(out.walls[True])
        if traced:
            first_span = len(tracer.spans)
            with tracing(runner.spark, tracer, runner.listener, cores):
                wall, records, layer = runner.run_pass(pass_no, tracer)
        else:
            wall, records, layer = runner.run_pass(pass_no)
        out.walls[traced].append(wall)
        out.attempted += len(records)
        out.ok += sum(ok for _, _, ok in records)
        if traced:
            pass_spans = tracer.spans[first_span:]
            for s in pass_spans:
                s["pass"] = pass_no
            layer.update(_span_totals(pass_spans))
            out.layers.append(layer)
        else:
            for op, latency, _ in records:
                out.latencies.append(latency)
                out.by_name[op.name].append(latency)
        pass_no += 1
    out.seconds = time.perf_counter() - t_start
    return out


def _host_control(spark) -> float:
    """Median wall of a fixed-work JVM spin, outside every timed region,
    so a slow host phase can be told apart from a regression."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(CONTROL_ROWS).selectExpr("sum(id * 2 + 1)").collect()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    # imports of the program: in a directory without it these fail and
    # the run exits non-zero before printing a result
    import pyspark

    from skdist_spark.sources.session import get_session

    from perfbench import stats
    from perfbench.trace import StreamProgress, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]

    work_root = os.path.join(ROOT, ".bench_work")
    work_dir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work_dir)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    spark = None
    try:
        # inputs and oracles need no Spark: prepare them while it starts
        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(workload.prepare, args.seed, work_dir)
            t0 = time.perf_counter()
            spark = get_session("perfbench", cores)
            session_s = time.perf_counter() - t0
            prep = pending.result()
        t0 = time.perf_counter()
        ops = workload.build(spark, prep)
        timings = {"session_start_s": session_s, **prep["timings"],
                   "build_s": time.perf_counter() - t0}
        runner = Runner(spark, ops, args.seed)
        warm_walls, cold_pass = warm_up(runner, workload.warm_passes)
        setup_s = time.perf_counter() - T_START

        tracer = None
        if args.trace:
            tracer = Tracer()
            runner.listener = StreamProgress()
        timed = timed_passes(runner, len(warm_walls), args.seconds, tracer, cores)
        ml_layer = {}  # direct calls into skdist_spark.ml, outside the passes
        if args.trace and workload.ml_probe is not None:
            probes = []
            for _ in range(3):
                workload.ml_probe(prep, tracer)
                probes.append(tracer.take_counters())
            ml_layer = {k: statistics.median([p[k] for p in probes]) for k in probes[0]}

        control_s = _host_control(spark)
        rss = {"jvm": _vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
               "python": _vm_hwm_mb("self"), "jvm_heap_pool_peaks": _jvm_heap_peaks_mb(spark)}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    pct, tail, n_ops = stats.tail_percentile(timed.latencies)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup": {**timings, "warm_pass_walls_s": warm_walls, "cold_pass_by_name_s": cold_pass},
        "timed_s": timed.seconds, "pass_walls_s": timed.walls[False],
        "traced_pass_walls_s": timed.walls[True],
        "op_tail": {"percentile": pct, "n_ops": n_ops},
        "peak_rss_mb": rss,
        "op_p50_by_name_s": {name: statistics.median(v) for name, v in timed.by_name.items() if v},
        "failed_ops": sorted(set(runner.failures)),
        "warm_failed_ops": sorted(set(runner.warm_failures)),
        "host": {"nproc": _cpus(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                 "pyspark": pyspark.__version__, "control_jvm_s": control_s},
    }
    if args.trace:
        layer = {k: statistics.median([c[k] for c in timed.layers if k in c] or [0.0])
                 for k in PER_LAYER}
        layer.update(ml_layer)
        layer.update({
            "sources.session_start_s": session_s,
            "sources.stream_stage_s": timings.get("stream_stage_s", 0.0),
            "setup.inputs_s": timings["inputs_s"],
            "setup.oracle_s": timings["oracle_s"],
            "setup.warm_s": sum(warm_walls),
            "setup.warm_passes": len(warm_walls),
            "driver.peak_rss_mb": rss["jvm"] + rss["python"],
            "host.control_jvm_s": control_s,
            "trace.overhead_s": (statistics.median(timed.walls[True])
                                 - statistics.median(timed.walls[False])),
        })
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        detail["trace_file"] = _write_trace(work_root, args, detail, timed, tracer)
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(timed.walls[False]),
            "op_p50_s": statistics.median(timed.latencies),
            "op_tail_s": tail,
            "ok_ratio": timed.ok / timed.attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": timed.attempted,
        "failed": timed.attempted - timed.ok,
        "metrics": metrics,
    }))
    return 0


def _write_trace(work_root, args, detail, timed, tracer) -> str:
    """Write the spans (with self time) and per-pass counters, once, at
    the end of the run; returns the file's path relative to the root."""
    from perfbench.stats import self_times

    os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
    path = os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json")
    selfs = self_times(tracer.spans)
    with open(path, "w") as fh:
        json.dump({"detail": detail, "per_pass": timed.layers,
                   "spans": [{**s, "self_s": selfs[s["id"]]} for s in tracer.spans]}, fh)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())

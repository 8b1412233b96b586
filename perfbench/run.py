"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload medallion_csv --seed 1 --seconds 20 --trace 0

Run it from the repository root. It starts the engine's own session
(``session.get_spark()``, ``local[<nproc>]``), makes the workload's inputs
from ``--seed`` under ``.perfbench_work/``, and drives one closed-loop
client that runs one operation at a time in this process.

``setup_s`` is session start, plus input generation, plus one warm-up
pass: the cold-JVM cost. Then whole passes over the workload's operations
run until ``--seconds`` have elapsed, at least ``MIN_PASSES``; pass-level
figures are the median over passes. Every result,
warm-up included, is checked against a DuckDB reference outside the timed
windows; a failed or wrong operation counts into ``failed`` and is named
on stderr and in the run record.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs an
untraced, a traced and an untraced pass after the warm-up and prints the
per-layer metrics of the traced pass plus the tracing overhead (traced
pass wall time minus the mean of the two untraced ones); its spans go to
``.perfbench_out/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it records the run's configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass, field

from spans import Tracer, union_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: fewest timed passes of an untraced run. The JIT is still compiling
#: after the warm-up pass, so the first timed pass often costs 10-40% more
#: CPU than the next ones, and more so on a busy host; the median of three
#: passes outvotes it.
MIN_PASSES = 3

#: timed passes of a traced run (True = traced). The traced pass gives the
#: per-layer numbers; it is bracketed by untraced passes so that JIT
#: warm-up from pass to pass cancels out of the overhead estimate.
TRACE_PASSES = (False, True, False)

#: printed with --trace 0. On a shared host, time the hypervisor gives to
#: other tenants is not charged to CPU time but is to wall time, and stalls
#: can last whole runs; so wall time, per-op latency and peak memory are
#: reported per layer, and CPU time is the timed figure that is gated.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
}

#: measured from the spans, jobs and stages of a traced pass; a layer the
#: workload never calls reads 0
LAYER_UNITS = {
    "pipeline.ingest_bronze.s": "s",
    "pipeline.ingest_bronze.rows_out": "count",
    "sources.csv.tasks": "count",
    "sources.csv.input_bytes": "B",
    "pipeline.build_silver.s": "s",
    "pipeline.build_silver.jobs": "count",
    "pipeline.build_silver.shuffle_bytes": "B",
    "pipeline.build_silver.rows_out": "count",
    "pipeline.run_quality_gate.s": "s",
    "pipeline.run_quality_gate.jobs": "count",
    "pipeline.build_gold.s": "s",
    "pipeline.build_gold.jobs": "count",
    "pipeline.build_gold.shuffle_bytes": "B",
    "pipeline.build_gold.rows_out": "count",
    "plans.opportunity.s": "s",
    "sources.parquet.bronze.bytes_written": "B",
    "sources.parquet.bronze.files_written": "count",
    "sources.parquet.silver.bytes_written": "B",
    "sources.parquet.silver.files_written": "count",
    "sources.parquet.gold.bytes_written": "B",
    "sources.parquet.gold.files_written": "count",
    "stored_bytes_ratio": "ratio",
    "suite.construct_s": "s",
    "suite.construct_jobs": "count",
    "suite.construct_py4j_calls": "count",
    "driver_only_s": "s",
    "spark.execute_s": "s",
    "spark.execute_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
}

#: printed with --trace 1
PER_LAYER_UNITS = {
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    **LAYER_UNITS,
    "error_rate": "ratio",
    "host.calib_s": "s",
    "trace.overhead_s": "s",
}

def host_calib_s() -> float:
    """Best of three timings of a fixed pure-Python loop: host speed."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t)
    return best


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with ten samples or fewer, the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    out = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip() or "unknown"


@dataclass
class Pass:
    traced: bool
    layers: dict
    latencies: list[float] = field(default_factory=list)
    #: CPU seconds of the Python driver and of the JVM's threads other
    #: than its JIT compilers, while the ops ran. JIT compilation is
    #: warm-up (``setup_s`` pays most of it) and how much of it is left for
    #: a timed pass varies from run to run.
    cpu_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return sum(self.latencies)


def cpu_seconds(pid) -> float:
    """User plus system CPU seconds consumed so far by process ``pid``."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def thread_cpu(pid) -> dict[str, tuple[str, int]]:
    """Thread id -> (name, CPU ticks so far) for every live thread of ``pid``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except FileNotFoundError:  # the thread ended meanwhile
            continue
        name, rest = stat.split("(", 1)[1].rsplit(")", 1)
        fields = rest.split()
        out[tid] = (name, int(fields[11]) + int(fields[12]))
    return out


def engine_cpu_seconds(before: dict, after: dict) -> float:
    """CPU seconds the JVM's threads other than its JIT compilers spent
    between two ``thread_cpu`` samples."""
    ticks = sum(
        t - before.get(tid, (name, 0))[1]
        for tid, (name, t) in after.items()
        if "CompilerThre" not in name
    )
    return ticks / os.sysconf("SC_CLK_TCK")


class Runner:
    def __init__(self, spark, workload, tracer, jvm_pid):
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.wl = workload
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.op_seconds: dict[str, list[float]] = {op: [] for op in workload.ops}

    def record(self, op: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failures.append((op, err))
            print(f"FAILED {self.wl.name}/{op}: {err}", file=sys.stderr, flush=True)

    def run_pass(self, traced: bool) -> Pass:
        """One pass over the workload's ops, each checked after it ran."""
        tracer = self.tracer if traced else None
        p = Pass(traced, dict.fromkeys(LAYER_UNITS, 0.0) if traced else {})
        for op in self.wl.ops:
            first_span = len(tracer.spans) if tracer else 0
            threads = thread_cpu(self.jvm_pid)
            py_cpu = cpu_seconds("self")
            t_wall = time.time()
            t = time.perf_counter()
            result, err = None, None
            try:
                if tracer:
                    with tracer.span(f"op:{op}"):
                        result = self.wl.run_op(self.spark, op, tracer)
                else:
                    result = self.wl.run_op(self.spark, op, None)
            except Exception as e:  # noqa: BLE001 - a failed op is a counted result
                err = f"{type(e).__name__}: {e}"[:500]
            seconds = time.perf_counter() - t
            p.cpu_s += cpu_seconds("self") - py_cpu
            p.cpu_s += engine_cpu_seconds(threads, thread_cpu(self.jvm_pid))
            p.latencies.append(seconds)
            self.op_seconds[op].append(seconds)
            if err is None:
                err = self.wl.check(op, result)
            if tracer:
                self.add_layers(p.layers, tracer.spans[first_span:], t_wall, seconds, result)
            self.record(op, err)
            if result is not None:
                self.wl.discard(result)
        return p

    def add_layers(self, layers, op_spans, t_wall, seconds, result) -> None:
        """Fold one traced op's spans, jobs and stage metrics into ``layers``."""
        tr = self.tracer
        tr.collect_jobs(op_spans)
        all_jobs = sorted({j for sp in op_spans for j in sp.job_ids})
        snap = tr.rest.snapshot(all_jobs)
        total, intervals = snap.stats(all_jobs)
        clipped = [
            (max(s, t_wall), min(e, t_wall + seconds)) for s, e in intervals if e > t_wall
        ]
        busy = union_seconds(clipped)
        layers["driver_only_s"] += seconds - busy
        layers["spark.execute_s"] += busy
        layers["spark.execute_jobs"] += total.jobs
        layers["spark.stages"] += total.stages
        layers["spark.tasks"] += total.tasks
        layers["spark.shuffle_read_bytes"] += total.shuffle_read_bytes
        layers["spark.shuffle_write_bytes"] += total.shuffle_write_bytes
        layers["spark.spill_bytes"] += total.spill_bytes
        layers["spark.executor_run_s"] += total.executor_run_s
        layers["spark.gc_s"] += total.gc_s
        for sp in op_spans:
            dur = sp.end - sp.start
            if sp.name == "suite.construct":
                layers["suite.construct_s"] += dur
                layers["suite.construct_jobs"] += len(sp.job_ids)
                layers["suite.construct_py4j_calls"] += sp.py4j_calls or 0
            elif sp.name in ("plans.opportunity", "sources.parquet.write:gold/opportunity_rank"):
                layers["plans.opportunity.s"] += dur
            elif sp.name.startswith("pipeline."):
                sub = tr.subtree(sp)
                st, _ = snap.stats(sorted({j for s in sub for j in s.job_ids}))
                layers[f"{sp.name}.s"] += dur
                for key, value in (
                    ("jobs", st.jobs),
                    ("shuffle_bytes", st.shuffle_write_bytes),
                    ("rows_out", st.output_records),
                ):
                    if f"{sp.name}.{key}" in layers:
                        layers[f"{sp.name}.{key}"] += value
                if sp.name == "pipeline.ingest_bronze":
                    layers["sources.csv.tasks"] += st.tasks
                    layers["sources.csv.input_bytes"] += st.input_bytes
        if result is not None:
            self.wl.add_storage(layers, result)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None, sizes=None) -> int:
    """CLI entry; ``sizes`` (a ``workloads.Sizes``) overrides the input
    sizes, for the smoke test."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")
    result = run(args, workloads.make(args.workload, sizes or workloads.Sizes()))
    print(json.dumps(result["info"], sort_keys=True))
    print(json.dumps(result["line"]), flush=True)
    return 0


def run(args, wl) -> dict:
    """Set up, measure and check one workload; returns the run record and
    the result line."""
    from clinical_trials_data_pipeline_analyis_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_dir, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    calib = host_calib_s()

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t
    gateway = spark.sparkContext._gateway
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        t = time.perf_counter()
        wl.make_inputs(work, args.seed)
        gen_s = time.perf_counter() - t
        wl.prepare()
        tracer = None
        if args.trace:
            tracer = Tracer(spark, f"{wl.name}-{args.seed}-{uuid.uuid4().hex[:8]}")
            tracer.rest.warm_up()
        runner = Runner(spark, wl, tracer, jvm_pid)
        warm_up = runner.run_pass(False)
        setup_s = session_s + gen_s + warm_up.wall_s

        t0 = time.perf_counter()
        if args.trace:
            passes = [runner.run_pass(traced) for traced in TRACE_PASSES]
        else:
            passes = []
            while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
                passes.append(runner.run_pass(False))
        untraced = [p for p in passes if not p.traced]
        traced = [p for p in passes if p.traced]
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        conf = spark.conf
        info = {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "master": spark.sparkContext.master,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "aqe": {
                k: conf.get(f"spark.sql.adaptive.{k}")
                for k in ("enabled", "coalescePartitions.enabled", "skewJoin.enabled")
            },
            "pyspark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "commit": commit(),
            "host.calib_s": calib,
            "setup": {"session_s": session_s, "inputs_s": gen_s, "warm_up_s": warm_up.wall_s},
            "passes": [{"traced": p.traced, "wall_s": p.wall_s, "cpu_s": p.cpu_s} for p in passes],
            "op_seconds": runner.op_seconds,
            "failures": [{"op": op, "error": err} for op, err in runner.failures],
        }
        if tracer:
            spans_path = os.path.join(out_dir, f"spans-{tracer.run_id}.jsonl")
            tracer.dump(spans_path)
            info["spans"] = os.path.relpath(spans_path, ROOT)
    finally:
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)

    failed = len(runner.failures)
    latencies = [x for p in untraced for x in p.latencies]
    tail_s, tail_p = tail(latencies)
    info["op_tail"] = {"percentile": tail_p, "samples": len(latencies)}
    values = {
        "setup_s": setup_s,
        "cpu_s": statistics.median(p.cpu_s for p in untraced),
        "wall_s": statistics.median(p.wall_s for p in untraced),
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": tail_s,
        "peak_rss_mb": peak_rss,
    }
    if args.trace:
        values.update(traced[0].layers)
        values["error_rate"] = failed / runner.attempted
        values["host.calib_s"] = calib
        values["trace.overhead_s"] = traced[0].wall_s - statistics.mean(
            p.wall_s for p in untraced
        )
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    metrics = {k: metric(values[k], u) for k, u in units.items()}
    line = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return {"info": info, "line": line}


if __name__ == "__main__":
    sys.exit(main())

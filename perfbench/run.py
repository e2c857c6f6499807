"""Benchmark of the engine: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload household_pipeline --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run writes its inputs from the seed
into a private directory under the checkout, starts a local Spark session
on every core (``local[N]``, one client, closed loop: the next operation
starts when the previous one has returned and been checked), and then:

1. sets up five times (session start plus the warm-up ladder; the first
   one also launches the JVM, the others restart the session in it) and
   keeps the last session;
2. runs every distinct operation of the workload once, cold;
3. runs rounds of the workload's operation mix, each round a seeded
   shuffle, until ``--seconds`` have passed (a round that has started is
   finished, so every sample holds whole rounds).

With ``--trace 1`` the third step is split: half the time untraced, half
with every engine layer wrapped (see tracer.py), and the per-layer
numbers are printed instead of the end-to-end ones. Every operation's
output is checked outside the timer; a failed check counts the
operation as failed, it is never dropped. The last line of standard
output is the JSON result; the lines before it are a readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bigdata_electricity_spark"
SETUPS = 5
DRIVER_MEMORY = "2g"
P90_MIN_SAMPLES = 100  # a percentile needs >= 10 samples beyond it

END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "op_s_p50": "s", "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


@dataclass
class RunResult:
    workload: str
    seed: int
    trace: bool
    setup_s: list[float] = field(default_factory=list)
    start_s: list[float] = field(default_factory=list)
    warmup_s: list[float] = field(default_factory=list)
    first_pass: dict[str, float] = field(default_factory=dict)
    latencies: list[float] = field(default_factory=list)
    by_op: dict[str, list[float]] = field(default_factory=dict)
    traced_latencies: list[float] = field(default_factory=list)
    layers: list[dict[str, float]] = field(default_factory=list)
    result_rows: list[int] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    input_rows: int = 0
    peak_rss_mb: float = 0.0
    prepare_s: float = 0.0


def warm_up(spark) -> None:
    """A one-row ladder through the expression families the workloads
    share (regex, hashing, higher-order functions, explode, aggregation),
    so the session has compiled and loaded them once before any op."""
    from pyspark.sql import functions as F

    spark.range(2).select(
        F.md5(F.regexp_replace(F.lower(F.lit("a B  c")), r"\s+", " ")).alias("fp"),
        F.aggregate(F.array(F.lit(1.0), F.col("id").cast("double")), F.lit(0.0),
                    lambda acc, x: acc + x).alias("dot"),
        F.explode(F.split(F.lit("a b"), " ")).alias("tok"),
    ).groupBy("fp").agg(F.sum("dot"), F.count("tok")).collect()


def _set_up(result: RunResult):
    from bigdata_electricity_spark.session import get_spark

    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        warm_up(spark)
        t2 = time.perf_counter()
        result.start_s.append(t1 - t0)
        result.warmup_s.append(t2 - t1)
        result.setup_s.append(t2 - t0)
    return spark


def _timed_op(spark, workload, op: str, tracer, result: RunResult) -> float:
    """Run one op (timed), then check it (untimed); return its latency.
    An op that raises is timed up to the exception and counted as failed."""
    result.attempted += 1
    t0 = time.perf_counter()
    try:
        with tracer.span("op", op):
            out = workload.run(spark, op, tracer)
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        problems = [f"{op}: {type(exc).__name__}: {exc}"]
    else:
        problems = []
    elapsed = time.perf_counter() - t0
    if not problems:
        problems = workload.check(op, out)
        result.result_rows.append(workload.result_rows(out))
    if problems:
        result.failed += 1
        result.failures.extend(problems)
    return elapsed


def _rounds(spark, workload, rng: random.Random, seconds: float, tracer,
            result: RunResult) -> list[float]:
    """Whole rounds of the op mix until ``seconds`` have passed."""
    latencies = []
    start = time.perf_counter()
    while not latencies or time.perf_counter() - start < seconds:
        mix = list(workload.ops)
        rng.shuffle(mix)
        for op in mix:
            latencies.append(_timed_op(spark, workload, op, tracer, result))
            if hasattr(tracer, "take_op"):
                result.layers.append(tracer.take_op())
            else:
                result.by_op.setdefault(op, []).append(latencies[-1])
    return latencies


def _peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — still running: make sure it ends
            proc.kill()
            proc.wait(timeout=60)


def execute(workload_name: str, seed: int, seconds: float, trace: bool,
            work_dir: str, size: str) -> RunResult:
    """One benchmark run at input size ``size`` (see workloads.SIZES)."""
    from tracer import NullTracer, Tracer
    from workloads import SIZES, WORKLOADS

    workload = WORKLOADS[workload_name]()
    data_dir = os.path.join(work_dir, "data")
    os.makedirs(data_dir)
    t0 = time.perf_counter()
    workload.prepare(data_dir, seed, SIZES[size])
    result = RunResult(workload_name, seed, trace, input_rows=workload.input_rows,
                       prepare_s=time.perf_counter() - t0)

    try:
        spark = _set_up(result)
        untraced = NullTracer()
        for op in workload.ops:
            result.first_pass[op] = _timed_op(spark, workload, op, untraced, result)
        rng = random.Random(seed)
        if not trace:
            result.latencies = _rounds(spark, workload, rng, seconds, untraced, result)
        else:
            result.latencies = _rounds(spark, workload, rng, seconds / 2, untraced, result)
            tracer = Tracer(spark)
            tracer.install()
            try:
                result.traced_latencies = _rounds(spark, workload, rng, seconds / 2,
                                                  tracer, result)
            finally:
                tracer.uninstall()
        result.peak_rss_mb = _peak_rss_mb(spark)
    finally:
        stop()
    return result


def metrics(result: RunResult) -> dict[str, dict[str, float | str]]:
    """The JSON metrics: end-to-end untraced, per-layer traced."""
    from tracer import per_layer_names

    if not result.trace:
        values = {
            "setup_s": statistics.median(result.setup_s),
            "first_pass_s": sum(result.first_pass.values()),
            "op_s_p50": statistics.median(result.latencies),
            "ops_per_s": len(result.latencies) / sum(result.latencies),
            "peak_rss_mb": result.peak_rss_mb,
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    n = max(1, len(result.layers))
    values = {name: sum(d.get(name, 0.0) for d in result.layers) / n
              for name in per_layer_names()}
    values["session.start_s"] = statistics.median(result.start_s)
    values["session.warmup_s"] = statistics.median(result.warmup_s)
    values["exec.result_rows"] = float(statistics.mean(result.result_rows))
    values["trace.overhead_s"] = (statistics.mean(result.traced_latencies)
                                  - statistics.mean(result.latencies))
    return {k: {"value": v, "unit": _layer_unit(k)} for k, v in values.items()}


def _layer_unit(name: str) -> str:
    if name.startswith("session."):
        return "s"
    if name.endswith("_s") or name == "exec.s":
        return "s/op"
    if name.endswith("_mb"):
        return "MB/op"
    if name.endswith("amplification"):
        return "ratio"
    return "count/op"


def report(result: RunResult) -> list[str]:
    """Readable lines: every metric with its unit and sample count."""
    lat = result.latencies
    lines = [f"# workload={result.workload} seed={result.seed} trace={int(result.trace)}",
             f"# inputs and DuckDB expectations: {result.prepare_s:.3f} s",
             f"# setup_s: median of {len(result.setup_s)} set-ups (start + warm-up) "
             + " ".join(f"{a:.3f}+{b:.3f}" for a, b in zip(result.start_s, result.warmup_s))]
    for op, el in result.first_pass.items():
        warm = result.by_op.get(op, [])
        lines.append(f"# op {op}: cold {el:.3f} s, warm median "
                     f"{statistics.median(warm) if warm else float('nan'):.3f} s (n={len(warm)})")
    lines.append(f"# op_s_p50: {statistics.median(lat):.4f} s (n={len(lat)})")
    if len(lat) >= P90_MIN_SAMPLES:
        p90 = statistics.quantiles(lat, n=10)[-1]
        lines.append(f"# op_s_p90: {p90:.4f} s (n={len(lat)})")
    else:
        lines.append(f"# op_s_p90: not reported, n={len(lat)} < {P90_MIN_SAMPLES}")
    ops_per_s = len(lat) / sum(lat)
    lines.append(f"# ops_per_s: {ops_per_s:.4f} 1/s (n={len(lat)})")
    if result.input_rows:
        lines.append(f"# rows_per_s: {ops_per_s * result.input_rows:.1f} 1/s "
                     f"({result.input_rows} CSV rows per op)")
    lines.append(f"# failed_ratio: {result.failed / result.attempted:.4f} "
                 f"({result.failed} failed of {result.attempted} attempted)")
    lines.append(f"# peak_rss_mb: {result.peak_rss_mb:.1f} MB (driver JVM + Python)")
    if result.trace:
        lines.append(f"# traced ops: {len(result.traced_latencies)}, untraced: {len(lat)}")
    lines += [f"# FAILED {f}" for f in result.failures]
    return lines


def import_engine() -> bool:
    """Import the engine and the parity tool from this checkout; False
    when the checkout does not hold them."""
    for needed in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tools", "parity.py")):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            return False
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import bigdata_electricity_spark.plans  # noqa: F401 — this checkout's, before parity's
    saved_path = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import parity  # noqa: F401 — the oracle normalisation; it edits sys.path on import
    sys.path[:] = saved_path
    return True


def isolate(work_dir: str) -> None:
    """Send every temp and scratch file of Python, the JVM and Spark into
    ``work_dir``, and fix the session's cores and heap."""
    os.environ.update({
        "TMPDIR": work_dir,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options '-Xms{DRIVER_MEMORY} "
                                f"-Djava.io.tmpdir={work_dir} -XX:-UsePerfData' pyspark-shell"),
    })
    tempfile.tempdir = work_dir


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=["household_pipeline", "registry_queries"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--size", choices=["full", "toy"], default="full",
                        help="input size; toy is the self-test's")
    args = parser.parse_args(argv)

    if not import_engine():
        print(f"perfbench: {PACKAGE}/ or tools/parity.py not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    work_dir = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    isolate(work_dir)
    try:
        result = execute(args.workload, args.seed, args.seconds, bool(args.trace), work_dir,
                         args.size)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    values = metrics(result)
    for line in report(result):
        print(line)
    for name, m in values.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": values,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

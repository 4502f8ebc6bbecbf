"""Compaction and query benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload compact_many_leaves --seed 1 --seconds 8 --trace 0

Workloads: compact_big_leaf, compact_many_leaves, query_mix (see
perfbench/README.md). The seed fixes every generated input. The last line
of stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The exit code is 1 when any correctness
check failed and 2 when the program under test is missing.

Everything the run writes stays under ``.perfbench/`` in the current
directory; per-run scratch data is removed at exit and the spans of a
traced run are kept in ``.perfbench/trace-<workload>-<seed>.json``.
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
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
SETUPS = 3  # set-ups per run; setup_s is their median
DRIVER_MEM = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> dict[str, str]:
    """Keep every file Spark and Python write inside ``work``; returns the
    Spark confs that must be set when the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return {
        # A fixed-size heap (initial = maximum) makes the JVM's resident
        # set depend on the work, not on when the heap happened to grow.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
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
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, spark, ts, seconds: float) -> float:
    """Closed loop: the next cycle starts when the previous one ends,
    until ``seconds`` have passed and ``wl.min_cycles`` cycles ran. With a
    TraceSession: one priming cycle, then at least four cycles alternating
    untraced and traced. Returns the seconds it took."""
    t0 = time.perf_counter()
    if ts is not None:
        # A priming cycle first, so the untraced side of the comparison
        # does not carry the colder first cycle alone.
        wl.cycle(spark, None)
        wl.samples.clear()
    n = 0
    # Traced runs alternate untraced/traced/traced/untraced (ABBA), so a
    # cycle time that still falls run after run favours neither side.
    order = (None, ts, ts, None) if ts is not None else (None,)
    least = len(order) if ts is not None else wl.min_cycles
    while n < least or time.perf_counter() < t0 + seconds:
        traced = order[n % len(order)]
        if traced is None:
            wl.cycle(spark, None)
        else:
            traced.patch_pyspark()
            try:
                wl.cycle(spark, traced)
            finally:
                traced.unpatch()
        n += 1
    return time.perf_counter() - t0


def set_up(wl, work: Path, confs: dict[str, str]):
    """SETUPS times: generate the fixtures, (re)start the session and warm
    up. Returns the session and the seconds each set-up took."""
    from parquet_compactor_spark.session import get_spark

    spark, times = None, []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        wl.generate(work / f"fixtures-{i}")
        spark = get_spark(app_name="perfbench", extra_conf=confs)
        spark.sparkContext.setLogLevel("ERROR")
        wl.warm_up(spark)
        times.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(work / f"fixtures-{i - 1}", ignore_errors=True)
    return spark, times


def run(args, work: Path, confs: dict[str, str]) -> dict:
    from probe import ProcSampler
    from workloads import END_TO_END, WORKLOADS, Checks, TraceSession, per_layer_names

    checks = Checks()
    wl = WORKLOADS[args.workload](work, args.seed, checks)
    spark = None
    with ProcSampler() as sampler:
        try:
            spark, setups = set_up(wl, work, confs)
            t0 = time.perf_counter()
            wl.check_once(spark)
            check_s = time.perf_counter() - t0
            sampler.reset_peak()
            ts = TraceSession(spark) if args.trace else None
            window_s = measure(wl, spark, ts, args.seconds)
            peak_mb = sampler.peak_bytes / 1e6
        finally:
            if spark is not None:
                stop_spark(spark)
    if ts is not None:
        metrics = layer_metrics(wl, ts, statistics.median(setups))
        ts.tracer.dump(str(ROOT / ".perfbench" / f"trace-{args.workload}-{args.seed}.json"))
        units = dict(per_layer_names())
        missing = [n for n in units if n not in metrics and wl.measures(n)]
        checks.check(not missing, f"per-layer metrics missing: {missing}")
    else:
        metrics = wl.end_to_end(statistics.median(setups), peak_mb)
        units = END_TO_END
    for msg in checks.messages:
        print(msg, file=sys.stderr)
    print(f"setups_s={[round(x, 3) for x in setups]} check_s={check_s:.1f} "
          f"window_s={window_s:.1f} samples="
          f"{ {k: [round(x, 3) for x in v] for k, v in wl.samples.items()} }",
          file=sys.stderr)
    return {
        "correct": checks.failed == 0,
        "attempted": max(1, checks.attempted),
        "failed": checks.failed,
        "metrics": {n: {"value": metrics.get(n, 0.0), "unit": u} for n, u in units.items()},
    }


def layer_metrics(wl, ts, setup_s: float) -> dict[str, float]:
    """Per-layer figures, per round (one pass plus re-pass, or one pass
    over the query list), averaged over the traced rounds."""
    from spans import self_times, tail
    from workloads import FS_GROUPS, SELF_LAYERS

    rounds = max(1, len(wl.traced["round_s"]))
    out = wl.layer_metrics() | wl.raw_metrics(setup_s)
    tracer = ts.tracer
    for call in FS_GROUPS:
        name = f"compactor.fs.{call}"
        out[f"{name}.calls"] = tracer.calls.get(name, 0) / rounds
        out[f"{name}.s"] = tracer.busy_s(name) / rounds
    for k, v in ts.spark_totals.items():
        out[f"spark.{k}"] = v / rounds
    out.setdefault("spark.jobs_per_leaf", 0.0)
    out["pyspark.new_session.calls"] = tracer.calls.get("pyspark.new_session", 0) / rounds
    out["pyspark.conf_set.calls"] = tracer.calls.get("pyspark.conf_set", 0) / rounds
    out.setdefault("python_worker.cpu_s", 0.0)
    selfs = self_times(tracer.spans)
    for layer in SELF_LAYERS:
        out[f"trace.self_s.{layer}"] = selfs.get(layer, 0.0) / rounds
    out["trace.overhead_ratio"] = (statistics.median(wl.traced["round_s"])
                                   / statistics.median(wl.samples["round_s"]))
    ops = wl.samples["op_s"]
    t = tail(ops)
    pct, val = t if t else (50.0, statistics.median(ops))
    out["op.tail_s"], out["op.tail_pct"], out["op.samples"] = val, pct, len(ops)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through the finally blocks that stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "parquet_compactor_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root (parquet_compactor_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        confs = prepare_env(work)
        result = run(args, work, confs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

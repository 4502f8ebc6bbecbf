"""The benchmark's three closed-loop workloads.

Each workload runs from one process and one thread: the next pass or
query starts only when the previous one has finished. A workload
generates its inputs from the seed (``generate``), warms the session
(``warm_up``), optionally checks outputs once outside the timed window
(``check_once``) and then repeats ``cycle`` until the window closes.

Layers are timed from outside, only in traced cycles: by wrapping the
compactor's public methods and its HadoopFS handle
(``instrument_compactor``), by timing each query's construction and
execution separately, and by reading each job group's stages from the
Spark status store.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

import fixtures as fx
from probe import JobGroupStats, python_worker_cpu_s
from spans import Tracer, covered_s

MB = 1e6

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
    "output_bytes", "driver_only_s",
)
FS_CALLS = {
    "list_files": "list_files", "rename": "rename", "delete": "delete",
    "exists": "sidecar", "read_text": "sidecar", "write_text": "sidecar",
}
FS_GROUPS = ("list_files", "rename", "delete", "sidecar")
PHASES = ("listing", "plan", "write", "commit", "delete")
SELF_LAYERS = ("op", "compactor.core", "compactor.fs", "query.construct", "query.exec")

#: The fixed query list: the ROADMAP's open targets (PPJoin+ on the
#: prefix_filter_pairs verify stage that q_ssjoin_exact runs,
#: q_semantic_dedup, q_kmv_intersect and the extractor kernel behind
#: q_multimodal_meta/q_frame_sample) plus one query for each of four more
#: modules, so shuffle-heavy dedup, iterative graph, relational, windowed
#: and streaming plans are all in the mix. q_lsh_tuning shares that verify
#: stage but its LSH band sweep would cost a fifth of a run.
QUERY_MIX = (
    "q_ssjoin_exact", "q_semantic_dedup", "q_kmv_intersect",
    "q_multimodal_meta", "q_frame_sample", "q_pagerank", "q_waiting_suppliers",
    "q_running_distinct", "q_sessionize",
)
QUERY_MODULES = (
    "llm.dedup", "llm.similarity", "queries.advanced", "llm.multimodal",
    "llm.graph", "queries.tpch_final", "queries.timeseries", "streaming.pipeline",
)
MODULE_FIELDS = ("construct_s", "exec_s", "jobs", "executor_cpu_s")


#: End-to-end metrics and their units, the same for every workload. The
#: times are divided by the run's control time (a plain Spark job over the
#: same inputs): on a shared 4-core VM, plain seconds drifted by up to 1.6x
#: within half an hour while these ratios stayed within a few percent.
END_TO_END = {
    "setup_s": "s", "over_control": "ratio", "round_over_control": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), identical for all workloads."""
    names = [(f"compactor.core.{p}_s", "s") for p in PHASES]
    names += [
        ("compactor.core.plan_s_per_leaf", "s"),
        ("compactor.core.unaccounted_s", "s"),
        ("compactor.core.repass_s", "s"),
        ("compactor.core.merge_mb_per_s", "MB/s"),
        ("compactor.core.files_out", "count"),
        ("compactor.core.bytes_out_ratio", "ratio"),
        ("compactor.core.leaves_compacted", "count"),
        ("compactor.core.leaves_skipped", "count"),
        ("compactor.core.leaves_failed", "count"),
    ]
    for call in FS_GROUPS:
        names += [(f"compactor.fs.{call}.calls", "count"), (f"compactor.fs.{call}.s", "s")]
    for f in SPARK_FIELDS:
        unit = "count" if f in ("jobs", "stages", "tasks") else (
            "bytes" if f.endswith("_bytes") else "s")
        names.append((f"spark.{f}", unit))
    names += [
        ("spark.jobs_per_leaf", "count"),
        ("pyspark.new_session.calls", "count"),
        ("pyspark.conf_set.calls", "count"),
        ("python_worker.cpu_s", "s"),
    ]
    for mod in QUERY_MODULES:
        names += [
            (f"{mod}.{f}", "count" if f == "jobs" else "s") for f in MODULE_FIELDS
        ]
    names += [(f"trace.self_s.{layer}", "s") for layer in SELF_LAYERS]
    names += [
        ("compactor.core.scan_after_s", "s"),
        ("raw.setup_s", "s"),
        ("raw.op_p50_s", "s"),
        ("raw.round_s", "s"),
        ("raw.control_s", "s"),
        ("trace.overhead_ratio", "ratio"),
        ("op.tail_s", "s"),
        ("op.tail_pct", "%"),
        ("op.samples", "count"),
    ]
    return names


class Checks:
    """Counts attempted operations and failures; a failed check counts as
    one failure and is reported on stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)
        return ok

    def check(self, ok: bool, what: str) -> bool:
        return self.op(ok, f"check failed: {what}")


@contextmanager
def job_group(spark, group: str | None):
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class TraceSession:
    """What the traced cycles of a run record: spans, call counts, and the
    Spark status-store figures of each job group they opened."""

    def __init__(self, spark):
        self.tracer = Tracer()
        self.stats = JobGroupStats(spark)
        self.spark_totals: dict[str, float] = defaultdict(float)
        self._groups = 0
        self._patches: list[tuple[object, str, object]] = []

    def new_group(self) -> str:
        self._groups += 1
        return f"perfbench-{os.getpid()}-{self._groups}"

    def add_group(self, group: str, start: float, end: float) -> dict:
        st = self.stats.read(group)
        st["driver_only_s"] = (end - start) - covered_s(
            start, end, [(a / 1e3, b / 1e3) for a, b in st.pop("intervals")])
        for k in SPARK_FIELDS:
            self.spark_totals[k] += st[k]
        return st

    def patch_pyspark(self) -> None:
        """Count calls into the pyspark public API that the program makes
        per leaf: child sessions and runtime conf writes."""
        from pyspark.sql import SparkSession
        from pyspark.sql.conf import RuntimeConfig

        for cls, attr, name in ((SparkSession, "newSession", "pyspark.new_session"),
                                (RuntimeConfig, "set", "pyspark.conf_set")):
            self._patches.append((cls, attr, cls.__dict__[attr]))
            self.tracer.count(cls, attr, name)

    def unpatch(self) -> None:
        for cls, attr, fn in self._patches:
            setattr(cls, attr, fn)
        self._patches.clear()


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Samples of untraced and traced cycles, and the end-to-end figures
    derived from them. Each cycle records its operation latencies, its
    round time and the time of its control job."""

    # Cycles per window at least: the first still runs colder than the next
    # two (the JIT keeps compiling), so the median needs three.
    min_cycles = 3

    def __init__(self, work: Path, seed: int, checks: Checks):
        self.work, self.seed, self.checks = work, seed, checks
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced: dict[str, list[float]] = defaultdict(list)

    def check_once(self, spark) -> None:
        pass

    @staticmethod
    def record(samples, ops: list[float], round_s: float, control_s: float) -> None:
        samples["op_s"].extend(ops)
        samples["round_s"].append(round_s)
        samples["control_s"].append(control_s)
        samples["over_control"].append(control_s / median(ops))
        samples["round_over_control"].append(round_s / control_s)

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
        """``setup_s`` is scaled to a host on which the control takes 1 s."""
        s = self.samples
        return {
            "setup_s": setup_s / median(s["control_s"]),
            "over_control": median(s["over_control"]),
            "round_over_control": median(s["round_over_control"]),
            "peak_rss_mb": peak_rss_mb,
        }

    def raw_metrics(self, setup_s: float) -> dict[str, float]:
        """The same figures in plain seconds, untraced cycles only."""
        s = self.samples
        return {
            "raw.setup_s": setup_s,
            "raw.op_p50_s": median(s["op_s"]),
            "raw.round_s": median(s["round_s"]),
            "raw.control_s": median(s["control_s"]),
        }


# ---------------------------------------------------------------------------
# Compaction workloads
# ---------------------------------------------------------------------------


def leaf_digests(lake_dir: str, rels: list[str]) -> dict[str, tuple[int, int]]:
    """(rows, order-insensitive row hash) per leaf, read with pyarrow.

    Independent of Spark: the row hash is pandas' per-row hash of every
    column, summed modulo 2**64, so it compares row multisets."""
    out = {}
    for rel in rels:
        leaf = Path(lake_dir) / rel
        files = sorted(p for p in leaf.glob("*.parquet") if not p.name.startswith(("_", ".")))
        rows, h = 0, 0
        for f in files:
            df = pq.read_table(f).to_pandas()
            rows += len(df)
            h = (h + int(pd.util.hash_pandas_object(df, index=False).sum())) % (1 << 64)
        out[rel] = (rows, h)
    return out


def leaf_rel(leaf_uri: str, lake_dir: str) -> str:
    """A compactor outcome key (a leaf URI) relative to the lake root."""
    return leaf_uri.split(lake_dir.rstrip("/") + "/", 1)[-1]


def data_files(lake_dir: str, rel: str) -> list[Path]:
    return sorted(p for p in (Path(lake_dir) / rel).glob("*.parquet")
                  if not p.name.startswith(("_", ".")))


class CompactionWorkload(Workload):
    """A lake is generated once per set-up; each cycle hard-links a fresh
    copy, runs the first pass (the operation), lets new files arrive in a
    fixed fraction of leaves, runs the daily re-pass (the round is both
    passes), a full scan of the compacted lake and the codec control.

    Correctness per cycle: every leaf's outcome and data-file count match
    the fixture's prediction after each pass. In the first cycle, and the
    first traced one, also: every leaf's row multiset is unchanged by the
    pass and the re-pass, and the third pass changes nothing."""

    arrival_fraction = 0.5
    arrival_rows = 1000

    def __init__(self, work: Path, seed: int, checks: Checks):
        super().__init__(work, seed, checks)
        self.cycles = 0
        self.lake: fx.Lake | None = None
        self.digests: dict[str, tuple[int, int]] = {}

    # -- subclass surface --------------------------------------------------
    def build(self, root: str, warm: bool) -> fx.Lake:
        """The measured lake, or with ``warm`` the small warm-up lake that
        runs the same code paths."""
        raise NotImplementedError

    def config(self):
        raise NotImplementedError

    # -- set-up -----------------------------------------------------------
    def generate(self, root: Path) -> None:
        self.lake = self.build(str(root / "lake"), warm=False)
        self.warm_lake = self.build(str(root / "warm"), warm=True)
        self.digests = {}

    def warm_up(self, spark) -> None:
        """One pass over the small warm-up lake."""
        self._pass(spark, self.warm_lake.pristine, None)

    # -- helpers ----------------------------------------------------------
    def _fresh_copy(self, tag: str) -> str:
        dst = self.work / f"lake-{tag}"
        shutil.rmtree(dst, ignore_errors=True)
        fx.clone_lake(self.lake.pristine, str(dst))
        return str(dst)

    def _pass(self, spark, lake_dir: str, ts: TraceSession | None):
        from parquet_compactor_spark.compactor import LakeCompactor

        lc = LakeCompactor(spark, lake_dir, self.config())
        if ts is not None:
            instrument_compactor(ts.tracer, lc)
            group = ts.new_group()
            with ts.tracer.span("pass", "op"), job_group(spark, group):
                t0, w0 = time.perf_counter(), time.time()
                out = lc.compact()
                dt, w1 = time.perf_counter() - t0, time.time()
            spark_st = ts.add_group(group, w0, w1)
        else:
            t0 = time.perf_counter()
            out = lc.compact()
            dt = time.perf_counter() - t0
            spark_st = None
        return out, dt, dict(lc.phase_timings), spark_st

    def _check_counts(self, lake_dir: str, expect: dict[str, tuple[int, int]],
                      when: str) -> None:
        for rel, (lo, hi) in expect.items():
            got = len(data_files(lake_dir, rel))
            self.checks.check(lo <= got <= hi,
                              f"{when}: {rel} has {got} data files, plan says {lo}..{hi}")

    def _check_digests(self, lake_dir: str, expect: dict[str, tuple[int, int]], when: str):
        got = leaf_digests(lake_dir, list(expect))
        for rel, want in expect.items():
            self.checks.check(got[rel] == want,
                              f"{when}: row multiset of {rel} changed {want} -> {got[rel]}")

    def _codec_control(self, spark) -> float:
        """Seconds for a plain ``spark.read.parquet(leaf).write.parquet``
        of every leaf the pass merges, over the same input bytes: the
        read+encode ceiling with no compactor logic."""
        ctrl = self.work / "codec-control"
        t0 = time.perf_counter()
        for i, lf in enumerate(lf for lf in self.lake.leaves if lf.compacts):
            (spark.read.parquet(str(Path(self.lake.pristine) / lf.rel))
             .write.mode("overwrite").parquet(str(ctrl / str(i))))
        dt = time.perf_counter() - t0
        shutil.rmtree(ctrl, ignore_errors=True)
        return dt

    @staticmethod
    def _scan(spark, lake_dir: str) -> float:
        """A full noop-sink scan of the lake: the downstream read cost
        that compaction exists to lower."""
        t0 = time.perf_counter()
        (spark.read.option("recursiveFileLookup", "true").parquet(lake_dir)
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    # -- one cycle ----------------------------------------------------------
    def cycle(self, spark, ts: TraceSession | None) -> None:
        lake = self.lake
        rels = [lf.rel for lf in lake.leaves]
        if not self.digests:
            self.digests = leaf_digests(lake.pristine, rels)
        deep = self.cycles == 0 or (ts is not None and not self.traced["op_s"])
        self.cycles += 1
        lake_dir = self._fresh_copy("cycle")
        samples = self.traced if ts is not None else self.samples
        w_before = python_worker_cpu_s(os.getpid()) if ts else 0.0

        out, pass_s, phases, spark_st = self._pass(spark, lake_dir, ts)
        by_rel = {leaf_rel(k, lake_dir): v for k, v in out.items()}
        for lf in lake.leaves:
            outcome = by_rel.get(lf.rel, "nothing_to_compact")
            good = outcome.startswith("compacted_") if lf.compacts else outcome in (
                "nothing_to_compact", "skipped_current_month")
            self.checks.op(good, f"first pass: {lf.rel} outcome {outcome}")
        self._check_counts(lake_dir, {lf.rel: lf.files_after for lf in lake.leaves}, "first pass")
        for lf in lake.leaves:
            rows = max((pq.read_metadata(p).num_rows for p in data_files(lake_dir, lf.rel)),
                       default=0)
            self.checks.check(rows <= fx.CHUNKED_ROWS,
                              f"first pass: {lf.rel} has a file of {rows} rows")
        if deep:
            self._check_digests(lake_dir, self.digests, "first pass")

        counts = {lf.rel: len(data_files(lake_dir, lf.rel)) for lf in lake.leaves}
        merged_bytes = sum(p.stat().st_size for lf in lake.leaves if lf.compacts
                           for p in data_files(lake_dir, lf.rel))
        touched = fx.add_new_files(lake_dir, lake, self.seed + self.cycles,
                                   self.arrival_fraction, self.arrival_rows)
        expect_after = ({rel: leaf_digests(lake_dir, [rel])[rel] for rel in touched}
                        if deep else {})
        out2, repass_s, _, _ = self._pass(spark, lake_dir, ts)
        if ts is not None:
            samples["python_worker.cpu_s"].append(python_worker_cpu_s(os.getpid()) - w_before)
        by_rel2 = {leaf_rel(k, lake_dir): v for k, v in out2.items()}
        for rel in touched:
            outcome = by_rel2.get(rel, "missing")
            self.checks.op(outcome.startswith("compacted_"), f"re-pass: {rel} outcome {outcome}")
        # The newest prior output and the arrivals merge into one file.
        self._check_counts(lake_dir, {rel: (counts[rel], counts[rel]) for rel in touched},
                           "re-pass")
        if deep:
            self._check_digests(lake_dir, expect_after, "re-pass")
            before = sorted((p, p.stat().st_mtime_ns) for p in Path(lake_dir).rglob("*")
                            if p.is_file())
            out3, _, _, _ = self._pass(spark, lake_dir, None)
            after = sorted((p, p.stat().st_mtime_ns) for p in Path(lake_dir).rglob("*")
                           if p.is_file())
            self.checks.check(
                all(v in ("nothing_to_compact", "skipped_current_month") for v in out3.values())
                and before == after, "third pass was not a no-op")

        scan_s = self._scan(spark, lake_dir)
        control_s = self._codec_control(spark)

        self.record(samples, [pass_s], pass_s + repass_s, control_s)
        samples["repass_s"].append(repass_s)
        samples["scan_s"].append(scan_s)
        if ts is None:
            return
        compacted = [v for v in out.values() if v.startswith("compacted_")]
        skipped = [v for v in out.values()
                   if v in ("nothing_to_compact", "skipped_current_month")
                   or v.startswith("skipped_")]
        for p in PHASES:
            samples[f"compactor.core.{p}_s"].append(phases.get(p, 0.0))
        samples["compactor.core.plan_s_per_leaf"].append(
            phases.get("plan", 0.0) / max(1, len(compacted)))
        samples["compactor.core.unaccounted_s"].append(pass_s - sum(phases.values()))
        samples["compactor.core.merge_mb_per_s"].append(lake.bytes_in / MB / pass_s)
        samples["compactor.core.files_out"].append(sum(counts.values()))
        samples["compactor.core.bytes_out_ratio"].append(merged_bytes / lake.bytes_in)
        samples["compactor.core.leaves_compacted"].append(len(compacted))
        samples["compactor.core.leaves_skipped"].append(len(skipped))
        samples["compactor.core.leaves_failed"].append(
            len(out) - len(compacted) - len(skipped))
        samples["spark.jobs_per_leaf"].append(spark_st["jobs"] / max(1, len(compacted)))

    def layer_metrics(self) -> dict[str, float]:
        t = self.traced
        out = {k: median(v) for k, v in t.items()
               if k.startswith(("compactor.", "spark.", "python_worker."))}
        out["compactor.core.repass_s"] = median(t["repass_s"])
        out["compactor.core.scan_after_s"] = median(self.samples["scan_s"])
        return out

    @staticmethod
    def measures(name: str) -> bool:
        """Whether this workload exercises the layer of metric ``name``."""
        return not name.startswith(tuple(m + "." for m in QUERY_MODULES))


class BigLeaf(CompactionWorkload):
    """One leaf of many small snappy files; default config (rename commit
    on ``file://``): write and codec work dominate the pass."""

    n_files = 64
    rows_per_file = 40_000

    def build(self, root: str, warm: bool) -> fx.Lake:
        return fx.build_big_leaf(root, self.seed, 8 if warm else self.n_files,
                                 self.rows_per_file)

    def config(self):
        from parquet_compactor_spark.compactor import CompactionConfig

        return CompactionConfig()


class ManyLeaves(CompactionWorkload):
    """Many leaves of a few small files each, mixing the FIXTURES.md
    section B kinds, with ``direct_commit=True`` (GCP leaves still take
    the rename commit): per-leaf fixed cost dominates the pass."""

    # Four plain leaves plus one of each other kind (fixtures slot numbers);
    # the warm-up lake has one plain, the GCP and the re-compaction leaf.
    slots = (0, 1, 2, 3, 6, 7, 8, 9)
    warm_slots = (0, 6, 7)
    rows_per_file = 1000

    def build(self, root: str, warm: bool) -> fx.Lake:
        return fx.build_many_leaves(root, self.seed, self.warm_slots if warm else self.slots,
                                    self.rows_per_file)

    def config(self):
        from parquet_compactor_spark.compactor import CompactionConfig

        return CompactionConfig(direct_commit=True)


def instrument_compactor(tracer: Tracer, lc) -> None:
    """Wrap the compactor's public entry points and its HadoopFS handle on
    this instance only."""
    tracer.wrap(lc, "compact", "compact", "compactor.core")
    tracer.wrap(lc, "candidate_leaves", "candidate_leaves", "compactor.core")
    for attr, call in FS_CALLS.items():
        tracer.wrap(lc.fs, attr, f"compactor.fs.{call}", "compactor.fs")


# ---------------------------------------------------------------------------
# Query mix
# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """The fixed query list, each query built fresh and run to the noop
    sink, guard caches released between queries (as in bench.py).
    Complete rounds only, so every query has the same number of samples.
    The control is a noop scan of every input table. Never touches the
    compactor."""

    sf = 0.01
    n_docs = 120
    data: str | None = None

    def generate(self, root: Path) -> None:
        fx.write_tables(str(root), self.seed, self.sf, self.n_docs)
        self.data = str(root)

    def _queries(self):
        from parquet_compactor_spark.registry import all_queries

        qs = all_queries()
        return [qs[name] for name in QUERY_MIX]

    def warm_up(self, spark) -> None:
        from parquet_compactor_spark.registry import all_queries

        all_queries()["q_agg_pricing"].fn(spark, self.data).count()

    def check_once(self, spark) -> None:
        """Each query against its DuckDB oracle, outside the timed window
        (this also runs every plan in the mix once before timing)."""
        from parquet_compactor_spark.llm.text import release_guard_caches
        from tests.oracle_utils import compare_to_oracle

        for q in self._queries():
            try:
                compare_to_oracle(q.fn(spark, self.data), q.oracle, self.data)
                ok, why = True, ""
            except Exception as err:  # noqa: BLE001 - every failure is counted
                ok, why = False, str(err).splitlines()[0][:300] if str(err) else repr(err)
            self.checks.check(ok, f"oracle {q.name}: {why}")
            release_guard_caches()

    def cycle(self, spark, ts: TraceSession | None) -> None:
        from parquet_compactor_spark.llm.text import release_guard_caches

        samples = self.traced if ts is not None else self.samples
        module = defaultdict(lambda: defaultdict(float))
        latencies: list[float] = []
        w_before = python_worker_cpu_s(os.getpid()) if ts else 0.0
        for q in self._queries():
            mod = q.fn.__module__.removeprefix("parquet_compactor_spark.")
            try:
                if ts is None:
                    t0 = time.perf_counter()
                    q.fn(spark, self.data).write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                else:
                    dt = self._traced_query(spark, ts, q, module[mod])
                self.checks.op(True, q.name)
            except Exception as err:  # noqa: BLE001 - a query that raises is a failure
                self.checks.op(False, f"{q.name} raised {str(err).splitlines()[0][:300]}")
                release_guard_caches()
                continue
            release_guard_caches()
            latencies.append(dt)
        t0 = time.perf_counter()
        for path in sorted(Path(self.data).glob("*.parquet")):
            spark.read.parquet(str(path)).write.format("noop").mode("overwrite").save()
        if latencies:
            self.record(samples, latencies, sum(latencies), time.perf_counter() - t0)
        if ts is not None:
            samples["python_worker.cpu_s"].append(python_worker_cpu_s(os.getpid()) - w_before)
            for mod in QUERY_MODULES:
                for f in MODULE_FIELDS:
                    samples[f"{mod}.{f}"].append(module[mod][f])

    def _traced_query(self, spark, ts: TraceSession, q, acc) -> float:
        tracer = ts.tracer
        g_c, g_e = ts.new_group(), ts.new_group()
        with tracer.span(q.name, "op"):
            t0 = time.perf_counter()
            w0 = time.time()
            with tracer.span("construct", "query.construct"), job_group(spark, g_c):
                df = q.fn(spark, self.data)
            w1 = time.time()
            with tracer.span("exec", "query.exec"), job_group(spark, g_e):
                df.write.format("noop").mode("overwrite").save()
            w2 = time.time()
            dt = time.perf_counter() - t0
        st_c = ts.add_group(g_c, w0, w1)
        st_e = ts.add_group(g_e, w1, w2)
        acc["construct_s"] += w1 - w0
        acc["exec_s"] += w2 - w1
        acc["jobs"] += st_c["jobs"] + st_e["jobs"]
        acc["executor_cpu_s"] += st_c["executor_cpu_s"] + st_e["executor_cpu_s"]
        return dt

    def layer_metrics(self) -> dict[str, float]:
        t = self.traced
        return {k: median(v) for k, v in t.items()
                if k.startswith(tuple(m + "." for m in QUERY_MODULES)) or k == "python_worker.cpu_s"}

    @staticmethod
    def measures(name: str) -> bool:
        """Whether this workload exercises the layer of metric ``name``."""
        return not name.startswith(("compactor.", "spark.jobs_per_leaf"))


WORKLOADS = {
    "compact_big_leaf": BigLeaf,
    "compact_many_leaves": ManyLeaves,
    "query_mix": QueryMix,
}

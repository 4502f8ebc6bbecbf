"""The /proc sampler and the Spark status-store reader."""

import json
import os
from pathlib import Path

import pytest

import probe
from workloads import END_TO_END, per_layer_names

ROOT = Path(__file__).resolve().parents[2]


def test_sampler_sees_this_process():
    with probe.ProcSampler(interval=0.01) as s:
        buf = bytearray(64 << 20)  # touch 64 MB
        buf[::4096] = b"x" * len(buf[::4096])
        s.sample()
    assert s.samples >= 1
    assert s.peak_bytes >= 64 << 20
    assert probe.python_worker_cpu_s(os.getpid()) == 0.0  # no JVM under pytest's process


def test_benchmark_json_lists_exactly_the_metrics_the_code_reports():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_names()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    from parquet_compactor_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    s = get_spark(app_name="perfbench-test")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_aqe_jobs_are_counted_in_the_job_group(spark):
    """Adaptive execution runs each shuffle stage as its own job; every
    job the query submits must carry the group, or per-layer Spark
    figures would miss them."""
    from pyspark.sql import functions as F

    from workloads import job_group

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    store = spark.sparkContext._jsc.sc().statusStore()
    before = {j.jobId() for j in spark.sparkContext._jvm.scala.jdk.javaapi
              .CollectionConverters.asJava(store.jobsList(None))}
    a = spark.range(20_000).withColumn("k", F.col("id") % 97)
    b = spark.range(5_000).withColumn("k", F.col("id") % 89).groupBy("k").count()
    with job_group(spark, "perfbench-aqe-test"):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a.join(b, "k").groupBy("k").agg(F.sum("id")).write.format("noop").mode(
                "overwrite").save()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    after = {j.jobId() for j in spark.sparkContext._jvm.scala.jdk.javaapi
             .CollectionConverters.asJava(store.jobsList(None))}
    new_jobs = after - before
    grouped = set(spark.sparkContext.statusTracker().getJobIdsForGroup("perfbench-aqe-test"))
    assert len(new_jobs) > 1  # AQE split the plan into several jobs
    assert new_jobs == grouped
    st = probe.JobGroupStats(spark).read("perfbench-aqe-test")
    assert st["jobs"] == len(grouped)
    assert st["tasks"] > 0 and st["shuffle_write_bytes"] > 0
    assert st["intervals"] and all(a <= b for a, b in st["intervals"])


def test_query_modules_are_the_modules_of_the_mix():
    from workloads import QUERY_MIX, QUERY_MODULES

    from parquet_compactor_spark.registry import all_queries

    qs = all_queries()
    mods = {qs[n].fn.__module__.removeprefix("parquet_compactor_spark.") for n in QUERY_MIX}
    assert mods == set(QUERY_MODULES)
    assert all(qs[n].oracle for n in QUERY_MIX)

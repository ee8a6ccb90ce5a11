"""What a session builds once and reuses: generated classes (the codegen
cache ``get_spark`` sizes) and input-table schemas (``plans.queries.T``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from power_generation_etl_spark.memo import PlanMemo
from power_generation_etl_spark.plans.queries import T
from power_generation_etl_spark.session import CODEGEN_CACHE_ENTRIES, get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Light catalog entries whose cold run compiles well over the 100
# classes Spark's default codegen cache holds.
_WARM_SET = [
    "pricing_summary",
    "json_props_rollup",
    "top_orders",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "asof_clicks_errors",
    "regional_revenue",
    "revenue_forecast",
]

# Runs in a fresh process, so the first pass is cold whatever the test
# session has compiled before.
_REPEAT_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
import __spark_entry__
from power_generation_etl_spark.session import get_spark
spark = get_spark("codegen-repeat", shuffle_partitions=4)
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
qs, counts = __spark_entry__.queries(), []
for _ in range(2):
    n0 = compiles.getCount()
    for name in {names!r}:
        qs[name](spark, {sf_dir!r}).collect()
    counts.append(compiles.getCount() - n0)
print(json.dumps({{"conf": spark.conf.get("spark.sql.codegen.cache.maxEntries"), "counts": counts}}))
spark.stop()
"""


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _in_group(spark, fn):
    """Run ``fn()`` under a job group of its own; return (result, jobs)."""
    group = f"schema-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    return out, _jobs(spark, group)


def _write(path: str, **cols) -> None:
    pq.write_table(pa.table(cols), path)


class TestCodegenCache:
    def test_session_cache_sized_for_the_working_set(self, spark):
        assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES) == "4096"

    def test_warm_repeat_compiles_nothing(self, sf_dir):
        env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
        script = _REPEAT_SCRIPT.format(root=ROOT, names=_WARM_SET, sf_dir=sf_dir)
        out = subprocess.run(
            [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=600
        )
        assert out.returncode == 0, out.stderr[-3000:]
        got = json.loads(out.stdout.strip().splitlines()[-1])
        assert got["conf"] == "4096"
        first, repeat = got["counts"]
        assert first > 100, got  # more classes than the default cache holds
        assert repeat == 0, got


class TestSchemaAccessor:
    def test_second_read_runs_no_job(self, spark, tmp_path):
        _write(str(tmp_path / "t.parquet"), a=[1, 2, 3])
        df1, jobs1 = _in_group(spark, lambda: T(spark, str(tmp_path), "t"))
        df2, jobs2 = _in_group(spark, lambda: T(spark, str(tmp_path), "t"))
        assert jobs1 >= 1 and jobs2 == 0
        assert df2.schema == df1.schema
        assert sorted(r.a for r in df2.collect()) == [1, 2, 3]

    def test_rewrite_at_same_path_is_inferred_again(self, spark, tmp_path):
        path = str(tmp_path / "t.parquet")
        _write(path, a=[1, 2, 3])
        assert T(spark, str(tmp_path), "t").columns == ["a"]
        _write(path, b=["x"], c=[1.5])
        df, jobs = _in_group(spark, lambda: T(spark, str(tmp_path), "t"))
        assert jobs >= 1
        assert df.dtypes == [("b", "string"), ("c", "double")]
        assert [tuple(r) for r in df.collect()] == [("x", 1.5)]

    def test_rewritten_spark_directory_is_inferred_again(self, spark, tmp_path):
        path = str(tmp_path / "t.parquet")
        spark.range(3).write.parquet(path)
        assert T(spark, str(tmp_path), "t").columns == ["id"]
        spark.range(2).selectExpr("cast(id AS string) AS s").write.mode("overwrite").parquet(path)
        assert T(spark, str(tmp_path), "t").dtypes == [("s", "string")]

    def test_reads_share_semantics_and_memo_products(self, spark, sf_dir):
        d1 = T(spark, sf_dir, "orders")
        d2 = T(spark, sf_dir, "orders")
        assert d1.sameSemantics(d2)
        assert d1.sameSemantics(spark.read.parquet(f"{sf_dir}/orders.parquet"))
        memo, builds = PlanMemo("schema-reads"), []

        def build():
            builds.append(1)
            return object()

        first = memo.get_or_build(("p",), d1, build)
        assert memo.get_or_build(("p",), d2, build) is first
        assert len(builds) == 1

    def test_concurrent_first_reads_infer_once(self, spark, tmp_path):
        _write(str(tmp_path / "t.parquet"), a=[1, 2, 3])
        start = threading.Barrier(6)
        jobs, schemas = [], []

        def read():
            group = f"schema-{uuid.uuid4().hex}"
            start.wait(30)
            spark.sparkContext.setJobGroup(group, group)
            schemas.append(T(spark, str(tmp_path), "t").schema)
            spark.sparkContext._jsc.clearJobGroup()
            jobs.append(_jobs(spark, group))

        threads = [threading.Thread(target=read) for _ in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert len(jobs) == 6 and all(s == schemas[0] for s in schemas)
        assert sum(1 for n in jobs if n) == 1, jobs


@pytest.mark.parametrize("value", ["abc", "0", "-1"])
def test_cpus_env_rejects_non_positive_integers(value, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-cpus")
    # Importing the package does not parse it.
    out = subprocess.run(
        [sys.executable, "-c", "import power_generation_etl_spark"],
        cwd=ROOT, env=dict(os.environ), capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr

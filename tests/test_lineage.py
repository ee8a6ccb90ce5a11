"""The pluggable lineage-cut strategy (lineage.py) is semantically the
identity: every mode must give identical results on iterative
operators. `local` is the default everywhere else in the suite; here
each mode runs the same fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from power_generation_etl_spark import lineage


def _cc_result(spark):
    from power_generation_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 8)], "src bigint, dst bigint"
    )
    return sorted(
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    )


def _lrs_result(spark):
    from power_generation_etl_spark.operators.suffix import (
        longest_repeated_substrings,
    )

    run = " ".join(f"t{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, run + " x y"), (2, "pad " + run)], "doc_id bigint, text string"
    )
    return [
        tuple(r)
        for r in longest_repeated_substrings(df, "doc_id", "text", top=5).collect()
    ]


def _rank_result(spark):
    from power_generation_etl_spark.operators.rank import with_global_rank

    df = spark.range(100).select(
        (F.col("id") * 37 % 100).alias("k"), "id"
    )
    out = with_global_rank(df, [F.col("k"), F.col("id")], rank_col="r")
    return sorted((r["k"], r["id"], r["r"]) for r in out.collect())


def _lpa_result(spark):
    from power_generation_etl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "u bigint, v bigint",
    )
    return sorted(
        (r["id"], r["lab"])
        for r in label_propagation(edges, "u", "v", rounds=3).collect()
    )


def _pagerank_result(spark):
    from power_generation_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], "src bigint, dst bigint"
    )
    return sorted(
        (r["id"], r["rank_scaled"])
        for r in pagerank(edges, iters=3).collect()
    )


def _bf_result(spark):
    from power_generation_etl_spark.operators.graph import (
        bounded_cheapest_paths,
    )

    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 1, 2), (1, 3, 1), (2, 3, 100)],
        "u bigint, v bigint, w bigint",
    )
    return sorted(
        tuple(r)
        for r in bounded_cheapest_paths(
            edges, source_id=0, k=4
        ).collect()
    )


class TestLineageModes:
    def test_invalid_mode_rejected(self, monkeypatch):
        monkeypatch.setenv("SPARK_ETL_LINEAGE_CUT", "bogus")
        with pytest.raises(ValueError):
            lineage.mode()

    @pytest.mark.parametrize(
        "fixture",
        [_cc_result, _lrs_result, _rank_result, _lpa_result, _pagerank_result,
         _bf_result],
    )
    def test_modes_identical(self, spark, monkeypatch, fixture):
        # suffix products must not be reused across modes — the point
        # is to rebuild under each strategy.
        monkeypatch.setenv("SPARK_ETL_PRODUCT_CACHE", "0")
        results = {}
        for m in ("local", "persist", "checkpoint"):
            monkeypatch.setenv("SPARK_ETL_LINEAGE_CUT", m)
            results[m] = fixture(spark)
        assert results["local"] == results["persist"] == results["checkpoint"]


class TestClusterStorageContract:
    """persist mode promises to need NO shared cluster storage; a
    driver-local temp checkpoint dir on a real (non-local) master would
    silently break that (executors write to their own /tmp). These
    tests simulate the non-local case by patching `_local_master` and
    the context's reported checkpoint dir."""

    def _pretend_cluster(self, spark, monkeypatch):
        monkeypatch.setattr(lineage, "_local_master", lambda df: False)
        # instance attribute shadows the method — no real dir mutation
        monkeypatch.setattr(
            spark.sparkContext, "getCheckpointDir", lambda: None
        )

    def test_persist_cut_index_falls_back_to_persist(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_ETL_LINEAGE_CUT", "persist")
        self._pretend_cluster(spark, monkeypatch)
        df = spark.range(10).select((F.col("id") * 2).alias("x"))
        out = lineage.cut_index(df)
        # fell back to persist+count: storage pinned DISK_ONLY, no
        # reliable checkpoint was attempted (which would have needed a
        # dir and thrown), and values are intact
        assert out.storageLevel.useDisk and not out.storageLevel.useMemory
        assert sorted(r["x"] for r in out.collect()) == list(range(0, 20, 2))
        out.unpersist()

    def test_persist_cut_index_uses_preconfigured_dir(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_ETL_LINEAGE_CUT", "persist")
        monkeypatch.setattr(lineage, "_local_master", lambda df: False)
        # deployment opted into shared storage → reliable checkpoint OK.
        # If this session has no dir yet, configure one OUTSIDE pytest's
        # tmp_path (which is cleaned up, and a SparkContext checkpoint
        # dir cannot be unset — later checkpoints in this session would
        # write into a deleted directory).
        if spark.sparkContext.getCheckpointDir() is None:
            import tempfile

            spark.sparkContext.setCheckpointDir(
                tempfile.mkdtemp(prefix="spark-etl-test-ckpt-")
            )
        df = spark.range(5)
        out = lineage.cut_index(df)
        assert sorted(r["id"] for r in out.collect()) == list(range(5))

    def test_checkpoint_mode_requires_shared_dir_on_cluster(
        self, spark, monkeypatch
    ):
        monkeypatch.setenv("SPARK_ETL_LINEAGE_CUT", "checkpoint")
        self._pretend_cluster(spark, monkeypatch)
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            lineage.cut(spark.range(3))

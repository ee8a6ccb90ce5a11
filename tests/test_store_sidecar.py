"""Store reads take their schema from the `_schema.json` sidecar.

Every table kind the store writes must read back with exactly the
schema parquet inference would give, without the inference job; a
table directory without a sidecar still reads by inference."""

from __future__ import annotations

import datetime
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from power_generation_etl_spark.engine import Engine
from power_generation_etl_spark.schemas import EXTRACTION_METADATA_SCHEMA
from power_generation_etl_spark.session import local_frame
from power_generation_etl_spark.store import MONTH_COL, SCHEMA_FILE, TableStore

JAN = 1704067200000  # 2024-01-01T00:00:00Z
FEB = 1706745600000  # 2024-02-01T00:00:00Z
HOUR = 3_600_000


def _jobs_of(spark, fn):
    """Run ``fn()`` under a job group of its own; return (result, jobs)."""
    group = f"sidecar-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, root):
    df = spark.read.option("basePath", root).parquet(root)
    return df.drop(MONTH_COL).schema


def _entsoe_rows(spark, n=24, plant="P1", start=JAN):
    return spark.createDataFrame(
        [
            (str(uuid.UUID(int=1)), start, start + k * HOUR, "DE", "B16", plant,
             "Solar", "Actual Aggregated", float(k), 60)
            for k in range(n)
        ],
        "extraction_run_id string, created_at_ms long, timestamp_ms long, "
        "country_code string, psr_type string, plant_name string, fuel_type string, "
        "data_type string, generation_mw double, resolution_minutes long",
    )


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.setup()
    eng.store.append("entsoe_generation_data", _entsoe_rows(spark))
    eng.store.append("entsoe_generation_data", _entsoe_rows(spark, plant="P2", start=FEB))
    return eng


def test_every_table_kind_reads_its_inferred_schema(spark, tmp_path, engine):
    store = engine.store
    engine.refresh_views("entsoe")
    engine.upsert_metadata({"extraction_run_id": "r1", "source": "entsoe", "success": True})
    engine.upsert_metadata({"extraction_run_id": "r1", "source": "entsoe", "success": False})

    kv = "k long, v string, ver long"
    store.overwrite("kv", spark.createDataFrame([(1, "a", 0), (2, "b", 0)], kv))
    store.merge_upsert("kv", spark.createDataFrame([(2, "c", 1), (3, "d", 1)], kv), ["k"], "ver")

    store.create("compacted", _entsoe_rows(spark).schema)
    for start in (JAN, FEB):
        store.append("compacted", _entsoe_rows(spark, start=start))
    store.compact("compacted")
    store.append("clustered", _entsoe_rows(spark))
    store.cluster("clustered", ["plant_name", "timestamp_ms"])

    vstore = TableStore(spark, str(tmp_path / "vwh"), versioned=True)
    vstore.overwrite("t", spark.createDataFrame([(1, "a")], "k long, v string"))
    vstore.overwrite("t", spark.createDataFrame([(2, "b")], "k long, v string"))
    vstore.restore("t", 1)

    tables = [
        (store, "entsoe_generation_data"),
        *[(store, v) for v in ("mv_entsoe_monthly", "mv_entsoe_plant_monthly", "mv_entsoe_row_counts")],
        (store, "extraction_metadata"),
        (store, "kv"),
        (store, "compacted"),
        (store, "clustered"),
        (vstore, "t"),
    ]
    for st, t in tables:
        assert os.path.isfile(os.path.join(st.path(t), SCHEMA_FILE)), t
        assert st.read(t).schema == _inferred(spark, st.path(t)), t
    assert sorted(r["k"] for r in vstore.read("t").collect()) == [1]
    assert {r["k"]: r["v"] for r in store.read("kv").collect()} == {1: "a", 2: "c", 3: "d"}


def test_store_reads_run_no_jobs(spark, engine):
    store = engine.store
    t = "entsoe_generation_data"
    engine.refresh_views("entsoe")
    for read in (
        lambda: store.read(t),
        lambda: store.read(t),  # a second read, too
        lambda: store.read_months(t, ["2024-01"]),
        lambda: store.read_range(t, JAN, JAN + 5 * HOUR),
        lambda: store.read_join_months(
            t, spark.range(1).select(F.lit("2024-02").alias("m")).where("m > '2024-01'")
        ),
        lambda: store.read("mv_entsoe_monthly"),
    ):
        df, jobs = _jobs_of(spark, read)
        assert jobs == 0
        assert MONTH_COL not in df.columns
    assert store.read_months(t, ["2024-01"]).count() == 24
    assert store.read_range(t, JAN, JAN + 5 * HOUR).count() == 6


def test_directory_without_sidecar_reads_by_inference(spark, engine):
    store = engine.store
    t = "entsoe_generation_data"
    want = sorted(map(tuple, store.read(t).collect()))
    os.remove(os.path.join(store.path(t), SCHEMA_FILE))
    assert store.read(t).schema == _inferred(spark, store.path(t))
    assert sorted(map(tuple, store.read(t).collect())) == want
    assert store.read_months(t, ["2024-02"]).count() == 24

    # a parquet directory some other writer left in the warehouse
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(store.path("foreign"))
    assert store.read("foreign").collect() == [(1, "x")]


def test_overwrite_with_new_columns_replaces_the_sidecar(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.create("t", EXTRACTION_METADATA_SCHEMA)
    store.append("t", local_frame(spark, [{"extraction_run_id": "a", "source": "s"}],
                                  EXTRACTION_METADATA_SCHEMA))
    # same shape: the non-null flags create() persisted survive the rewrite
    store.overwrite("t", store.read("t"))
    store.truncate("t")
    assert store.read("t").schema == EXTRACTION_METADATA_SCHEMA

    store.overwrite("t", spark.createDataFrame([(1, 2.5)], "x long, y double"))
    assert store.read("t").collect() == [(1, 2.5)]
    assert store.read("t").schema == _inferred(spark, store.path("t"))


def test_sidecar_only_table_reads_empty_without_jobs(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    store.create("m", EXTRACTION_METADATA_SCHEMA)
    df, jobs = _jobs_of(spark, lambda: store.read("m"))
    assert jobs == 0
    assert df.schema == EXTRACTION_METADATA_SCHEMA
    assert df.count() == 0
    with pytest.raises(FileNotFoundError):
        store.read("missing")


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_local_frame_matches_list_path(spark, tz, monkeypatch):
    """The Arrow-built frame reads back exactly what createDataFrame(list)
    gives, timestamps and dates included, whatever the driver's zone."""
    import time

    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        rows = [
            {
                "extraction_run_id": "r1",
                "source": "entsoe",
                "extraction_timestamp": datetime.datetime(2024, 3, 10, 2, 30, 1, 123456),
                "start_date": datetime.date(2024, 1, 1),
                "end_date": datetime.date(2024, 1, 31),
                "total_records": 5,
                "success": True,
                "failed_details": json.dumps({"a": 1}),
            },
            {"extraction_run_id": "r2", "source": "npp"},
        ]
        names = EXTRACTION_METADATA_SCHEMA.fieldNames()
        want = spark.createDataFrame(
            [{c: r.get(c) for c in names} for r in rows], EXTRACTION_METADATA_SCHEMA
        )
        got = local_frame(spark, rows, EXTRACTION_METADATA_SCHEMA)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert got.select(F.unix_micros("extraction_timestamp")).collect() == want.select(
            F.unix_micros("extraction_timestamp")
        ).collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_restore_takes_the_versions_own_sidecar(spark, tmp_path):
    vstore = TableStore(spark, str(tmp_path / "vwh"), versioned=True)
    vstore.overwrite("t", spark.createDataFrame([(1, "a")], "k long, v string"))
    vstore.overwrite("t", spark.createDataFrame([(2.0,)], "w double"))
    assert vstore.read("t").collect() == [(2.0,)]
    vstore.restore("t", 1)
    assert vstore.read("t").collect() == [(1, "a")]
    assert vstore.read("t").schema == _inferred(spark, vstore.path("t"))

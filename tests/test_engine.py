"""End-to-end engine tests: the minimum slice of SURVEY §7.2 —
load ENTSOE JSONL → validated, first-wins-deduped, idempotently
appended table → mv_entsoe_monthly — plus maintenance operators."""

from __future__ import annotations

import json
import time

import pytest

from power_generation_etl_spark.engine import Engine

RUN_ID = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
NOW = int(time.time() * 1000)
JAN = 1704067200000  # 2024-01-01T00:00:00Z
FEB = 1706745600000  # 2024-02-01T00:00:00Z


def _entsoe(ts, plant, mw, res=60, **over):
    rec = {
        "extraction_run_id": RUN_ID,
        "created_at_ms": NOW,
        "timestamp_ms": ts,
        "country_code": "DE",
        "psr_type": "B16",
        "plant_name": plant,
        "fuel_type": "Unknown",
        "data_type": "Actual Aggregated",
        "generation_mw": mw,
        "resolution_minutes": res,
    }
    rec.update(over)
    return rec


def _write(tmp_path, records, name="data.jsonl"):
    p = tmp_path / name
    with open(p, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    return str(p)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "warehouse"))


def test_minimum_slice_end_to_end(engine, spark, tmp_path):
    recs = [
        _entsoe(JAN, "P1", 100.0, res=60),
        _entsoe(JAN + 3_600_000, "P1", 50.0, res=30),
        _entsoe(FEB, "P2", 10.0, res=60, psr_type="B14"),
        _entsoe(JAN, "P1", 999.0),  # in-file duplicate of rec 1 → dropped
    ]
    path = _write(tmp_path, recs)

    res = engine.load_jsonl("entsoe", path)
    assert res.inserted == 3
    assert res.report.duplicate_count == 1

    # Idempotent re-load: 0 inserted, all skipped (D2 contract).
    res2 = engine.load_jsonl("entsoe", path)
    assert res2.inserted == 0
    assert res2.skipped_existing == 3

    # MV refresh (A1): mwh = mw * res/60.
    engine.refresh_views("entsoe")
    mv = {
        (r["month"], r["fuel_type"]): r["generation_mwh"]
        for r in engine.table("mv_entsoe_monthly").collect()
    }
    assert mv[("2024-01-01", "Solar")] == pytest.approx(100.0 + 50.0 * 30 / 60)
    assert mv[("2024-02-01", "Nuclear")] == pytest.approx(10.0)

    # Watermark (A10).
    assert engine.get_latest_date("entsoe") == "2024-02-01"
    assert engine.get_latest_date("npp") == "1970-01-01"

    # Lineage (M1): one row, correct date range.
    meta = engine.table("extraction_metadata").collect()
    assert len(meta) == 1
    m = meta[0]
    assert m["source"] == "entsoe" and str(m["start_date"]) == "2024-01-01"
    assert str(m["end_date"]) == "2024-02-01"

    # Stats (A11) + truncate (S11).
    assert engine.stats()["entsoe_generation_data"] == 3
    assert engine.clear_table("entsoe_generation_data") == 3
    assert engine.stats()["entsoe_generation_data"] == 0


def test_cross_run_dedup_partial_overlap(engine, spark, tmp_path):
    p1 = _write(tmp_path, [_entsoe(JAN, "P1", 1.0), _entsoe(JAN, "P2", 2.0)], "a.jsonl")
    p2 = _write(
        tmp_path,
        [_entsoe(JAN, "P2", 999.0), _entsoe(JAN, "P3", 3.0)],
        "b.jsonl",
    )
    assert engine.load_jsonl("entsoe", p1).inserted == 2
    r = engine.load_jsonl("entsoe", p2)
    assert r.inserted == 1 and r.skipped_existing == 1
    rows = {x["plant_name"]: x["generation_mw"] for x in engine.table("entsoe_generation_data").collect()}
    assert rows == {"P1": 1.0, "P2": 2.0, "P3": 3.0}  # first run wins


def test_ons_null_coalesced_natural_key(engine, spark, tmp_path):
    def ons(plant_id, mwh):
        return {
            "extraction_run_id": RUN_ID,
            "created_at_ms": NOW,
            "timestamp_ms": JAN,
            "plant": "PL",
            "generation_mwh": mwh,
            "ons_plant_id": plant_id,
        }

    p1 = _write(tmp_path, [ons(None, 1.0)], "a.jsonl")
    p2 = _write(tmp_path, [ons(None, 2.0)], "b.jsonl")
    assert engine.load_jsonl("ons", p1).inserted == 1
    # COALESCE(ons_plant_id,'') uniqueness: null collides with null.
    assert engine.load_jsonl("ons", p2).inserted == 0


def test_metadata_upsert_updates_subset_only(engine, spark):
    engine.upsert_metadata(
        {
            "extraction_run_id": RUN_ID,
            "source": "entsoe",
            "total_records": 10,
            "failed_count": 0,
            "success": True,
            "failed_details": '{"x": 1}',
            "config_snapshot": '{"a":1}',
        }
    )
    first = engine.table("extraction_metadata").head()
    engine.upsert_metadata(
        {
            "extraction_run_id": RUN_ID,
            "source": "entsoe",
            "total_records": 20,
            "failed_count": 2,
            "success": False,
            "failed_details": '{"y": 2}',
            "config_snapshot": '{"a":2}',  # NOT updated on conflict
        }
    )
    rows = engine.table("extraction_metadata").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["total_records"] == 20 and r["failed_count"] == 2 and r["success"] is False
    assert r["failed_details"] == '{"y": 2}'
    assert r["config_snapshot"] == '{"a":1}'
    assert r["extraction_timestamp"] == first["extraction_timestamp"]
    # A third upsert sets failed_details back to null: the latest null
    # wins, as an ON CONFLICT DO UPDATE would leave it.
    engine.upsert_metadata(
        {
            "extraction_run_id": RUN_ID,
            "source": "npp",  # NOT updated on conflict
            "total_records": 30,
            "failed_count": 0,
            "success": True,
            "start_date": "2024-01-01",
        }
    )
    rows = engine.table("extraction_metadata").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["total_records"], r["failed_count"], r["success"], r["failed_details"]) == (30, 0, True, None)
    assert str(r["start_date"]) == "2024-01-01" and r["end_date"] is None
    assert (r["source"], r["config_snapshot"]) == ("entsoe", '{"a":1}')
    assert r["extraction_timestamp"] == first["extraction_timestamp"]


@pytest.mark.parametrize("versioned", [False, True])
def test_metadata_readers_see_one_row_per_run(spark, tmp_path, versioned):
    """Every reader of the metadata table sees a conflicting run id once,
    with its latest update columns: the summary views, the SQL surface,
    the backfill, clear_table's count and the CLI's version listing."""
    from datetime import datetime

    engine = Engine(spark, str(tmp_path / "warehouse"), versioned=versioned)
    path = _write(tmp_path, [_entsoe(JAN, "P1", 1.0), _entsoe(FEB, "P2", 2.0)])
    assert engine.load_jsonl("entsoe", path, write_metadata=False).inserted == 2

    def upsert(run, source, total, ok, hour):
        engine.upsert_metadata(
            {
                "extraction_run_id": run,
                "source": source,
                "extraction_timestamp": datetime(2024, 5, 1, hour),
                "total_records": total,
                "failed_count": 0 if ok else total,
                "success": ok,
            }
        )

    other = "b" * 8 + "-bbbb-cccc-dddd-eeeeeeeeeeee"
    third = "c" * 8 + "-bbbb-cccc-dddd-eeeeeeeeeeee"
    upsert(RUN_ID, "entsoe", 10, True, 1)
    upsert(other, "npp", 4, False, 2)
    upsert(RUN_ID, "entsoe", 20, False, 3)
    upsert(third, "entsoe", 5, True, 4)
    upsert(other, "npp", 6, True, 5)

    want = {RUN_ID: (1, 20, False), other: (2, 6, True), third: (4, 5, True)}
    meta = {
        r["extraction_run_id"]: (r["extraction_timestamp"].hour, r["total_records"], r["success"])
        for r in engine.table("extraction_metadata").collect()
    }
    assert meta == want
    summary = {
        r["source"]: (r["total_runs"], r["total_records"], r["successful_runs"], r["failed_runs"])
        for r in engine.extraction_summary().collect()
    }
    assert summary == {"entsoe": (2, 25, 1, 1), "npp": (1, 6, 1, 0)}
    recent = [r["extraction_run_id"] for r in engine.recent_extractions(limit=2).collect()]
    assert recent == [third, other]
    row = engine.sql(
        "SELECT count(*) AS n, sum(total_records) AS t FROM extraction_metadata"
    ).head()
    assert (row["n"], row["t"]) == (3, 31)

    # Only RUN_ID has rows in the source table; backfill fills its dates
    # and keeps its update columns.
    assert engine.backfill_extraction_dates() == 1
    assert engine.backfill_extraction_dates() == 0
    r = engine.table("extraction_metadata").filter(f"extraction_run_id = '{RUN_ID}'").head()
    assert (str(r["start_date"]), str(r["end_date"])) == ("2024-01-01", "2024-02-01")
    assert (r["total_records"], r["success"], r["extraction_timestamp"].hour) == (20, False, 1)

    engine.compact_table("extraction_metadata")
    assert engine.table("extraction_metadata").count() == 3
    if versioned:
        v = engine.store.versions("extraction_metadata")[-1]
        assert engine.table("extraction_metadata", version=v).count() == 3
    assert engine.clear_table("extraction_metadata") == 3
    assert engine.table("extraction_metadata").count() == 0
    upsert(RUN_ID, "entsoe", 1, True, 6)
    assert [r["total_records"] for r in engine.table("extraction_metadata").collect()] == [1]


def test_refresh_runs_every_job_in_the_callers_group(engine, spark, tmp_path):
    """The view pool's threads carry the caller's job group (and tags):
    no refresh job runs outside it."""
    import uuid
    import warnings

    engine.load_jsonl("entsoe", _write(tmp_path, [_entsoe(JAN, "P1", 1.0)]))
    engine.refresh_views_incremental(["2024-01"], "entsoe")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    loose = set(tracker.getJobIdsForGroup(None))
    group = f"refresh-{uuid.uuid4().hex}"
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        sc.setJobGroup(group, group)
        try:
            views = engine.refresh_views_incremental(["2024-01"], "entsoe")
        finally:
            sc._jsc.clearJobGroup()
    assert len(views) == 3
    assert len(tracker.getJobIdsForGroup(group)) >= 3
    assert not set(tracker.getJobIdsForGroup(None)) - loose
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_extraction_summary_and_recent(engine, spark):
    for i, ok in enumerate([True, True, False]):
        engine.upsert_metadata(
            {
                "extraction_run_id": f"{i}2345678-1234-1234-1234-123456789abc",
                "source": "npp",
                "total_records": 5,
                "failed_count": 0 if ok else 5,
                "success": ok,
            }
        )
    s = engine.extraction_summary().collect()[0]
    assert s["total_runs"] == 3 and s["successful_runs"] == 2 and s["failed_runs"] == 1
    assert engine.recent_extractions().count() == 3


def test_crosswalk_drift(engine, spark, tmp_path):
    p = _write(
        tmp_path,
        [_entsoe(JAN, "Known Plant", 1.0), _entsoe(JAN, "Mystery Plant", 2.0)],
    )
    engine.load_jsonl("entsoe", p)
    crosswalk = spark.createDataFrame(
        [("ENTSOE", "Known Plant", None)],
        "source_system string, plant_name string, plant_code string",
    )
    rep = engine.check_crosswalk_drift(crosswalk)
    assert rep["total_missing"] == 1
    assert rep["by_source"]["ENTSOE"]["sample"] == ["Mystery Plant"]


def test_aggregate_export(engine, spark, tmp_path):
    p = _write(
        tmp_path,
        [
            _entsoe(JAN, "P1", 100.0),
            _entsoe(JAN + 3_600_000, "P1", 200.0),
            _entsoe(FEB, "P2", 10.0),
        ],
    )
    engine.load_jsonl("entsoe", p)
    out = tmp_path / "export"
    ok, total = engine.aggregate_export(str(out), granularity="country")
    assert ok and total == 2  # two months, one country
    files = sorted(f.name for f in out.iterdir())
    assert files == ["entsoe_monthly_2024.csv"]
    lines = (out / "entsoe_monthly_2024.csv").read_text().strip().splitlines()
    assert lines[0] == "month,country_code,total_generation_mwh,hours_of_data,avg_generation_mw,peak_generation_mw"
    assert lines[1].startswith("2024-01-01,DE,300.0,2,150.0,200.0")


def test_setup_creates_empty_tables(engine):
    created = engine.setup()
    assert "entsoe_generation_data" in created
    assert engine.table("npp_generation").count() == 0
    # Setup is idempotent.
    assert engine.setup() == []


def test_backfill_dates(engine, spark, tmp_path):
    p = _write(tmp_path, [_entsoe(JAN, "P1", 1.0)])
    res = engine.load_jsonl("entsoe", p, write_metadata=False)
    engine.upsert_metadata(
        {
            "extraction_run_id": res.run_id,
            "source": "entsoe",
            "total_records": 1,
            "failed_count": 0,
            "success": True,
        }
    )
    assert engine.backfill_extraction_dates() == 1
    m = engine.table("extraction_metadata").head()
    assert str(m["start_date"]) == "2024-01-01"


def test_sql_surface(engine, spark, tmp_path):
    p = _write(tmp_path, [_entsoe(JAN, "P1", 100.0), _entsoe(FEB, "P2", 10.0)])
    engine.load_jsonl("entsoe", p)
    engine.refresh_views("entsoe")
    row = engine.sql(
        "SELECT count(*) AS n, round(sum(generation_mw), 2) AS mw "
        "FROM entsoe_generation_data"
    ).head()
    assert row["n"] == 2 and row["mw"] == 110.0
    assert engine.sql("SELECT * FROM mv_entsoe_monthly").count() == 2
    assert engine.sql("SELECT * FROM extraction_summary").head()["source"] == "entsoe"


def test_read_range_partition_pruning(engine, spark, tmp_path):
    """The anti-join's target read must prune _month partition dirs
    (PartitionFilters), not just parquet row groups."""
    p = _write(tmp_path, [_entsoe(JAN, "P1", 1.0), _entsoe(FEB, "P2", 2.0)])
    engine.load_jsonl("entsoe", p)
    pruned = engine.store.read_range("entsoe_generation_data", JAN, JAN + 1000)
    assert pruned.count() == 1  # only the January row
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "_month" in plan


def test_dynamic_partition_pruning_from_dim_join(engine, spark, tmp_path):
    """read_join_months: when the month set comes from a computed
    DataFrame instead of a driver list, the fact scan must still prune
    partition directories — at runtime, via Spark dynamic partition
    pruning (dynamicpruningexpression fed by the reused broadcast),
    with no driver-side collect of the month list."""
    p = _write(tmp_path, [_entsoe(JAN, "P1", 1.0), _entsoe(FEB, "P2", 2.0)])
    engine.load_jsonl("entsoe", p)
    jan_month = __import__("datetime").datetime.utcfromtimestamp(
        JAN / 1000
    ).strftime("%Y-%m")
    feb_month = __import__("datetime").datetime.utcfromtimestamp(
        FEB / 1000
    ).strftime("%Y-%m")
    # NB: the filter must be one Spark's isLikelySelective() recognizes
    # (comparison/IN/LIKE — a bare boolean attribute is not), or the
    # DPP rule declines to insert the pruning subquery.
    months = spark.createDataFrame(
        [(jan_month, "yes"), (feb_month, "no")], ["month", "wanted"]
    ).filter("wanted = 'yes'").select("month")
    pruned = engine.store.read_join_months("entsoe_generation_data", months)
    assert pruned.count() == 1  # only the January row survives the join
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "dynamicpruning" in plan, plan  # runtime dir-level pruning


def test_retry_backoff():
    from power_generation_etl_spark.incremental import retry

    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise ConnectionError("transient")
        return "ok"

    assert retry(flaky, base_wait=0.01) == "ok"
    assert len(calls) == 3

    def hopeless():
        raise OSError("down")

    import pytest as _pytest

    with _pytest.raises(OSError):
        retry(hopeless, base_wait=0.01)


def test_in_batch_stored_key_collision(engine, spark, tmp_path):
    """A null and an empty-string ons_plant_id at the same (ts, plant)
    are distinct for in-file dedup (null-kind vs str-kind) but collide
    on the COALESCE('') stored natural key — only the first inserts."""
    def ons(plant_id, mwh):
        rec = {
            "extraction_run_id": RUN_ID,
            "created_at_ms": NOW,
            "timestamp_ms": JAN,
            "plant": "PL",
            "generation_mwh": mwh,
            "ons_plant_id": plant_id,
        }
        return rec

    p = _write(tmp_path, [ons(None, 1.0), ons("", 2.0)])
    r = engine.load_jsonl("ons", p)
    assert r.report.valid_count == 2 and r.report.duplicate_count == 0
    assert r.inserted == 1 and r.skipped_existing == 1
    rows = engine.table("ons_generation_data").collect()
    assert len(rows) == 1 and rows[0]["generation_mwh"] == 1.0  # first wins


def test_glob_path_load(engine, tmp_path):
    """Wildcard paths are legal reader input: the missing-file guard
    must probe them with glob, not os.path.exists."""
    _write(tmp_path, [_entsoe(JAN, "P1", 1.0)], name="a.jsonl")
    _write(tmp_path, [_entsoe(FEB, "P2", 2.0)], name="b.jsonl")
    r = engine.load_jsonl("entsoe", str(tmp_path / "*.jsonl"))
    assert r.success and r.inserted == 2
    # a glob matching nothing is still the graceful-failure case
    r2 = engine.load_jsonl("entsoe", str(tmp_path / "nope" / "*.jsonl"))
    assert not r2.success and r2.inserted == 0


def test_truncate_preserves_sidecar_schema(engine, tmp_path):
    """Truncate must keep the setup-time sidecar verbatim — re-deriving
    from a parquet read would drop non-null flags (all-nullable reads)."""
    engine.setup()
    store = engine.store
    with open(store._schema_file("entsoe_generation_data")) as f:
        before = f.read()
    p = _write(tmp_path, [_entsoe(JAN, "P1", 1.0)])
    assert engine.load_jsonl("entsoe", p).inserted == 1
    engine.clear_table("entsoe_generation_data")
    with open(store._schema_file("entsoe_generation_data")) as f:
        after = f.read()
    assert after == before


def test_truncate_keeps_table_registered(engine, spark, tmp_path):
    p = _write(tmp_path, [_entsoe(JAN, "P1", 1.0)])
    assert engine.load_jsonl("entsoe", p).inserted == 1
    assert engine.clear_table("entsoe_generation_data") == 1
    # Table still exists, reads empty (reference TRUNCATE leaves the
    # empty table in place).
    assert engine.store.exists("entsoe_generation_data")
    assert engine.table("entsoe_generation_data").count() == 0
    ok, n = engine.aggregate_export(str(tmp_path / "out"))
    assert (ok, n) == (True, 0)


def test_aggregate_export_missing_table_is_error(engine, tmp_path):
    ok, n = engine.aggregate_export(str(tmp_path / "out"))
    assert (ok, n) == (False, 0)


def test_unified_monthly_cross_source(engine, spark, tmp_path):
    """The cross-source harmonized rollup unions the fuel-level monthly
    MVs with a source tag (NPP carries null fuel_type) and registers as
    the unified_monthly SQL view."""
    assert engine.unified_monthly() is None  # nothing refreshed yet

    epath = _write(tmp_path, [_entsoe(JAN, "P1", 60.0, res=60)], "e.jsonl")
    engine.load_jsonl("entsoe", epath)
    npath = _write(
        tmp_path,
        [{
            "extraction_run_id": RUN_ID,
            "created_at_ms": NOW,
            "timestamp_ms": JAN,
            "plant": "NP",
            "plant_and_unit": "NP U1",
            "generation_mwh": 7.0,
        }],
        "n.jsonl",
    )
    engine.load_jsonl("npp", npath)
    engine.refresh_views("entsoe")
    engine.refresh_views("npp")

    rows = engine.unified_monthly().collect()
    by_src = {(r["source"], r["fuel_type"]): r["generation_mwh"] for r in rows}
    assert by_src[("entsoe", "Solar")] == pytest.approx(60.0)
    assert by_src[("npp", None)] == pytest.approx(7.0)

    sql_rows = engine.sql(
        "SELECT source, sum(generation_mwh) AS s FROM unified_monthly GROUP BY 1"
    ).collect()
    assert {r["source"]: r["s"] for r in sql_rows} == {
        "entsoe": pytest.approx(60.0), "npp": pytest.approx(7.0)
    }


MAR = 1709251200000  # 2024-03-01T00:00:00Z


def test_incremental_view_refresh_matches_full(engine, spark, tmp_path):
    """refresh_views_incremental([touched months]) must produce the
    same MV contents as a full recompute, while its input scan prunes
    to the touched _month partitions."""
    engine.load_jsonl(
        "entsoe",
        _write(tmp_path, [
            _entsoe(JAN, "P1", 100.0),
            _entsoe(FEB, "P2", 20.0),
        ], "m1.jsonl"),
    )
    engine.refresh_views("entsoe")

    # A March feed arrives, plus a late-January correction row.
    engine.load_jsonl(
        "entsoe",
        _write(tmp_path, [
            _entsoe(MAR, "P3", 7.0),
            _entsoe(JAN + 7_200_000, "P1", 30.0),
        ], "m2.jsonl"),
    )
    engine.refresh_views_incremental(["2024-01", "2024-03"], "entsoe")
    incr = sorted(
        tuple(r) for r in engine.sql(
            "SELECT month, fuel_type, round(generation_mwh, 4) AS mwh "
            "FROM mv_entsoe_monthly").collect()
    )

    engine.refresh_views("entsoe")  # full recompute ground truth
    full = sorted(
        tuple(r) for r in engine.sql(
            "SELECT month, fuel_type, round(generation_mwh, 4) AS mwh "
            "FROM mv_entsoe_monthly").collect()
    )
    assert incr == full
    assert len(full) == 3  # Jan, Feb, Mar rows


def test_incremental_refresh_from_empty_mv(engine, spark, tmp_path):
    """An existing-but-EMPTY MV (truncated, or created before any
    refresh) must incremental-refresh to exactly the full recompute —
    the empty carried-over frame unions away. (r11: the pre-count job
    that special-cased this was removed; the read path must keep the
    semantics.)"""
    engine.load_jsonl(
        "entsoe",
        _write(tmp_path, [
            _entsoe(JAN, "P1", 100.0),
            _entsoe(FEB, "P2", 20.0),
        ], "e1.jsonl"),
    )
    engine.refresh_views("entsoe")
    engine.store.truncate("mv_entsoe_monthly")  # exists, zero rows
    engine.refresh_views_incremental(["2024-01"], "entsoe")
    got = sorted(
        tuple(r) for r in engine.sql(
            "SELECT month, fuel_type, round(generation_mwh, 4) AS mwh "
            "FROM mv_entsoe_monthly").collect()
    )
    # Only the touched month is recomputed; the February row was lost
    # with the truncate (nothing to carry over), so exactly January.
    assert got == [("2024-01-01", "Solar", 100.0)]


def test_read_months_partition_pruning(engine, spark, tmp_path):
    """The incremental refresh's input scan must prune _month
    partition directories, not post-filter a full read."""
    p = _write(tmp_path, [_entsoe(JAN, "P1", 1.0), _entsoe(FEB, "P2", 2.0),
                          _entsoe(MAR, "P3", 3.0)])
    engine.load_jsonl("entsoe", p)
    pruned = engine.store.read_months("entsoe_generation_data", ["2024-02"])
    assert pruned.count() == 1
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "_month" in plan


def test_incremental_refresh_bootstraps_missing_view(engine, spark, tmp_path):
    """Incremental refresh on a warehouse whose MV was never built
    falls back to building it from the given months."""
    engine.load_jsonl(
        "entsoe", _write(tmp_path, [_entsoe(JAN, "P1", 100.0)]))
    out = engine.refresh_views_incremental(["2024-01"], "entsoe")
    assert "mv_entsoe_monthly" in out
    assert engine.sql("SELECT * FROM mv_entsoe_monthly").count() == 1


def test_sanity_gate_passes_and_fails(engine, spark):
    cw = spark.createDataFrame(
        [("npp", "coal")] * 5 + [("npp", "gas")] * 2 + [("eia", "coal")],
        "source_system string, fuel string",
    )
    counts = engine.sanity_gate(cw, [
        ("npp coal plants", "source_system = 'npp' AND fuel = 'coal'", 3),
        ("any eia rows", "source_system = 'eia'", 1),
    ])
    assert counts == {"npp coal plants": 5, "any eia rows": 1}
    with pytest.raises(ValueError, match="npp coal plants: 5 < 200"):
        engine.sanity_gate(cw, [
            ("npp coal plants", "source_system = 'npp' AND fuel = 'coal'", 200),
        ])


DAY = 86_400_000


def _freeze_load_clock(monkeypatch, now_ms):
    """Pin the clock a load reads for created_at_ms and the timestamp
    rule (now_ms is whole seconds, so the float round trip is exact)."""
    from types import SimpleNamespace

    from power_generation_etl_spark.sources import jsonl

    monkeypatch.setattr(jsonl, "time", SimpleNamespace(time=lambda: now_ms / 1000))


def test_per_load_values_stay_with_their_load(engine, tmp_path, monkeypatch):
    """One session caches each source's load expressions; every load
    must still carry its own run id, created_at_ms and clock."""
    import uuid

    now1 = FEB + 40 * DAY
    now2 = now1 + 10 * DAY
    late = now1 + 5 * DAY  # past now1's 24 h buffer, within now2's

    def bare(ts, plant):
        rec = _entsoe(ts, plant, 1.0)
        del rec["extraction_run_id"], rec["created_at_ms"]
        return rec

    runs = []
    for k, now in enumerate((now1, now2)):
        run_id = str(uuid.uuid4())
        path = _write(tmp_path, [bare(JAN + k * 3_600_000, f"P{k}"), bare(late, "LATE")], f"e{k}.jsonl")
        _freeze_load_clock(monkeypatch, now)
        runs.append((run_id, engine.load_jsonl("entsoe", path, run_id=run_id)))
    (r1, res1), (r2, res2) = runs
    assert (res1.inserted, res1.report.invalid_count) == (1, 1)
    assert (res2.inserted, res2.report.invalid_count) == (2, 0)
    rows = {
        r["plant_name"]: (r["extraction_run_id"], r["created_at_ms"])
        for r in engine.table("entsoe_generation_data").collect()
    }
    assert rows == {"P0": (r1, now1), "P1": (r2, now2), "LATE": (r2, now2)}
    meta = {
        r["extraction_run_id"]: (r["total_records"], r["failed_count"], str(r["end_date"]))
        for r in engine.table("extraction_metadata").collect()
    }
    assert meta == {r1: (2, 1, "2024-01-01"), r2: (2, 0, "2024-03-17")}


def test_first_record_gating_follows_each_file(engine, tmp_path, monkeypatch):
    """EIA injects run metadata on every record only when the file's
    first record lacks it; the cached expressions must follow each
    file's first record, not the first file the session saw."""
    import uuid

    def eia(ts, **meta):
        return {
            **meta,
            "timestamp_ms": ts,
            "utility_id": 123,
            "plant_code": 456,
            "generator_id": "G1",
            "state": "CA",
            "prime_mover": "ST",
            "net_generation_mwh": 1.5,
        }

    carried, other, passed = (str(uuid.uuid4()) for _ in range(3))
    _freeze_load_clock(monkeypatch, FEB)
    with_meta = _write(tmp_path, [
        eia(JAN, extraction_run_id=carried, created_at_ms=JAN),
        eia(JAN + 3_600_000, extraction_run_id=carried, created_at_ms=JAN),
    ], "eia0.jsonl")
    without_meta = _write(tmp_path, [
        eia(JAN + 2 * 3_600_000),
        eia(JAN + 3 * 3_600_000, extraction_run_id=other, created_at_ms=JAN),
    ], "eia1.jsonl")
    assert engine.load_jsonl("eia", with_meta, run_id=passed).inserted == 2
    assert engine.load_jsonl("eia", without_meta, run_id=passed).inserted == 2
    rows = {
        r["timestamp_ms"]: (r["extraction_run_id"], r["created_at_ms"])
        for r in engine.table("eia_generation_data").collect()
    }
    assert rows == {
        JAN: (carried, JAN),
        JAN + 3_600_000: (carried, JAN),
        JAN + 2 * 3_600_000: (passed, FEB),
        JAN + 3 * 3_600_000: (passed, FEB),
    }


def test_load_releases_its_labelled_frame(engine, spark, tmp_path):
    """The validation pass caches the labelled frame; the load unpersists
    it once the new rows are appended, also when the same file is
    loaded again (0 rows inserted) and when the strict gate fails."""
    path = _write(tmp_path, [_entsoe(JAN + k * 3_600_000, f"P{k}", 1.0) for k in range(3)]
                  + [_entsoe(JAN, "P0", 1.0)])

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    assert engine.load_jsonl("entsoe", path).inserted == 3
    assert persisted() == before
    again = engine.load_jsonl("entsoe", path)
    assert (again.inserted, again.skipped_existing) == (0, 3)
    assert persisted() == before
    with pytest.raises(ValueError, match="strict mode"):
        engine.load_jsonl("entsoe", path, strict=True)
    assert persisted() == before


def test_watermark_scans_only_the_newest_month(engine, spark, tmp_path, monkeypatch):
    """get_latest_date reads one partition directory, the newest month
    holding data, and still equals a full-table MAX."""
    import os

    from pyspark.sql import functions as F

    table = "entsoe_generation_data"
    p = _write(tmp_path, [_entsoe(JAN + 5 * DAY, "P1", 1.0), _entsoe(FEB, "P2", 2.0),
                          _entsoe(MAR + 9 * DAY, "P3", 3.0), _entsoe(MAR, "P4", 4.0)])
    engine.load_jsonl("entsoe", p)
    full = engine.store.read(table).agg(
        F.max(F.to_date(F.timestamp_millis("timestamp_ms")))
    ).head()[0]
    # the newest month directory exists but holds no data file
    empty = os.path.join(engine.store.path(table), "_month=2024-04")
    os.makedirs(empty)
    open(os.path.join(empty, "_SUCCESS"), "w").close()

    scans = []
    for name in ("read", "read_months"):
        orig = getattr(engine.store, name)
        monkeypatch.setattr(
            engine.store, name, lambda *a, _orig=orig: scans.append(_orig(*a)) or scans[-1]
        )
    assert engine.get_latest_date("entsoe") == str(full) == "2024-03-10"
    assert len(scans) == 1
    dirs = {os.path.basename(os.path.dirname(f)) for f in scans[0].inputFiles()}
    assert dirs == {"_month=2024-03"}


def test_newest_month_compares_year_and_month(engine, tmp_path):
    """Months compare as numbers ('10000-01' is newer than '9999-12');
    a table without `_month` partitions has no newest month."""
    import os

    root = engine.store.path("t")
    for month in ("9999-12", "10000-01", "2024-10", "__HIVE_DEFAULT_PARTITION__"):
        os.makedirs(os.path.join(root, f"_month={month}"))
        open(os.path.join(root, f"_month={month}", "part-0.parquet"), "w").close()
    assert engine.store.newest_month("t") == "10000-01"

    flat = engine.store.path("flat")
    os.makedirs(flat)
    open(os.path.join(flat, "part-0.parquet"), "w").close()
    assert engine.store.newest_month("flat") is None
    assert engine.store.newest_month("missing") is None

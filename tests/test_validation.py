"""Validation-operator parity tests.

Mirrors the *behaviors* covered by the reference's tests/test_validator.py
(first-wins dedup, bool≠int, numeric-string≠float, future-timestamp
buffer, state codes) plus the per-source fixup chains — written
independently against SURVEY.md §2.4/§2.5 semantics.
"""

from __future__ import annotations

import json
import time
import uuid

import pytest

from power_generation_etl_spark.sources.jsonl import load_and_validate

RUN_ID = "12345678-1234-1234-1234-123456789abc"
NOW = int(time.time() * 1000)


def _npp(**over):
    rec = {
        "extraction_run_id": RUN_ID,
        "created_at_ms": NOW,
        "timestamp_ms": NOW - 1000,
        "plant": "Test Plant",
        "plant_and_unit": "Test Plant U1",
        "generation_mwh": 123.4,
    }
    rec.update(over)
    return {k: v for k, v in rec.items() if v is not ...}


def _write(tmp_path, records, name="data.jsonl"):
    p = tmp_path / name
    with open(p, "w") as f:
        for r in records:
            f.write((r if isinstance(r, str) else json.dumps(r)) + "\n")
    return str(p)


def _load(spark, tmp_path, source, records, **kw):
    path = _write(tmp_path, records)
    return load_and_validate(spark, source, path, run_id=RUN_ID, **kw)


class TestNppValidation:
    def test_valid_record(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp()])
        assert report.valid_count == 1 and report.invalid_count == 0
        assert valid.count() == 1

    def test_missing_required_field(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp(plant=...)])
        assert report.invalid_count == 1
        assert report.errors_by_type == {"missing required field": 1}
        assert report.sample_errors[0]["details"] == "missing required field: plant"

    def test_invalid_uuid(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp(extraction_run_id="not-a-uuid")])
        assert report.invalid_count == 1
        assert "extraction_run_id" in report.errors_by_type

    def test_negative_generation(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp(generation_mwh=-5.0)])
        assert report.invalid_count == 1
        assert report.sample_errors[0]["details"] == (
            "generation_mwh: must be non-negative number"
        )

    def test_empty_plant_name(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp(plant="   ")])
        assert report.invalid_count == 1
        assert report.sample_errors[0]["details"] == "plant: must be non-empty string"

    def test_future_timestamp_buffer(self, spark, tmp_path):
        future_48h = NOW + 48 * 3600 * 1000
        future_12h = NOW + 12 * 3600 * 1000
        valid, report = _load(
            spark, tmp_path, "npp",
            [_npp(timestamp_ms=future_48h), _npp(timestamp_ms=future_12h)],
            now_ms=NOW,
        )
        assert report.invalid_count == 1 and report.valid_count == 1

    def test_bool_is_not_int(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp(created_at_ms=True)])
        assert report.invalid_count == 1
        assert report.sample_errors[0]["details"] == "created_at_ms: expected int, got bool"

    def test_numeric_string_is_not_float(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp(generation_mwh="100.0")])
        assert report.invalid_count == 1
        assert report.sample_errors[0]["details"] == (
            "generation_mwh: expected float, got str"
        )

    def test_int_is_valid_float(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp(generation_mwh=100)])
        assert report.valid_count == 1

    def test_explicit_null_required_field(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "npp", [_npp(plant=None)])
        assert report.invalid_count == 1
        assert report.sample_errors[0]["details"] == "plant: expected string, got NoneType"

    def test_first_wins_dedup(self, spark, tmp_path):
        r1 = _npp(generation_mwh=1.0)
        r2 = _npp(generation_mwh=2.0)  # same (timestamp_ms, plant_and_unit)
        r3 = _npp(plant_and_unit="Other U2", generation_mwh=3.0)
        valid, report = _load(spark, tmp_path, "npp", [r1, r2, r3])
        assert report.valid_count == 2 and report.duplicate_count == 1
        assert report.errors_by_type.get("duplicate") == 1
        kept = {r["generation_mwh"] for r in valid.collect()}
        assert kept == {1.0, 3.0}  # first occurrence kept

    def test_invalid_record_does_not_claim_dedup_key(self, spark, tmp_path):
        bad = _npp(generation_mwh=-1.0)  # invalid, same key as good
        good = _npp(generation_mwh=5.0)
        valid, report = _load(spark, tmp_path, "npp", [bad, good])
        assert report.invalid_count == 1
        assert report.duplicate_count == 0
        assert report.valid_count == 1
        assert valid.collect()[0]["generation_mwh"] == 5.0

    def test_legacy_format(self, spark, tmp_path):
        legacy = {
            "date": 1700000000,  # epoch seconds
            "plant": "L Plant",
            "plant_and_unit": "L Plant U1",
            "generation_mwh": 9.0,
            "scrape_id": "dropped",
        }
        valid, report = _load(spark, tmp_path, "npp", [legacy])
        assert report.valid_count == 1
        row = valid.collect()[0]
        assert row["timestamp_ms"] == 1700000000 * 1000
        assert row["extraction_run_id"] == RUN_ID
        assert "scrape_id" not in valid.columns

    def test_blank_lines_tolerated(self, spark, tmp_path):
        path = _write(tmp_path, [json.dumps(_npp()), "", "   ", json.dumps(_npp(plant_and_unit="B"))])
        valid, report = load_and_validate(spark, "npp", path, run_id=RUN_ID)
        assert report.total_count == 2 and report.valid_count == 2


class TestEiaValidation:
    def _eia(self, **over):
        rec = {
            "extraction_run_id": RUN_ID,
            "created_at_ms": NOW,
            "timestamp_ms": NOW - 1000,
            "utility_id": 123,
            "plant_code": 456,
            "generator_id": "G1",
            "state": "CA",
            "prime_mover": "ST",
            "net_generation_mwh": 1000.5,
        }
        rec.update(over)
        return {k: v for k, v in rec.items() if v is not ...}

    def test_valid_and_ids_stringified(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "eia", [self._eia()])
        assert report.valid_count == 1
        row = valid.collect()[0]
        assert row["utility_id"] == "123" and row["plant_code"] == "456"

    def test_state_full_name_rejected(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "eia", [self._eia(state="California")])
        assert report.invalid_count == 1
        assert report.sample_errors[0]["details"] == "state: must be 2-character state code"

    def test_lowercase_state_ok(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "eia", [self._eia(state="tx")])
        assert report.valid_count == 1

    def test_int_and_string_id_same_dedup_key(self, spark, tmp_path):
        # After stringification, plant_code 456 and "456" collide.
        r1 = self._eia(plant_code=456)
        r2 = self._eia(plant_code="456")
        valid, report = _load(spark, tmp_path, "eia", [r1, r2])
        assert report.valid_count == 1 and report.duplicate_count == 1

    def test_metadata_injected_when_first_record_lacks_it(self, spark, tmp_path):
        rec = self._eia(extraction_run_id=..., created_at_ms=...)
        valid, report = _load(spark, tmp_path, "eia", [rec])
        assert report.valid_count == 1
        assert valid.collect()[0]["extraction_run_id"] == RUN_ID


class TestEntsoeValidation:
    def _entsoe(self, **over):
        rec = {
            "extraction_run_id": RUN_ID,
            "created_at_ms": NOW,
            "timestamp_ms": NOW - 1000,
            "country_code": "DE",
            "psr_type": "B16",
            "plant_name": "Solar Plant",
            "fuel_type": "Unknown",
            "data_type": "Actual Aggregated",
            "generation_mw": 100.0,
            "resolution_minutes": 60,
        }
        rec.update(over)
        return {k: v for k, v in rec.items() if v is not ...}

    def test_psr_remap_overrides_fuel_type(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "entsoe", [self._entsoe()])
        assert valid.collect()[0]["fuel_type"] == "Solar"

    def test_fixups_built_once_whatever_the_first_record(self, spark, tmp_path):
        """ENTSOE fills run metadata per record, so whether the first
        record carries it must not key a second fixup build."""
        from power_generation_etl_spark.session import _SESSION_CACHE

        for i, meta in enumerate([{}, {"extraction_run_id": ..., "created_at_ms": ...}]):
            path = _write(tmp_path, [self._entsoe(**meta)], f"entsoe{i}.jsonl")
            valid, _ = load_and_validate(spark, "entsoe", path, run_id=RUN_ID)
            assert valid.count() == 1
        keys = [k for k in _SESSION_CACHE[spark] if k[:2] == ("fixup", "entsoe")]
        assert keys == [("fixup", "entsoe")]

    def test_unknown_psr_keeps_fuel_type(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "entsoe", [self._entsoe(psr_type="ZZ", fuel_type="Coal")]
        )
        assert valid.collect()[0]["fuel_type"] == "Coal"

    def test_string_timestamp_parsed_as_utc(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "entsoe",
            [self._entsoe(timestamp_ms="2024-01-15 12:00:00")],
        )
        assert report.valid_count == 1
        # 2024-01-15T12:00:00Z
        assert valid.collect()[0]["timestamp_ms"] == 1705320000000

    def test_tz_aware_string_timestamp(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "entsoe",
            [self._entsoe(timestamp_ms="2024-01-15T12:00:00+02:00")],
        )
        assert report.valid_count == 1
        assert valid.collect()[0]["timestamp_ms"] == 1705312800000

    def test_unparseable_timestamp_skipped_with_warning(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "entsoe",
            [self._entsoe(timestamp_ms="garbage"), self._entsoe()],
        )
        assert report.warnings.get("skipped_records") == 1
        assert report.total_count == 1  # skipped records never reach validation
        assert report.valid_count == 1

    def test_null_timestamp_skipped(self, spark, tmp_path):
        valid, report = _load(spark, tmp_path, "entsoe", [self._entsoe(timestamp_ms=None)])
        assert report.warnings.get("skipped_records") == 1
        assert report.valid_count == 0

    def test_zero_resolution_invalid(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "entsoe", [self._entsoe(resolution_minutes=0)]
        )
        assert report.invalid_count == 1
        assert report.sample_errors[0]["details"] == (
            "resolution_minutes: must be a positive number"
        )

    def test_suffix_strip_data_type_then_fuel(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "entsoe",
            [self._entsoe(plant_name="MyPlant_Solar_Actual Aggregated")],
        )
        assert valid.collect()[0]["plant_name"] == "MyPlant"

    def test_suffix_strip_longest_fuel_first(self, spark, tmp_path):
        # "Fossil Brown coal/Lignite" must strip before "Other" etc.
        valid, report = _load(
            spark, tmp_path, "entsoe",
            [self._entsoe(plant_name="P_Fossil Brown coal/Lignite")],
        )
        assert valid.collect()[0]["plant_name"] == "P"

    def test_suffix_strip_at_most_one_each(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "entsoe",
            [self._entsoe(plant_name="P_Solar_Solar")],
        )
        assert valid.collect()[0]["plant_name"] == "P_Solar"


class TestChileValidation:
    def test_legacy_plant_id_rename(self, spark, tmp_path):
        rec = {
            "extraction_run_id": RUN_ID,
            "created_at_ms": NOW,
            "timestamp_ms": NOW - 1000,
            "plant": "Central",
            "generation_mwh": 10.0,
            "plant_id": "CHL-1",
        }
        valid, report = _load(spark, tmp_path, "chile", [rec])
        assert report.valid_count == 1
        assert valid.collect()[0]["chile_plant_id"] == "CHL-1"


def test_strict_gate(spark, tmp_path):
    from power_generation_etl_spark.validation import strict_gate

    valid, report = _load(spark, tmp_path, "npp", [_npp(generation_mwh=-1.0)])
    with pytest.raises(ValueError, match="strict mode"):
        strict_gate(report)


class TestOeFacilityValidation:
    @staticmethod
    def _fac(**over):
        rec = {
            "extraction_run_id": RUN_ID,
            "created_at_ms": NOW,
            "timestamp_ms": NOW - 1000,
            "network_code": "NEM",
            "facility_code": "F1",
            "facility_name": "Facility One",
            "fueltech": "solar_utility",
            "generation_mwh": 5.0,
        }
        rec.update(over)
        return {k: v for k, v in rec.items() if v is not ...}

    def test_lat_lon_in_range_ok(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "oe_facility",
            [self._fac(latitude=-33.86, longitude=151.21)],
        )
        assert report.valid_count == 1 and report.invalid_count == 0

    def test_lat_out_of_range_rejected(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "oe_facility", [self._fac(latitude=95.0)]
        )
        assert report.invalid_count == 1
        assert "latitude" in report.errors_by_type
        assert "out of range" in report.sample_errors[0]["details"]

    def test_lon_out_of_range_rejected(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "oe_facility", [self._fac(longitude=-200.0)]
        )
        assert report.invalid_count == 1
        assert "longitude" in report.errors_by_type

    def test_null_lat_lon_ok(self, spark, tmp_path):
        valid, report = _load(
            spark, tmp_path, "oe_facility",
            [self._fac(latitude=None, longitude=None)],
        )
        assert report.valid_count == 1


def test_entsoe_missing_plant_name_is_empty_string_error(spark, tmp_path):
    """Reference record.get('plant_name','') + reassignment: a missing
    plant_name validates as empty string, not as a missing field."""
    rec = {
        "extraction_run_id": RUN_ID,
        "created_at_ms": NOW,
        "timestamp_ms": NOW - 1000,
        "country_code": "DE",
        "psr_type": "B16",
        "fuel_type": "Solar",
        "data_type": "Actual Aggregated",
        "generation_mw": 1.0,
        "resolution_minutes": 60,
    }
    valid, report = _load(spark, tmp_path, "entsoe", [rec])
    assert report.invalid_count == 1
    assert report.errors_by_type == {"plant_name": 1}
    assert report.sample_errors[0]["details"] == "plant_name: must be non-empty string"


def test_duplicate_detail_python_tuple_repr(spark, tmp_path):
    """The duplicate detail renders the key as a Python tuple repr —
    strings quoted, None for nulls (reference validator.py:511-515)."""
    ts = NOW - 1000
    valid, report = _load(spark, tmp_path, "npp", [_npp(), _npp()])
    assert report.duplicate_count == 1
    assert report.sample_errors[0]["details"] == (
        f"duplicate key: ('timestamp_ms', 'plant_and_unit') = ({ts}, 'Test Plant U1')"
    )


class TestSplittableOrderedReader:
    """The JSONL scan must preserve exact per-file line order even when
    one file spans many scan splits (spark.sql.files.maxPartitionBytes
    shrunk so a small file fragments like a multi-GB file would)."""

    @pytest.fixture()
    def tiny_splits(self, spark):
        old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
        old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        yield
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)

    def test_order_matches_line_order_across_splits(self, spark, tmp_path, tiny_splits):
        from power_generation_etl_spark.sources.jsonl import read_jsonl_lines

        p = tmp_path / "big.jsonl"
        with open(p, "w") as f:
            for i in range(3000):
                f.write(json.dumps({"i": i}) + "\n")
                if i % 7 == 0:
                    f.write("\n")  # interleaved blanks must not shift _order
        df = read_jsonl_lines(spark, str(p))
        assert df.rdd.getNumPartitions() >= 1
        rows = df.select("_order", "line").collect()
        assert len(rows) == 3000
        by_order = {r["_order"]: json.loads(r["line"])["i"] for r in rows}
        assert by_order == {i: i for i in range(3000)}

    @pytest.fixture()
    def packed_splits(self, spark):
        keys = (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
            "spark.sql.files.minPartitionNum",
        )
        old = {k: spark.conf.get(k, None) for k in keys}
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 << 20))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        yield
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    def test_order_per_file_when_files_share_a_partition(self, spark, tmp_path, packed_splits):
        from power_generation_etl_spark.sources.jsonl import read_jsonl_lines

        sizes = {"a.jsonl": 40, "b.jsonl": 300, "c.jsonl": 7}
        paths = []
        for name, n in sizes.items():
            p = tmp_path / name
            with open(p, "w") as f:
                for i in range(n):
                    if i % 3 == 0:
                        f.write("\n  \n")  # blank lines must not shift _order
                    f.write(json.dumps({"f": name, "i": i}) + "\n")
            paths.append(str(p))
        assert spark.read.text(paths).rdd.getNumPartitions() < len(paths)
        got: dict[str, list[tuple[int, int]]] = {}
        for r in read_jsonl_lines(spark, paths).collect():
            rec = json.loads(r["line"])
            got.setdefault(rec["f"], []).append((r["_order"], rec["i"]))
        assert {f: sorted(v) for f, v in got.items()} == {
            name: [(i, i) for i in range(n)] for name, n in sizes.items()
        }

    def test_first_wins_dedup_across_splits(self, spark, tmp_path, tiny_splits):
        # Duplicate keys landing in different scan splits: the earlier
        # line must win, exactly as the reference's sequential loop.
        recs = [_npp(generation_mwh=float(i), timestamp_ms=NOW - 1000 - (i % 50)) for i in range(1000)]
        valid, report = _load(spark, tmp_path, "npp", recs)
        assert report.duplicate_count == 950 and report.valid_count == 50
        kept = {r["timestamp_ms"]: r["generation_mwh"] for r in valid.collect()}
        # first occurrence of each key is i = key index (i % 50 == i for i < 50)
        assert kept == {NOW - 1000 - i: float(i) for i in range(50)}


def test_session_exprs_builds_once_under_contention():
    """Concurrent first loads of one source share a single expression
    build; every caller gets the same cached object."""
    import sys
    import threading

    from power_generation_etl_spark.session import session_cached

    class Session:  # stands in for a SparkSession: the cache only keys on it
        pass

    session, builds, results = Session(), [], []
    start = threading.Barrier(16)

    def build():
        builds.append(1)
        time.sleep(0.01)
        return object()

    def load():
        start.wait(10)
        results.append(session_cached(session, ("k",), build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=load) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(results) == 16
    assert all(r is results[0] for r in results)

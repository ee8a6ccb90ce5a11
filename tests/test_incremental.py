"""Incremental-window logic parity tests — mirrors the behaviors of
reference tests/test_incremental_extract.py (override env handling
incl. empty-string fall-through, 12-month warning threshold) plus the
month-chunked extract-load-delete loop end-to-end."""

from __future__ import annotations

import json
import logging
import time
from datetime import date

import pytest

from power_generation_etl_spark import incremental as inc
from power_generation_etl_spark.engine import Engine

RUN_ID = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
NOW = int(time.time() * 1000)


class FakeEngine:
    def __init__(self, latest):
        self._latest = latest

    def get_latest_date(self, source):
        return self._latest


class TestWindowStart:
    def test_uses_override_when_set(self, monkeypatch):
        monkeypatch.setenv("START_OVERRIDE", "2025-01-01")
        assert inc.window_start(FakeEngine("2024-06-01"), "entsoe") == date(2025, 1, 1)

    def test_falls_through_when_unset(self, monkeypatch):
        monkeypatch.delenv("START_OVERRIDE", raising=False)
        got = inc.window_start(FakeEngine("2024-06-15"), "entsoe")
        assert got == date(2024, 6, 16)  # latest + 1 day

    def test_empty_override_falls_through(self, monkeypatch):
        monkeypatch.setenv("START_OVERRIDE", "")
        assert inc.window_start(FakeEngine("2024-06-15"), "entsoe") == date(2024, 6, 16)

    def test_malformed_override_raises(self, monkeypatch):
        monkeypatch.setenv("START_OVERRIDE", "not-a-date")
        with pytest.raises(ValueError, match="START_OVERRIDE='not-a-date'"):
            inc.window_start(FakeEngine("2024-06-15"), "entsoe")

    def test_min_start_date_clamp(self, monkeypatch):
        monkeypatch.delenv("START_OVERRIDE", raising=False)
        # Empty table → 1970 watermark → clamped to the history floor.
        assert inc.window_start(FakeEngine("1970-01-01"), "entsoe") == date(2019, 1, 1)
        assert inc.window_start(FakeEngine("1970-01-01"), "occto") == date(2024, 1, 1)


class TestWindowEnd:
    def test_uses_override_when_set(self, monkeypatch):
        monkeypatch.setenv("END_OVERRIDE", "2025-03-31")
        assert inc.window_end(date(2026, 5, 3)) == date(2025, 3, 31)

    def test_defaults_to_today_when_unset(self, monkeypatch):
        monkeypatch.delenv("END_OVERRIDE", raising=False)
        assert inc.window_end(date(2026, 5, 3)) == date(2026, 5, 3)

    def test_empty_override_defaults_to_today(self, monkeypatch):
        monkeypatch.setenv("END_OVERRIDE", "")
        assert inc.window_end(date(2026, 5, 3)) == date(2026, 5, 3)

    def test_malformed_override_raises(self, monkeypatch):
        monkeypatch.setenv("END_OVERRIDE", "2025-13-01")
        with pytest.raises(ValueError, match="END_OVERRIDE='2025-13-01'"):
            inc.window_end(date(2026, 5, 3))


class TestLongWindowWarning:
    def test_at_threshold_no_warn(self, caplog):
        with caplog.at_level(logging.WARNING):
            assert not inc.warn_if_long_window(
                "entsoe", date(2025, 1, 1), date(2025, 12, 31)
            )

    def test_just_over_threshold_warns(self, caplog):
        with caplog.at_level(logging.WARNING):
            assert inc.warn_if_long_window(
                "entsoe", date(2025, 1, 1), date(2026, 1, 31)
            )
        assert "13 months" in caplog.text and "entsoe" in caplog.text

    def test_threshold_is_12(self):
        assert inc.LONG_WINDOW_MONTHS == 12


class TestCalendar:
    def test_add_months_clamps_day(self):
        assert inc.add_months(date(2024, 1, 31), 1) == date(2024, 2, 29)
        assert inc.add_months(date(2023, 1, 31), 1) == date(2023, 2, 28)
        assert inc.add_months(date(2024, 11, 15), 2) == date(2025, 1, 15)

    def test_month_chunks(self):
        chunks = inc.month_chunks(date(2024, 1, 15), date(2024, 3, 10))
        assert chunks == [
            (date(2024, 1, 15), date(2024, 1, 31)),
            (date(2024, 2, 1), date(2024, 2, 29)),
            (date(2024, 3, 1), date(2024, 3, 10)),
        ]


def test_incremental_extract_end_to_end(spark, tmp_path, monkeypatch):
    """Extract two months via a fake extractor, verify loads + file
    cleanup + watermark advance, then verify second run is a no-op."""
    monkeypatch.setenv("START_OVERRIDE", "2024-01-01")
    monkeypatch.setenv("END_OVERRIDE", "2024-02-20")
    engine = Engine(spark, str(tmp_path / "wh"))
    produced = []

    def extractor(m_start, m_end):
        p = tmp_path / f"occto_{m_start:%Y%m}.jsonl"
        ts = int(time.mktime(m_start.timetuple()) * 1000)
        with open(p, "w") as f:
            f.write(
                json.dumps(
                    {
                        "extraction_run_id": RUN_ID,
                        "created_at_ms": NOW,
                        "timestamp_ms": ts,
                        "plant": f"Plant {m_start:%Y%m}",
                        "generation_mwh": 10.0,
                    }
                )
                + "\n"
            )
        produced.append(p)
        return str(p)

    results = inc.incremental_extract(engine, "occto", extractor, today=date(2024, 2, 20))
    assert [r["month"] for r in results] == ["2024-01", "2024-02"]
    assert all(r["inserted"] == 1 for r in results)
    assert not any(p.exists() for p in produced)  # extract→load→delete

    # Second run without overrides: watermark resume → nothing to do
    # (end clamped before resume date).
    monkeypatch.delenv("START_OVERRIDE", raising=False)
    monkeypatch.delenv("END_OVERRIDE", raising=False)
    again = inc.incremental_extract(
        engine, "occto", extractor, today=date(2024, 2, 1)
    )
    assert again == []

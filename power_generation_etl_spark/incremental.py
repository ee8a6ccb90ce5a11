"""Incremental extraction orchestration (SURVEY §2.10 I1-I4, F16).

Watermark-resume + override-window + month-chunked driver loop with
parity to reference src/incremental_extract.py:34-202. The extractor is
injected as a callable (the reference shells out to an external
`energy-extract` binary); each produced JSONL file is loaded through
Engine.load_jsonl and removed — file-at-a-time, exactly like the
reference, but each load is one distributed Spark job.
"""

from __future__ import annotations

import logging
import os
import time
from calendar import monthrange
from collections.abc import Callable
from dataclasses import dataclass
from datetime import date, timedelta

logger = logging.getLogger(__name__)


@dataclass(frozen=True)
class SourceConfig:
    name: str
    min_start_date: date


# Per-source history floor (reference src/incremental_extract.py:40-43).
INCREMENTAL_SOURCES = {
    "entsoe": SourceConfig("entsoe", date(2019, 1, 1)),
    "occto": SourceConfig("occto", date(2024, 1, 1)),
}

# ~5-6 min per extracted month vs a 350-min job timeout
# (reference src/incremental_extract.py:84-99).
LONG_WINDOW_MONTHS = 12


def add_months(d: date, n: int) -> date:
    """F16: calendar-month arithmetic, day clamped to month end."""
    m = d.month - 1 + n
    y = d.year + m // 12
    m = m % 12 + 1
    return date(y, m, min(d.day, monthrange(y, m)[1]))


def resume_from(engine, source: str) -> date:
    """I1: first date NOT yet stored, clamped to the source's history
    floor — `max(latest_in_db, min_start-1d) + 1d`."""
    cfg = INCREMENTAL_SOURCES[source]
    latest = date.fromisoformat(engine.get_latest_date(source))
    if latest < cfg.min_start_date:
        latest = cfg.min_start_date - timedelta(days=1)
    return latest + timedelta(days=1)


def _date_override(name: str) -> date | None:
    """An ISO-date env override; unset or empty string → None."""
    raw = os.environ.get(name)
    if not raw:
        return None
    try:
        return date.fromisoformat(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not an ISO date (YYYY-MM-DD)") from None


def window_start(engine, source: str) -> date:
    """I2: START_OVERRIDE env var wins; empty string (GHA's unset
    workflow_dispatch input) falls through to watermark resume."""
    return _date_override("START_OVERRIDE") or resume_from(engine, source)


def window_end(today: date) -> date:
    """I2: END_OVERRIDE env var wins; empty string falls through."""
    return _date_override("END_OVERRIDE") or today


def window_months(start: date, end: date) -> int:
    return (end.year - start.year) * 12 + (end.month - start.month) + 1


def warn_if_long_window(source: str, start: date, end: date) -> bool:
    """Warn (don't fail) above the soft window ceiling."""
    months = window_months(start, end)
    if months > LONG_WINDOW_MONTHS:
        logger.warning(
            "%s: extracting %d months (%s → %s) may exceed the job timeout "
            "— consider splitting into smaller windows.",
            source, months, start, end,
        )
        return True
    return False


def month_chunks(start: date, end: date) -> list[tuple[date, date]]:
    """I3: calendar-month [start, end] chunks covering the window."""
    chunks = []
    cur = start
    while cur <= end:
        month_last = date(
            cur.year, cur.month, monthrange(cur.year, cur.month)[1]
        )
        chunks.append((cur, min(month_last, end)))
        cur = month_last + timedelta(days=1)
    return chunks


def retry(fn: Callable, attempts: int = 3, base_wait: float = 1.0, max_wait: float = 10.0):
    """I4: exponential-backoff retry for transient I/O failures
    (reference src/database.py:63-82 — tenacity, 3 attempts, 1-10s)."""
    last: Exception | None = None
    for i in range(attempts):
        try:
            return fn()
        except (OSError, ConnectionError) as e:  # transient classes only
            last = e
            if i < attempts - 1:
                time.sleep(min(base_wait * 2**i, max_wait))
    raise last


def incremental_extract(
    engine,
    source: str,
    extractor: Callable[[date, date], str | None],
    today: date | None = None,
) -> list[dict]:
    """I3: the month-chunked extract → load → delete loop.

    `extractor(month_start, month_end)` returns a JSONL path or None
    for an empty month. Returns per-month load summaries."""
    start = window_start(engine, source)
    end = window_end(today or date.today())
    if start > end:
        logger.info("%s: up to date (resume %s > end %s)", source, start, end)
        return []
    warn_if_long_window(source, start, end)
    results = []
    for m_start, m_end in month_chunks(start, end):
        path = extractor(m_start, m_end)
        if path is None or not os.path.exists(path):
            logger.info("%s: no data for %s", source, m_start)
            continue
        if os.path.getsize(path) == 0:
            os.remove(path)
            continue
        res = retry(lambda: engine.load_jsonl(source, path))
        os.remove(path)
        results.append(
            {
                "month": m_start.strftime("%Y-%m"),
                "inserted": res.inserted,
                "skipped": res.skipped_existing,
                "invalid": res.report.invalid_count,
            }
        )
    return results

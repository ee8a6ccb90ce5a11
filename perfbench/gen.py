"""Seeded input generators for the benchmark.

Everything the program under test reads is produced here from the
workload seed: the same seed gives byte-identical files. The program
receives only these files.

* ``catalog_tables`` writes the ten parquet tables the catalog entries
  read (TPC-H-like star schema, ``events``, ``documents``,
  ``embeddings``), with the column types and value domains of the sf
  tables described in TESTDATA.md.
* ``entsoe_month`` writes one ENTSOE month as JSONL: a reading every
  ``STEP_HOURS`` hours through the month for ``PLANTS`` plants that cover all 20 PSR codes and 5
  countries, plus a stated share of in-file duplicate keys (later copies
  with another value, dropped first-wins) and invalid records (negative
  generation, rejected by validation). It returns the counts a correct
  load must report.
"""

from __future__ import annotations

import calendar
import json
import os
import uuid
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor, as in TESTDATA.md's sf tables;
# documents and embeddings have a floor of 500 rows.
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["red", "old", "cold", "hot", "large", "small", "blue", "new"]
_NOUNS = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a the join hash row batch scan customer column filter small slow merge "
    "order vector line table data agg value key stream window spark group "
    "part big sort query fast"
).split()
_EMBED_DIM = 64
_NEAR_DUP_SHARE = 0.05


def _random_dates(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Uniform dates in [lo, hi] as naive microsecond timestamps."""
    start = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - start).astype(int)) + 1
    return (start + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)


def catalog_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the catalog's ten tables at scale factor ``sf`` under
    ``out_dir``; returns bytes written per table."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(round(r * sf))) for t, r in _ROWS_PER_SF.items()}
    n_docs = max(500, int(round(50_000 * sf)))
    n_vecs = max(500, int(round(20_000 * sf)))
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    sizes = {}

    sizes["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    sizes["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    c = n["customer"]
    sizes["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": rng.choice(_SEGMENTS, c).tolist(),
    })
    s = n["supplier"]
    sizes["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": money(-999.99, 9999.99, s),
    })
    p = n["part"]
    sizes["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [
            f"{_ADJECTIVES[a]} {_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(_PART_TYPES, p).tolist(),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    })
    o = n["orders"]
    sizes["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o).tolist(),
        "o_totalprice": money(1000.0, 500_000.0, o),
        "o_orderdate": _random_dates(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": rng.choice(_PRIORITIES, o).tolist(),
    })
    li = n["lineitem"]
    sizes["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], li).tolist(),
        "l_shipdate": _random_dates(rng, "1995-01-02", "2001-11-04", li),
    })

    ev = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(month_us / ev, ev)
    ts_us = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps).astype(np.int64)
    sizes["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ev), i64),
        "ts": pa.array(ts_us.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, ev * 3 // 200), ev), i64),
        "event_type": rng.choice(_EVENT_TYPES, ev).tolist(),
        "value": np.round(rng.exponential(50.0, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })

    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < _NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    sizes["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_WEIGHTS).tolist(),
        "source": [f"src{k % 20}" for k in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, _EMBED_DIM))
    vecs = rng.normal(size=(n_vecs, _EMBED_DIM)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    sizes["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return sizes


# --- ENTSOE month files -------------------------------------------------

PSR_CODES = [f"B{k:02d}" for k in range(1, 21)]
COUNTRIES = ["DE", "FR", "ES", "IT", "PL"]
PLANTS = 20
STEP_HOURS = 6
DUPLICATE_SHARE = 0.02
INVALID_SHARE = 0.01


def entsoe_month(path: str, seed: int, year: int, month: int) -> dict[str, int]:
    """Write one ENTSOE month to ``path``, one reading per plant every
    ``STEP_HOURS`` hours.

    Plant ``k`` has PSR code ``B{k+1:02d}`` and country ``COUNTRIES[k % 5]``,
    so each file covers all 20 PSR codes and all 5 countries; its raw
    name carries a fuel-type suffix that the loader strips. Returns the
    expected load counts: ``inserted`` unique valid keys, ``duplicates``
    later copies of a key, ``invalid`` rejected records, ``lines`` and
    ``bytes`` in the file."""
    rng = np.random.default_rng([seed, year, month])
    run_id = str(uuid.UUID(bytes=rng.bytes(16), version=4))
    hours = calendar.monthrange(year, month)[1] * 24
    t0 = int(datetime(year, month, 1, tzinfo=timezone.utc).timestamp() * 1000)
    created = t0 + hours * 3_600_000
    fuels = ["Biomass", "Fossil Gas", "Nuclear", "Solar", "Wind Onshore"]

    def rec(k: int, h: int, mw: float, plant: str | None = None) -> str:
        return json.dumps({
            "extraction_run_id": run_id,
            "created_at_ms": created,
            "timestamp_ms": t0 + h * 3_600_000,
            "country_code": COUNTRIES[k % 5],
            "psr_type": PSR_CODES[k],
            "plant_name": plant or f"PLANT_{k:03d}_{fuels[k % 5]}",
            "fuel_type": "Unknown",
            "data_type": "Actual Aggregated",
            "generation_mw": mw,
            "resolution_minutes": STEP_HOURS * 60,
        })

    keys = [(k, h) for h in range(0, hours, STEP_HOURS) for k in range(PLANTS)]
    n_dup = int(len(keys) * DUPLICATE_SHARE)
    n_bad = int(len(keys) * INVALID_SHARE)
    # (position, line): a duplicate sorts after the key it repeats, so
    # the first copy wins; invalid records have keys of their own.
    placed = [(float(i), rec(k, h, round(float(rng.uniform(0, 1000)), 2))) for i, (k, h) in enumerate(keys)]
    for i in rng.choice(len(keys), n_dup, replace=False):
        k, h = keys[int(i)]
        placed.append((float(rng.uniform(i + 0.5, len(keys))), rec(k, h, round(float(rng.uniform(0, 1000)), 2))))
    for j in range(n_bad):
        placed.append((float(rng.uniform(0, len(keys))), rec(j % PLANTS, j % hours, -1.0, plant=f"BAD_{j:04d}")))
    lines = [line for _, line in sorted(placed, key=lambda t: t[0])]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {
        "inserted": len(keys),
        "duplicates": n_dup,
        "invalid": n_bad,
        "lines": len(lines),
        "bytes": os.path.getsize(path),
    }

"""Local mirror of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from power_generation_etl_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"  {name}: rows-only ({len(srows)} rows) OK")
            continue
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems and _norm_rows(scols, srows) != _norm_rows(ocols, orows):
            sn, on = _norm_rows(scols, srows), _norm_rows(ocols, orows)
            diff = next((i for i in range(min(len(sn), len(on))) if sn[i] != on[i]), 0)
            problems.append(f"values differ, first at sorted idx {diff}:\n    spark  {sn[diff]}\n    oracle {on[diff]}")
        if problems:
            failures += 1
            print(f"  {name}: FAIL — " + "; ".join(problems))
        else:
            print(f"  {name}: OK ({len(srows)} rows)")
    print(f"{'PASS' if failures == 0 else 'FAIL'}: {len(qs) - failures}/{len(qs)} queries match")
    # The session's generated-class working set (get_spark sizes the
    # codegen cache for it). The histogram keeps a sample, so the total
    # is count × sample mean.
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = compiles.getCount()
    print(f"codegen: {n} classes compiled, ~{n * compiles.getSnapshot().getMean():.0f} ms compiling")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

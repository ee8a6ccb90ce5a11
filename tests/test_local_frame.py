"""``session.local_frame``: the one way the package builds a DataFrame
from driver-held rows. It must read back exactly what
``createDataFrame(list)`` gives, and collecting it must run no Spark
job (an Arrow-backed LocalRelation, not a Python RDD)."""

from __future__ import annotations

import ast
import datetime
import os
import uuid

import pytest
from pyspark.sql import Row

from power_generation_etl_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "power_generation_etl_spark")


def _collect_jobs(spark, df):
    """``df.collect()`` under a job group of its own; return (rows, jobs)."""
    group = f"local-frame-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc._jsc.clearJobGroup()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_no_create_dataframe_outside_local_frame():
    """Every frame built on the driver goes through local_frame: no
    module in the package touches ``createDataFrame`` anywhere else."""
    offenders = []
    for d, _sub, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(d, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            allowed = set()
            if os.path.relpath(path, PKG) == "session.py":
                for fn in ast.walk(tree):
                    if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                        allowed = {id(n) for n in ast.walk(fn)}
            offenders += [
                f"{os.path.relpath(path, PKG)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute)
                and n.attr == "createDataFrame"
                and id(n) not in allowed
            ]
    assert offenders == []


_CASES = {
    "tuples": ([(1, "a", 2.5), (2, None, None)], "a bigint, b string, c double"),
    "rows": ([Row(a=1, b="a", c=2.5)], "a bigint, b string, c double"),
    "dicts": ([{"a": 1, "b": "x"}, {"c": 0.5, "a": 2}], "a bigint, b string, c double"),
    "empty": ([], "a bigint, b string"),
    "array_double": (
        [(1, [1.0, 2.5]), (2, None), (3, []), (4, [float("nan"), -0.0])],
        "cell int, centroid array<double>",
    ),
    "dates_and_timestamps": (
        [(datetime.datetime(2024, 3, 10, 2, 30, 1, 5), datetime.date(2024, 1, 1),
          datetime.datetime(2024, 3, 31, 1, 59))],
        "t timestamp, d date, n timestamp_ntz",
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_frame_equals_list_path_without_jobs(spark, case):
    rows, ddl = _CASES[case]
    names = [f.strip().split(" ")[0] for f in ddl.split(",")]
    as_tuples = [
        tuple(r.get(c) for c in names) if isinstance(r, dict) else r for r in rows
    ]
    want = spark.createDataFrame(as_tuples, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    got_rows, jobs = _collect_jobs(spark, got)
    assert jobs == 0
    assert repr(got_rows) == repr(want.collect())  # repr: nan == nan, -0.0 kept


@pytest.mark.parametrize("entry", ["stream_hourly_event_counts", "stream_text_index_terms"])
def test_stream_entries_return_frames_that_collect_without_jobs(spark, sf_dir, entry):
    """The two streaming catalog entries collect their sink on the
    driver; the frame they hand back must not launch a job again."""
    from power_generation_etl_spark.plans import QUERIES

    df = QUERIES[entry](spark, sf_dir)
    rows, jobs = _collect_jobs(spark, df)
    assert rows
    assert jobs == 0

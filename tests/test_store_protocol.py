"""The shared machinery of ``streaming/ingest.py``: the crash-safe
version protocol of the sketch stores (``_commit_version``), the one
way to run a stream (``run_to_end``), the text-index reader's pinned
schema, the driver-side order of the collecting catalog streams
(``stream_hourly_event_counts``, ``stream_static_enrich`` and the three
that sum per-batch rows), and the session state catalog entries leave
behind."""

from __future__ import annotations

import ast
import datetime
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import power_generation_etl_spark
from power_generation_etl_spark.plans.queries import stream_dirs
from power_generation_etl_spark.session import local_frame
from power_generation_etl_spark.streaming import ingest
from power_generation_etl_spark.streaming.ingest import (
    TEXT_INDEX_SCHEMA,
    _commit_version,
    _newest_version,
    _store_versions,
    run_to_end,
)

INGEST = ingest.__file__
PACKAGE = os.path.dirname(power_generation_etl_spark.__file__)


def _rows(df) -> set[int]:
    return {r["v"] for r in df.collect()}


def _commit(spark, store, batch_id, new, seen=None):
    """Commit batch ``batch_id`` of a toy store whose summary is the set
    union of the values ``new``; record the merge source's rows."""

    def build(prev):
        if seen is not None:
            seen.append(None if prev is None else _rows(prev))
        df = local_frame(spark, [(v,) for v in new], "v long")
        return df if prev is None else prev.unionByName(df).distinct()

    _commit_version(spark, store, "p_v", batch_id, build)


def _group_jobs(spark, fn):
    """Run ``fn`` under a job group of its own; return (result, the
    stage names of each job it ran)."""
    group = f"store-protocol-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    names = []
    for job in tracker.getJobIdsForGroup(group):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds]
        names.append([s.name for s in stages if s is not None])
    return out, names


def test_commit_version_ignores_incomplete_version(spark, tmp_path):
    """A version directory without ``_SUCCESS`` (a crash mid-write) is
    read neither as a merge source nor by the newest-version reader."""
    store = str(tmp_path / "store")
    _commit(spark, store, 1, [1])
    partial = os.path.join(store, "p_v2")
    local_frame(spark, [(99,)], "v long").write.parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))

    assert _store_versions(store, "p_v") == [1]
    assert _rows(_newest_version(spark, store, "p_v", "toy store")) == {1}
    seen = []
    _commit(spark, store, 3, [3], seen)
    assert seen == [{1}]
    assert _rows(_newest_version(spark, store, "p_v", "toy store")) == {1, 3}


def test_commit_version_replay_rebuilds_from_older_version(spark, tmp_path):
    """Replaying batch n over a committed ``<prefix>n`` merges the newest
    complete version below n again, never its own output, and writes
    the same rows."""
    store = str(tmp_path / "store")
    for b in (1, 2, 3):
        _commit(spark, store, b, [b])
    before = sorted(spark.read.parquet(os.path.join(store, "p_v3")).collect())
    seen = []
    _commit(spark, store, 3, [3], seen)
    assert seen == [{1, 2}]
    after = sorted(spark.read.parquet(os.path.join(store, "p_v3")).collect())
    assert after == before
    assert {r["v"] for r in after} == {1, 2, 3}


def test_commit_version_keeps_only_merge_source_and_new_version(spark, tmp_path):
    store = str(tmp_path / "store")
    seen = []
    for b in (1, 2, 3, 4):
        _commit(spark, store, b, [b], seen)
    assert seen[0] is None
    assert sorted(os.listdir(store)) == ["p_v3", "p_v4"]


def test_newest_version_raises_without_committed_version(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed toy store under"):
        _newest_version(spark, str(tmp_path / "none"), "p_v", "toy store")


def _calls_outside(tree, attr, owner, pred=lambda call: True):
    """Line numbers of calls to ``.<attr>(...)`` outside the function
    ``owner``."""
    allowed = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == owner:
            allowed = {id(n) for n in ast.walk(fn)}
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
        and pred(n)
        and id(n) not in allowed
    ]


def test_one_version_commit_and_one_stream_start():
    """Store versions are deleted only by ``_commit_version``; in every
    module of the package, streams are triggered, started and waited on
    only by ``run_to_end``, nothing sinks to a memory table or
    registers, probes or drops one, and no catalog module registers a
    temp view."""
    with open(INGEST) as f:
        tree = ast.parse(f.read(), INGEST)
    assert _calls_outside(tree, "rmtree", "_commit_version") == []
    no_args = lambda call: not call.args and not call.keywords  # noqa: E731
    memory = lambda call: any(  # noqa: E731
        isinstance(a, ast.Constant) and a.value == "memory" for a in call.args
    )
    anything = lambda call: True  # noqa: E731
    in_run_to_end = [("trigger", anything), ("start", no_args),
                     ("awaitTermination", anything)]
    nowhere = [("format", memory), ("dropTempView", anything),
               ("tableExists", anything)]
    found = []
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        owner = "run_to_end" if path == INGEST else None
        for attr, pred in in_run_to_end:
            found += [(path, attr, n) for n in _calls_outside(tree, attr, owner, pred)]
        for attr, pred in nowhere:
            found += [(path, attr, n) for n in _calls_outside(tree, attr, None, pred)]
        if os.sep + "plans" + os.sep in path:
            found += [(path, "createOrReplaceTempView", n) for n in
                      _calls_outside(tree, "createOrReplaceTempView", None)]
    assert found == []


@pytest.mark.parametrize("name", [
    "customer_max_order", "lateral_top2_orders",
    "supplier_revenue_concentration", "top_supplier_revenue",
    "small_quantity_revenue", "dormant_customer_balances",
])
def test_sql_entries_leave_no_temp_view(spark, sf_dir, name):
    """The catalog entries that run SQL text hand their frames to
    ``spark.sql`` as arguments, so the session's tables and views are
    the same before and after the entry runs."""
    from power_generation_etl_spark.plans import QUERIES

    tables = sorted(t.name for t in spark.catalog.listTables())
    assert QUERIES[name](spark, sf_dir).collect() is not None
    assert sorted(t.name for t in spark.catalog.listTables()) == tables


def test_run_to_end_raises_the_query_failure_and_stops(spark):
    """A run whose ``foreachBatch`` raises re-raises the query's failure,
    leaves no active stream, and, checkpointed inside ``stream_dirs``,
    no ``temporary-*`` checkpoint dir in the JVM's temp dir."""
    from pyspark.errors import StreamingQueryException

    tmp = spark.sparkContext._jvm.System.getProperty("java.io.tmpdir")
    before = set(glob.glob(os.path.join(tmp, "temporary-*")))

    def boom(batch_df, batch_id):
        raise RuntimeError("sink failed")

    with stream_dirs("run_to_end") as d:
        with open(os.path.join(d.landing, "a.txt"), "w") as f:
            f.write("x\n")
        writer = spark.readStream.text(d.landing).writeStream.foreachBatch(boom)
        with pytest.raises(StreamingQueryException, match="sink failed"):
            run_to_end(writer, d.ckpt)
    assert spark.streams.active == []
    assert set(glob.glob(os.path.join(tmp, "temporary-*"))) <= before


def test_text_index_writer_schema_is_the_pinned_schema(spark, tmp_path):
    """``stream_text_index_ingest`` writes shards of exactly
    ``TEXT_INDEX_SCHEMA``, and ``term_stats_from_store`` reads them
    without a schema-inference job."""
    import json

    from pyspark.sql.types import StructType

    landing = tmp_path / "ix_in"
    landing.mkdir()
    store = str(tmp_path / "ix_store")
    with open(landing / "d.jsonl", "w") as f:
        for i, text in enumerate(["a b a", "B c", None]):
            f.write(json.dumps({"id": i, "text": text}) + "\n")
    q = ingest.stream_text_index_ingest(
        spark, str(landing), store, str(tmp_path / "ck"),
        "id", "text", "id long, text string",
    )
    q.awaitTermination(120)

    shards = _store_versions(store, "ix_b")
    assert shards
    for b in shards:
        written = spark.read.parquet(os.path.join(store, f"ix_b{b}")).schema
        assert written == StructType.fromDDL(TEXT_INDEX_SCHEMA)

    rows, jobs = _group_jobs(
        spark, lambda: ingest.term_stats_from_store(spark, store, k=2).collect()
    )
    assert [tuple(r) for r in rows] == [("b", 2, 2), ("a", 1, 2)]
    assert jobs
    assert not [n for names in jobs for n in names if n.startswith("parquet ")]


def _tiny_sf(tmp_path, step_minutes: int = 50) -> tuple[str, int]:
    """An sf dir with a tiny events table (null and non-ASCII event
    types, timestamps ``step_minutes`` apart in four steps) and a
    customer table (null and non-ASCII segments); returns (dir, number
    of events)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    t0 = datetime.datetime(2024, 1, 1, 5, 10)
    types = ["view", None, "Zoom", "éclair", "cart", None, "view", "ä", "cart"]
    n = len(types) * 3
    table = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(
            [t0 + datetime.timedelta(minutes=step_minutes * (i % 4)) for i in range(n)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
        "event_type": pa.array(types * 3, pa.string()),
        "value": pa.array([1.0] * n, pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    })
    pq.write_table(table, str(sf / "events.parquet"))
    customer = pa.table({
        "c_custkey": pa.array(range(5), pa.int64()),
        "c_mktsegment": pa.array(
            ["BUILDING", None, "Österreich", "AUTOMOBILE", "émoi"], pa.string()
        ),
    })
    pq.write_table(customer, str(sf / "customer.parquet"))
    return str(sf), n


def test_hourly_event_counts_rows_in_spark_sort_order(spark, tmp_path):
    """``stream_hourly_event_counts`` and ``stream_static_enrich`` sort
    on the driver; their rows come back in the order Spark's ascending,
    nulls-first sort gives, with nulls and non-ASCII strings in both
    sort columns."""
    from power_generation_etl_spark.plans.streaming_queries import (
        stream_hourly_event_counts,
        stream_static_enrich,
    )

    sf, n = _tiny_sf(tmp_path)
    got = stream_hourly_event_counts(spark, sf).collect()
    assert any(r["event_type"] is None for r in got)
    want = local_frame(
        spark, got, "hour_us long, event_type string, n_events long"
    ).orderBy("hour_us", "event_type").collect()
    assert got == want
    assert sum(r["n_events"] for r in got) == n

    got = stream_static_enrich(spark, sf).collect()
    assert any(r["segment"] is None for r in got)
    assert any(r["event_type"] is None for r in got)
    want = local_frame(
        spark, got,
        "segment string, event_type string, n_events long, sum_cents long",
    ).orderBy("segment", "event_type").collect()
    assert got == want
    assert sum(r["n_events"] for r in got) == n


_NULL_TYPE_STREAMS = (
    "stream_dedup_event_counts", "stream_late_data_rollup",
    "stream_transition_totals",
)


def _null_type_sf(tmp_path) -> str:
    """``_tiny_sf`` with its four time steps 25 h apart: the late-data
    split needs a span of more than 24 h and an on-time row."""
    return _tiny_sf(tmp_path, step_minutes=25 * 60)[0]


@pytest.mark.parametrize("name", _NULL_TYPE_STREAMS)
def test_null_event_type_streams_in_spark_sort_order(spark, tmp_path, name):
    """The three entries sort their rows on the driver; with null event
    types they return them in Spark's ascending, nulls-first order."""
    from power_generation_etl_spark.plans import QUERIES

    df = QUERIES[name](spark, _null_type_sf(tmp_path))
    got = df.collect()
    assert any(None in tuple(r) for r in got)
    assert got == local_frame(spark, got, df.schema).orderBy(*df.columns[:2]).collect()


@pytest.mark.parametrize("name", _NULL_TYPE_STREAMS)
def test_null_event_type_streams_match_their_oracles(spark, tmp_path, name):
    """With null event types each entry returns its oracle's rows."""
    import duckdb

    from power_generation_etl_spark.plans import ORACLES, QUERIES
    from tools.check_correctness import _norm_rows

    sf = _null_type_sf(tmp_path)
    df = QUERIES[name](spark, sf)
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
        res = con.execute(ORACLES[name])
        want = _norm_rows([c[0] for c in res.description], res.fetchall())
    assert _norm_rows(df.columns, [tuple(r) for r in df.collect()]) == want


def test_collecting_streams_leave_no_session_state(spark, tmp_path):
    """The two COMPLETE-mode entries register no table or view in the
    session and leave no stream running."""
    from power_generation_etl_spark.plans.streaming_queries import (
        stream_hourly_event_counts,
        stream_static_enrich,
    )

    sf, _ = _tiny_sf(tmp_path)
    tables = sorted(t.name for t in spark.catalog.listTables())
    for entry in (stream_hourly_event_counts, stream_static_enrich):
        assert entry(spark, sf).count() > 0
        assert sorted(t.name for t in spark.catalog.listTables()) == tables
        assert spark.streams.active == []

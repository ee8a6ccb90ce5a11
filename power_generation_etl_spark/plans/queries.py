"""Named analytic queries — the engine's operator inventory, expressed
over the driver's synthetic tables (TESTDATA.md).

Each entry demonstrates one operator family from SURVEY.md §2 of the
reference (`nicholas-abad/power-generation-etl`), re-expressed as a
declarative Spark plan. Every query has a DuckDB oracle in ``ORACLES``
(same column names / aliases), unless genuinely non-SQL-expressible.

Design rules (100 TB discipline):
- built-in `pyspark.sql.functions` only in hot paths — no Python UDFs;
- aggregates are hash-aggregable (map-side partial aggregation);
- only constant-cardinality dims (nation/region, 1-row aggregates)
  carry explicit `broadcast()` hints; sf-proportional tables never
  do (a hard hint overrides AQE's size check → OOM at large sf);
- double-typed aggregate outputs are `round()`ed identically on both
  sides so value-hash comparison is robust to fp summation order;
- dates/timestamps are emitted as formatted strings so session-timezone
  differences between engines cannot skew the comparison.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from power_generation_etl_spark.operators import rank as rk
from power_generation_etl_spark.operators.minhash import portable_hash32
from power_generation_etl_spark.session import session_cached

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_SF_BYTES_CACHE: dict[str, int] = {}
_STREAM_TARGET_PART_BYTES = 32 << 20  # one state/shuffle partition per 32 MB
_STREAM_SCOPE_LOCK = threading.RLock()  # see stream_parallelism_scope


def _sf_dir_bytes(sf_dir: str) -> int:
    """Total parquet bytes under a data directory (cached per path) —
    the input-size signal the streaming entries derive their state
    parallelism from."""
    got = _SF_BYTES_CACHE.get(sf_dir)
    if got is not None:
        return got
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    _SF_BYTES_CACHE[sf_dir] = total
    return total


@contextlib.contextmanager
def stream_parallelism_scope(spark: SparkSession, sf_dir: str):
    """Scale-adaptive shuffle/state parallelism for a streaming entry
    (guide §2: derive partitioning from input size, never a constant).

    `spark.sql.shuffle.partitions` is the number of STATE STORE
    instances a stateful streaming query creates — it is pinned into
    the checkpoint at first batch and every micro-batch pays per-
    instance setup/commit cost. The session default (cluster
    parallelism) is right for batch shuffles but grossly over-
    partitions a small stream: at bench scale 32 state stores manage a
    few thousand keys each micro-batch and the per-instance overhead
    dominates wall time (measured ~40-60%% of stream_hourly_event_counts).

    The scope sets partitions to ceil(input_bytes / 32 MB) clamped to
    [4, defaultParallelism] for the duration of the entry, restoring
    the session value after. On any input ≥ ~cpus·32 MB the cap binds
    and behavior is identical to today's cluster default — the scope
    only removes over-partitioning when the data is small relative to
    the cluster, which is exactly the AQE-style adaptivity batch plans
    already get but streaming state cannot (state partitioning is not
    AQE-coalescable)."""
    sc = spark.sparkContext
    bytes_total = _sf_dir_bytes(sf_dir)
    want = max(
        4,
        min(
            sc.defaultParallelism,
            -(-bytes_total // _STREAM_TARGET_PART_BYTES),
        ),
    )
    key = "spark.sql.shuffle.partitions"
    # The scope mutates SESSION conf with try/finally restore — correct
    # only while one entry holds it at a time. The catalog is
    # single-threaded per session today; the RLock makes that contract
    # explicit and safe (concurrent entries would serialize instead of
    # clobbering each other's partition count / restoring a stale one).
    # Reentrant so a scoped entry can call another scoped helper.
    with _STREAM_SCOPE_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, str(want))
        try:
            yield
        finally:
            spark.conf.set(key, old)


def stream_scoped(fn: QueryFn) -> QueryFn:
    """Decorator: run a streaming catalog entry under
    `stream_parallelism_scope` (applied between `@_register` and the
    function so the registered callable carries the scope)."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        with stream_parallelism_scope(spark, sf_dir):
            return fn(spark, sf_dir)

    return wrapped


StreamDirs = collections.namedtuple("StreamDirs", "stage landing store ckpt")


@contextlib.contextmanager
def stream_dirs(prefix: str):
    """The temp dirs of one streaming entry, as a `StreamDirs`: ``stage``
    (round writes), ``landing`` (the file source's input dir),
    ``store`` (sketch stores, sinks, warehouses) and ``ckpt`` (the
    query checkpoint). All four live under one temp root, removed on
    exit — also when the entry raises."""
    root = tempfile.mkdtemp(prefix=f"{prefix}_")
    dirs = StreamDirs(*(os.path.join(root, d) for d in StreamDirs._fields))
    for d in dirs:
        os.mkdir(d)
    try:
        yield dirs
    finally:
        shutil.rmtree(root, ignore_errors=True)


def link_data_files(src: str, landing: str, tag: str) -> None:
    """Add ``src`` to a streaming landing dir without copying bytes:
    hard-link its data files as ``{tag}_{k}{ext}``, falling back to a
    copy when linking fails (cross-device temp dirs). ``src`` is one
    file (the driver tables; link it under several tags to feed it
    several times) or a Spark-written dir, whose ``.``/``_`` names
    (``.crc``, ``_SUCCESS``) are skipped. The streaming file source
    requires a directory (`basePath must be a directory`)."""
    if os.path.isdir(src):
        srcs = [
            os.path.join(src, f)
            for f in sorted(os.listdir(src))
            if not f.startswith((".", "_"))
        ]
    else:
        srcs = [src]
    for k, s in enumerate(srcs):
        dst = os.path.join(landing, f"{tag}_{k}{os.path.splitext(s)[1]}")
        try:
            os.link(s, dst)
        except OSError:
            shutil.copyfile(s, dst)


def stage_round(df: DataFrame, out: str, fmt: str) -> str:
    """Write one streaming round as ONE ``fmt`` file (``json`` or
    ``parquet``) under ``out`` — one staged file is one data
    micro-batch, so a round boundary is the only batch frontier."""
    getattr(df.coalesce(1).write, fmt)(out)
    return out


def hash_halves(df: DataFrame, key: str, *cols: str) -> list[DataFrame]:
    """The two rounds of a hash-split stream: ``df``'s rows with
    ``portable_hash32(key) % 2 == 0`` then ``== 1``, projected to
    ``cols`` (default: all). The DuckDB oracles restate the split as
    ``CAST('0x'||substr(md5(CAST(key AS VARCHAR)),1,8) AS BIGINT) % 2``."""
    half = portable_hash32(F.col(key).cast("string")) % 2
    return [df.filter(half == i).select(*(cols or df.columns)) for i in (0, 1)]


def overlap_two_rounds(dirs: StreamDirs, r1: DataFrame, r2: DataFrame | None,
                       fmt: str, run: Callable[[str], None]) -> None:
    """The two-round streaming protocol: stage round ``r1`` (see
    `stage_round`), link it into ``dirs.landing``, ``run(landing)`` one
    availableNow round; then the same for ``r2`` against the same
    checkpoint. ``r2=None`` runs round 1 only — a skip, not an empty
    second batch.

    Round 2's staging write is independent of round 1, so it is
    submitted concurrently with round 1's staging AND stream run
    (guide §2.6: overlap independent jobs) — the two single-task
    ``coalesce(1)`` writes overlap each other by design, back-filling
    one job's tail with the other's work. Round 2 is linked and run
    only after round 1 has returned and its own staging has finished,
    so round 1's stream never sees round-2 files.

    The staging thread runs under ``inheritable_thread_target(spark)``
    and so carries the caller's job group, description and session
    tags (pinned-thread mode does not inherit them). If round 1 raises
    while round-2 staging also failed, the staging failure is chained
    as the cause instead of being dropped with its future."""
    def feed(src: str, tag: str) -> None:
        link_data_files(src, dirs.landing, tag)
        run(dirs.landing)

    def stage(i: int, df: DataFrame) -> str:
        return stage_round(df, os.path.join(dirs.stage, f"r{i}"), fmt)

    if r2 is None:
        feed(stage(1, r1), "r1")
        return
    target = inheritable_thread_target(r1.sparkSession)(stage)
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(target, 2, r2)
        try:
            feed(stage(1, r1), "r1")
        except BaseException as exc:
            staged_err = fut.exception()  # waits; never discards silently
            if staged_err is not None and staged_err is not exc:
                raise exc from staged_err
            raise
        src2 = fut.result()
    feed(src2, "r2")


def ts_to_ntz(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an events-style timestamp column to TIMESTAMP_NTZ
    holding the file's naive wall-clock, whatever dtype the session's
    parquet reader produced:

    * ``bigint`` (vanilla session + nanosAsLong): the int64 is the
      naive wall-clock encoded as epoch-nanos. Rebuild as NTZ so
      date_trunc / date_format are independent of the session
      timezone: instant (ns→µs, integer div — double division would
      lose precision at 1e18) → session wall-clock NTZ → shift back
      from session tz to UTC wall-clock = the original naive value.
    * ``timestamp_ntz`` (ntz-inferring sessions): already the naive
      wall-clock — pass through.

    Shared by the batch scan (T) and the streaming reader
    (plans/streaming_queries.py) so the subtle idiom lives once.
    """
    if dict(df.dtypes).get(col) == "bigint":
        ntz = F.timestamp_micros(F.expr(f"{col} div 1000")).cast(
            "timestamp_ntz"
        )
        return df.withColumn(
            col, F.convert_timezone(F.current_timezone(), F.lit("UTC"), ntz)
        )
    return df


def ntz_epoch_us(col) -> "F.Column":
    """Epoch-µs of a naive (NTZ) wall-clock pinned as UTC, via PURE
    field arithmetic (unix_date/hour/minute/extract are all
    timezone-free on NTZ). Never cast NTZ through an instant: near DST
    transitions the session-zone interpretation of a shifted
    wall-clock is ambiguous/nonexistent and the roundtrip can land an
    hour off. extract(SECOND) carries the µs fraction as DECIMAL(8,6),
    so `* 1000000` is exact."""
    return (
        F.unix_date(col.cast("date")).cast("bigint") * 86_400_000_000
        + F.hour(col).cast("bigint") * 3_600_000_000
        + F.minute(col).cast("bigint") * 60_000_000
        + (F.extract(F.lit("SECOND"), col) * 1_000_000).cast("bigint")
    )


def _data_files_signature(path: str) -> tuple | None:
    """Names, sizes and mtimes of a parquet table's data files: the
    file itself, or every file under a Spark-written directory except
    ``.``/``_`` names (checksums, ``_SUCCESS``). None when the path is
    not on the local filesystem."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_size, st.st_mtime_ns)
        sig = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for f in files:
                if not f.startswith((".", "_")):
                    st = os.stat(os.path.join(root, f))
                    sig.append((os.path.join(root, f), st.st_size, st.st_mtime_ns))
        return tuple(sorted(sig))
    except OSError:
        return None


def input_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of the parquet table at ``path``, inferred (one Spark
    job) once per session, absolute path and data-file signature: a
    table rewritten at the same path is inferred again. Remote paths
    are inferred on every call. Only for input tables; stores and
    warehouses written in-session keep plain reads."""
    def infer() -> StructType:
        return spark.read.parquet(path).schema

    sig = _data_files_signature(path)
    if sig is None:
        return infer()
    return session_cached(spark, ("input_schema", os.path.abspath(path), sig), infer)


def read_input(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the session's cached schema, so
    only the first read of a table launches a schema-inference job.
    Reads of one path stay ``sameSemantics`` (PlanMemo keys on that),
    also with reads that inferred the schema themselves."""
    return spark.read.schema(input_schema(spark, path)).parquet(path)


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table (``read_input``). Parquet → vectorized
    columnar read with predicate pushdown + column pruning handled by
    Catalyst.

    ``events.ts`` is written as TIMESTAMP(NANOS), which Spark's reader
    rejects by default; read it as long nanos and convert to a proper
    timestamp (microsecond truncation — matches DuckDB's µs semantics).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return ts_to_ntz(read_input(spark, f"{sf_dir}/{name}.parquet"))
    return read_input(spark, f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape).
# Covers A1/A6-style hash aggregation with arithmetic measures
# (reference schema/materialized_views.sql:23-33, src/database.py:829-893).
# Plan shape: parquet scan (pruned to 8 cols, shipdate predicate pushed)
# → partial hash agg → single shuffle on 6 groups → final agg. At 100 TB
# the 6-group cardinality makes the shuffle negligible; scan dominates.
# ---------------------------------------------------------------------------
@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# A1/A3: monthly per-category rollup (mv_<source>_monthly shape,
# reference schema/materialized_views.sql:23-33, 55-64).
# ---------------------------------------------------------------------------
@_register(
    "monthly_type_rollup",
    """
    SELECT strftime(date_trunc('month', ts), '%Y-%m-01') AS month,
           event_type,
           round(sum(value), 2) AS total_value,
           count(*)             AS n_rows
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def monthly_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-01").alias("month"),
            "event_type",
        )
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("month", "event_type")
    )


# ---------------------------------------------------------------------------
# A2/A4: per-entity monthly rollup with the MW→MWh-style derived measure
# (reference schema/materialized_views.sql:36-48; F14 energy conversion
# generation_mw * COALESCE(resolution_minutes,60)/60.0 → here modeled as
# quantity * (1-discount) scaling on lineitem).
# ---------------------------------------------------------------------------
@_register(
    "plant_monthly_rollup",
    """
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-01') AS month,
           l_returnflag AS flag,
           round(sum(l_quantity * coalesce(l_discount, 0.06) / 0.06), 2) AS scaled_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def plant_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    scaled = F.col("l_quantity") * F.coalesce(F.col("l_discount"), F.lit(0.06)) / 0.06
    return (
        li.groupBy(
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM-01").alias("month"),
            F.col("l_returnflag").alias("flag"),
        )
        .agg(
            F.round(F.sum(scaled), 2).alias("scaled_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("month", "flag")
    )


# ---------------------------------------------------------------------------
# A5: per-day row-count view (reference schema/row_count_views.sql:17-100;
# events span one month, so day-granularity is the faithful analog).
# ---------------------------------------------------------------------------
@_register(
    "daily_row_counts",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n_rows
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def daily_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# A6: aggregate-export — sum/count/avg/max at a (month, category) grain
# (reference src/database.py:829-893).
# ---------------------------------------------------------------------------
@_register(
    "aggregate_export",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
           o_orderpriority,
           round(sum(o_totalprice), 2) AS total_price,
           count(*)                    AS n_orders,
           round(avg(o_totalprice), 4) AS avg_price,
           round(max(o_totalprice), 2) AS peak_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def aggregate_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-01").alias("month"),
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(F.max("o_totalprice"), 2).alias("peak_price"),
        )
        .orderBy("month", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# A7: distinct-years probe (reference src/database.py:863-872).
# ---------------------------------------------------------------------------
@_register(
    "distinct_years",
    """
    SELECT DISTINCT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS year
    FROM orders
    ORDER BY year
    """,
)
def distinct_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.select(F.year("o_orderdate").alias("year")).distinct().orderBy("year")


# ---------------------------------------------------------------------------
# A8: duplicate counting — COUNT(*) - COUNT(DISTINCT key)
# (reference schema/migrations/001a...sql:27-31).
# ---------------------------------------------------------------------------
@_register(
    "duplicate_count",
    """
    SELECT count(*) - count(DISTINCT (user_id, event_type)) AS dup_count
    FROM events
    """,
)
def duplicate_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return ev.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.struct("user_id", "event_type"))).alias(
            "dup_count"
        )
    )


# ---------------------------------------------------------------------------
# A9/A10: min/max date-range + watermark (reference src/database.py:1539-1563,
# src/get_latest_date.py:19-35). Parquet footer min/max stats make this a
# metadata-only aggregate at scale (spark.sql.parquet.aggregatePushdown).
# ---------------------------------------------------------------------------
@_register(
    "date_range_watermark",
    """
    SELECT strftime(min(ts), '%Y-%m-%d') AS start_date,
           strftime(max(ts), '%Y-%m-%d') AS end_date,
           CAST(max(CAST(ts AS DATE)) AS VARCHAR) AS latest_date
    FROM events
    """,
)
def date_range_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return ev.agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("start_date"),
        F.date_format(F.max("ts"), "yyyy-MM-dd").alias("end_date"),
        F.max(F.to_date("ts")).cast("string").alias("latest_date"),
    )


# ---------------------------------------------------------------------------
# A11: table stats — COUNT(*) per table (reference src/database.py:1503-1537).
# ---------------------------------------------------------------------------
_STAT_TABLES = ["customer", "orders", "lineitem", "events", "documents"]


@_register(
    "table_stats",
    " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in _STAT_TABLES
    )
    + " ORDER BY table_name",
)
def table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        T(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("n_rows")
        )
        for t in _STAT_TABLES
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionAll(p)
    return df.orderBy("table_name")


# ---------------------------------------------------------------------------
# A12: extraction-summary shape — grouped count/sum/conditional-count/min/max
# (reference schema/extraction_metadata.sql:69-81, P6 COUNT(*) FILTER).
# ---------------------------------------------------------------------------
@_register(
    "source_summary",
    """
    SELECT source,
           count(*)                             AS n_docs,
           CAST(sum(n_chars) AS BIGINT)         AS total_chars,
           count(*) FILTER (WHERE lang = 'en')  AS n_english,
           count(*) FILTER (WHERE lang <> 'en') AS n_other,
           min(n_chars)                         AS min_chars,
           max(n_chars)                         AS max_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def source_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_if(F.col("lang") == "en").alias("n_english"),
            F.count_if(F.col("lang") != "en").alias("n_other"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# O2: top-k with deterministic tiebreak (reference
# schema/extraction_metadata.sql:84-95 — ORDER BY ... DESC LIMIT 20).
# Spark executes this as TakeOrderedAndProject: per-partition top-k then a
# driver merge — no global sort, no full shuffle.
# ---------------------------------------------------------------------------
@_register(
    "top_orders",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderpriority")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# D1/D3/W1: first-wins ordered dedup via row_number window (reference
# src/validator.py:490-521 first-wins in-file dedup and
# schema/migrations/001b_dedup_and_constrain_ons.sql:20-47 retro-dedup).
# event_id is the ingestion-order column (the reference uses BIGSERIAL id).
# ---------------------------------------------------------------------------
@_register(
    "first_wins_dedup",
    """
    SELECT event_id, user_id, event_type
    FROM (
        SELECT event_id, user_id, event_type,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY event_id) AS rn
        FROM events
    )
    WHERE rn = 1
    ORDER BY event_id
    """,
)
def first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# J1/A14: anti-join drift check (reference src/check_crosswalk_drift.py:54-69)
# — "keys in the fact table with no match in the dimension".
# ---------------------------------------------------------------------------
@_register(
    "anti_join_customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    ORDER BY c_custkey
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").select("o_custkey").filter(F.col("o_custkey").isNotNull())
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# J4: dimension equi-joins with broadcast (reference downstream dashboard
# contract, schema/materialized_views.sql:160-162). TPC-H Q5 shape:
# fact → fact join (shuffle) then dim joins — nation/region are
# hint-broadcast (constant 25/5 rows); customer is unhinted because it
# grows with sf (AQE broadcasts it only while it actually fits).
# ---------------------------------------------------------------------------
@_register(
    "regional_revenue",
    """
    SELECT n_name AS nation,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY nation
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# P3/F12: year-equality filter + agg (reference src/database.py:885-891).
# The year() predicate is evaluated at scan time; with month/year-partitioned
# production tables this becomes partition pruning.
# ---------------------------------------------------------------------------
@_register(
    "year_filter_agg",
    """
    SELECT l_returnflag,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    WHERE CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) = 1997
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def year_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    # year(ts) == 1997 would defeat parquet predicate pushdown (function
    # wraps the column); the equivalent half-open range predicate reaches
    # the scan (PushedFilters: GreaterThanOrEqual/LessThan) and prunes
    # row groups — at 100 TB this is the difference between scanning one
    # year and scanning everything.
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# F3: static dictionary mapping with coalesce fallback (reference
# PSR_TO_FUEL_TYPE, src/database.py:35-56, 667-670). A literal map is
# constant-folded by Catalyst — no join, no shuffle.
# ---------------------------------------------------------------------------
_EVENT_CATEGORY = {
    "click": "engagement",
    "view": "engagement",
    "purchase": "conversion",
    "signup": "conversion",
}


@_register(
    "category_map_rollup",
    """
    SELECT CASE event_type
             WHEN 'click' THEN 'engagement'
             WHEN 'view' THEN 'engagement'
             WHEN 'purchase' THEN 'conversion'
             WHEN 'signup' THEN 'conversion'
             ELSE 'other'
           END AS category,
           count(*) AS n_rows,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    ORDER BY category
    """,
)
def category_map_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    mapping = F.create_map(*[F.lit(x) for kv in _EVENT_CATEGORY.items() for x in kv])
    return (
        ev.groupBy(F.coalesce(mapping[F.col("event_type")], F.lit("other")).alias("category"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("category")
    )


# ---------------------------------------------------------------------------
# V1-V9: validation predicates as a single-pass error taxonomy over raw
# rows (reference src/validator.py:97-119, 496-524 — counts by error type).
# Rules modeled on the reference's: non_negative measure, non_empty
# category, positive timestamp not too far in the future.
# ---------------------------------------------------------------------------
@_register(
    "validation_error_taxonomy",
    """
    SELECT CASE
             WHEN value IS NULL THEN 'missing required field: value'
             WHEN value < 0 THEN 'invalid value: negative'
             WHEN event_type IS NULL OR length(trim(event_type)) = 0
               THEN 'missing required field: event_type'
             WHEN ts IS NULL THEN 'missing required field: ts'
             WHEN ts > TIMESTAMP '2026-01-01' THEN 'invalid value: future timestamp'
             ELSE 'valid'
           END AS error_type,
           count(*) AS n_records
    FROM events
    GROUP BY 1
    ORDER BY error_type
    """,
)
def validation_error_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    err = (
        F.when(F.col("value").isNull(), "missing required field: value")
        .when(F.col("value") < 0, "invalid value: negative")
        .when(
            F.col("event_type").isNull() | (F.length(F.trim("event_type")) == 0),
            "missing required field: event_type",
        )
        .when(F.col("ts").isNull(), "missing required field: ts")
        .when(F.col("ts") > F.lit("2026-01-01").cast("timestamp"), "invalid value: future timestamp")
        .otherwise("valid")
    )
    return (
        ev.groupBy(err.alias("error_type"))
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy("error_type")
    )


# ---------------------------------------------------------------------------
# F17/JSONB analog: semi-structured JSON column parsed at query time
# (reference stores JSONB detail columns, schema/extraction_metadata.sql:34-36).
# get_json_object stays JVM-side; at scale prefer from_json with an explicit
# schema so Catalyst can prune.
# ---------------------------------------------------------------------------
@_register(
    "json_props_rollup",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
           count(*) AS n_rows
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("total_k"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: pure-predicate revenue scan — every filter must reach
# PushedFilters (range + equality on doubles).
# ---------------------------------------------------------------------------
@_register(
    "revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: join + group + top-k with deterministic tiebreak.
# ---------------------------------------------------------------------------
@_register(
    "shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Multi-dimensional rollup (CUBE): beyond the reference's flat group-bys,
# the standard OLAP summary a dashboard needs at 100 TB — computed in one
# pass with partial aggregation instead of four separate queries.
# ---------------------------------------------------------------------------
@_register(
    "cube_event_summary",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), '(all)') AS day,
           round(sum(value), 2) AS total_value,
           count(*) AS n_rows
    FROM events
    GROUP BY CUBE (event_type, date_trunc('day', ts))
    ORDER BY event_type, day
    """,
)
def cube_event_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    return (
        ev.cube(F.col("event_type"), day.alias("day"))
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("day", F.lit("(all)")).alias("day"),
            "total_value",
            "n_rows",
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Window analytics: lag/lead, running totals, rank — the window-function
# family beyond the reference's single ROW_NUMBER (W1).
# ---------------------------------------------------------------------------
@_register(
    "window_analytics",
    """
    SELECT event_type, day, daily_total,
           round(coalesce(lag(daily_total) OVER w, 0), 2)      AS prev_day_total,
           round(sum(daily_total) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           CAST(rank() OVER (PARTITION BY event_type ORDER BY daily_total DESC, day) AS BIGINT) AS day_rank
    FROM (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             round(sum(value), 2) AS daily_total
      FROM events
      GROUP BY 1, 2
    )
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ORDER BY event_type, day
    """,
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.round(F.sum("value"), 2).alias("daily_total"))
    w = Window.partitionBy("event_type").orderBy("day")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wrank = Window.partitionBy("event_type").orderBy(
        F.col("daily_total").desc(), F.col("day")
    )
    return daily.select(
        "event_type",
        "day",
        "daily_total",
        F.round(F.coalesce(F.lag("daily_total").over(w), F.lit(0)), 2).alias(
            "prev_day_total"
        ),
        F.round(F.sum("daily_total").over(wrun), 2).alias("running_total"),
        F.rank().over(wrank).cast("bigint").alias("day_rank"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# §2.3 load-path fixups (F1 string-ts parse, F3 PSR→fuel map, F4 plant
# suffix strip) as an oracle-checked catalog query: raw ENTSOE-shaped
# columns are synthesized deterministically from `orders`, then the
# *production* fixup helpers — the exact Column expressions the load
# path applies (sources/jsonl.py::psr_fuel_expr / strip_plant_suffixes_expr
# / parse_string_ts_ms; reference src/database.py:640-682) — transform
# them, so the load semantics get a DuckDB row, not only pytest.
# ---------------------------------------------------------------------------
def _entsoe_fixup_oracle() -> str:
    from power_generation_etl_spark.sources.jsonl import (
        _DATA_TYPE_SUFFIXES,
        _FUEL_SUFFIXES,
        PSR_TO_FUEL_TYPE,
    )

    psr_case = (
        "CASE psr_type "
        + " ".join(f"WHEN '{c}' THEN '{f}'" for c, f in sorted(PSR_TO_FUEL_TYPE.items()))
        + " ELSE raw_fuel END"
    )

    def strip_case(col: str, suffixes: list[str]) -> str:
        arms = " ".join(
            f"WHEN ends_with({col}, '_{s}') THEN left({col}, length({col}) - {len(s) + 1})"
            for s in suffixes
        )
        return f"CASE {arms} ELSE {col} END"

    return f"""
    WITH raw AS (
      SELECT concat('B', lpad(CAST(o_orderkey % 25 + 1 AS VARCHAR), 2, '0')) AS psr_type,
             o_orderpriority AS raw_fuel,
             concat('Plant ', CAST(o_custkey % 50 AS VARCHAR),
                    CASE o_orderkey % 4 WHEN 1 THEN '_Solar'
                         WHEN 2 THEN '_Actual Aggregated'
                         WHEN 3 THEN '_Solar_Actual Aggregated' ELSE '' END) AS raw_name,
             concat('2021-', lpad(CAST(o_orderkey % 12 + 1 AS VARCHAR), 2, '0'),
                    '-15 06:30:00',
                    CASE WHEN o_orderkey % 5 = 0 THEN '+02:00' ELSE '' END) AS ts_str
      FROM orders
    ),
    mapped AS (
      SELECT {psr_case} AS fuel_type,
             {strip_case('raw_name', _DATA_TYPE_SUFFIXES)} AS s1,
             CASE WHEN ts_str LIKE '%+02:00'
                  THEN epoch_ms(CAST(ts_str AS TIMESTAMPTZ))
                  ELSE epoch_ms(CAST(ts_str AS TIMESTAMP)) END AS timestamp_ms
      FROM raw
    ),
    fx AS (
      SELECT fuel_type, {strip_case('s1', _FUEL_SUFFIXES)} AS plant_name, timestamp_ms
      FROM mapped
    )
    SELECT fuel_type,
           count(*) AS n_rows,
           count(DISTINCT plant_name) AS n_plants,
           min(timestamp_ms) AS min_ts_ms,
           max(timestamp_ms) AS max_ts_ms
    FROM fx
    GROUP BY fuel_type
    ORDER BY fuel_type
    """


@_register("entsoe_fixup_chain", _entsoe_fixup_oracle())
def entsoe_fixup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.sources.jsonl import (
        parse_string_ts_ms,
        psr_fuel_expr,
        strip_plant_suffixes_expr,
    )

    o = T(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    psr = F.concat(F.lit("B"), F.lpad((k % 25 + 1).cast("string"), 2, "0"))
    sfx = (
        F.when(k % 4 == 1, F.lit("_Solar"))
        .when(k % 4 == 2, F.lit("_Actual Aggregated"))
        .when(k % 4 == 3, F.lit("_Solar_Actual Aggregated"))
        .otherwise(F.lit(""))
    )
    raw_name = F.concat(F.lit("Plant "), (F.col("o_custkey") % 50).cast("string"), sfx)
    ts = F.concat(
        F.lit("2021-"),
        F.lpad((k % 12 + 1).cast("string"), 2, "0"),
        F.lit("-15 06:30:00"),
        F.when(k % 5 == 0, F.lit("+02:00")).otherwise(F.lit("")),
    )
    fx = o.select(
        psr_fuel_expr(psr, F.col("o_orderpriority")).alias("fuel_type"),
        strip_plant_suffixes_expr(raw_name).alias("plant_name"),
        parse_string_ts_ms(ts).alias("timestamp_ms"),
    )
    return (
        fx.groupBy("fuel_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("plant_name").alias("n_plants"),
            F.min("timestamp_ms").alias("min_ts_ms"),
            F.max("timestamp_ms").alias("max_ts_ms"),
        )
        .orderBy("fuel_type")
    )


# ---------------------------------------------------------------------------
# Skew-mitigation path: the same rollup routed through the salted
# two-phase aggregation (operators/skew.py::salted_sum_count) — results
# are identical to a plain groupBy (algebraic aggregates only), but a
# hot key spreads over n_salts reducers instead of stalling one. The
# oracle is the plain GROUP BY, which is exactly the point.
# ---------------------------------------------------------------------------
@_register(
    "skew_salted_summary",
    """
    SELECT event_type,
           round(sum(value), 2) AS total_value,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def skew_salted_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.operators.skew import salted_sum_count

    ev = T(spark, sf_dir, "events")
    out = salted_sum_count(ev, ["event_type"], {"total_value": F.col("value")})
    return out.select(
        "event_type",
        F.round("total_value", 2).alias("total_value"),
        F.col("_count").alias("n_events"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Exact interpolated percentiles per group (Spark `percentile` ↔ DuckDB
# `quantile_cont` — same linear-interpolation definition). Exact
# percentiles buffer each group's values; at 100 TB swap in
# `approx_percentile` (t-digest, mergeable partial aggs) — kept exact
# here because the approximation isn't engine-portable.
# ---------------------------------------------------------------------------
@_register(
    "value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.9), 4)  AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("_p"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            F.round(F.col("_p").getItem(0), 4).alias("p50"),
            F.round(F.col("_p").getItem(1), 4).alias("p90"),
            F.round(F.col("_p").getItem(2), 4).alias("p99"),
            "n_events",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# TPC-H Q9-flavor 5-way star join: lineitem fact joined to part,
# supplier, nation, region — nation/region hint-broadcast, part and
# supplier unhinted (sf-proportional; AQE sizes them at runtime), the
# p_type filter pushed into the part scan before the join. Plan shape
# at 100 TB: one pass over the fact, zero fact-side shuffles until the
# final (r_name, p_brand) aggregation (map-side combined).
# ---------------------------------------------------------------------------
@_register(
    "supplier_region_part_revenue",
    """
    SELECT r_name, p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'PROMO'
    GROUP BY r_name, p_brand
    ORDER BY r_name, p_brand
    """,
)
def supplier_region_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("r_name", "p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "p_brand")
    )


# ---------------------------------------------------------------------------
# Set operations: customers active in 1995 INTERSECT/EXCEPT 1996.
# Spark intersect/exceptAll compile to left-semi/left-anti aggregates —
# same dedup-by-shuffle shape as the idempotent-append path.
# ---------------------------------------------------------------------------
@_register(
    "customer_set_ops",
    """
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate < TIMESTAMP '1996-01-01'),
    y96 AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01')
    SELECT 'both_years' AS cohort, count(*) AS n_customers
    FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
    UNION ALL
    SELECT 'only_1995', count(*)
    FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
    UNION ALL
    SELECT 'only_1996', count(*)
    FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
    ORDER BY cohort
    """,
)
def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y95, y96 = year(1995), year(1996)
    spark_df = (
        y95.intersect(y96).agg(F.count(F.lit(1)).alias("n_customers"))
        .select(F.lit("both_years").alias("cohort"), "n_customers")
        .unionByName(
            y95.exceptAll(y96).agg(F.count(F.lit(1)).alias("n_customers"))
            .select(F.lit("only_1995").alias("cohort"), "n_customers")
        )
        .unionByName(
            y96.exceptAll(y95).agg(F.count(F.lit(1)).alias("n_customers"))
            .select(F.lit("only_1996").alias("cohort"), "n_customers")
        )
    )
    return spark_df.orderBy("cohort")


# ---------------------------------------------------------------------------
# ROLLUP hierarchy totals (region → nation), the partial-cube
# counterpart of cube_event_summary. GROUPING() disambiguates the
# subtotal rows exactly as in SQL.
# ---------------------------------------------------------------------------
@_register(
    "rollup_region_nation",
    """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           count(*) AS n_customers,
           CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region, nation
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
        .orderBy("region", "nation")
    )


# ---------------------------------------------------------------------------
# PIVOT: long → wide with a FIXED pivot-value list. Passing the values
# explicitly matters twice over — it skips the extra distinct-scan job
# Spark otherwise runs to discover them, and it keeps the output schema
# static (a schema that depends on data contents can't be planned,
# cached, or oracle-compared). The oracle is the portable spelling:
# one count FILTER per column.
# ---------------------------------------------------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_register(
    "event_type_pivot_daily",
    """
    SELECT epoch_us(ts) // 86400000000 AS day_idx,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
             AS n_purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view
    FROM events
    GROUP BY 1
    ORDER BY day_idx
    """,
)
def event_type_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type matrix via pivot. Compiles to ONE hash
    aggregation with 5 conditional counts (same plan as the FILTER
    spelling) — not 5 scans."""
    from power_generation_etl_spark.plans.temporal_queries import T_events_us

    e = T_events_us(spark, sf_dir)
    day = F.expr("ts_us div 86400000000").alias("day_idx")
    wide = (
        e.select(day, "event_type")
        .groupBy("day_idx")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "day_idx",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    ).orderBy("day_idx")


# ---------------------------------------------------------------------------
# UNPIVOT (melt): wide → long, the inverse reshape. Built-in
# df.unpivot is a single generate pass — the oracle is the portable
# UNION ALL spelling.
# ---------------------------------------------------------------------------


@_register(
    "doc_metrics_unpivot",
    """
    WITH m AS (
      SELECT doc_id,
             n_chars,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens
      FROM documents
    )
    SELECT doc_id, metric, value FROM (
      SELECT doc_id, 'n_chars' AS metric, n_chars AS value FROM m
      UNION ALL
      SELECT doc_id, 'ws_tokens', ws_tokens FROM m
    )
    ORDER BY doc_id, metric
    """,
)
def doc_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.operators import text as tx

    d = T(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        F.col("n_chars"),
        tx.token_count(F.col("text")).alias("ws_tokens"),
    )
    return m.unpivot(
        ["doc_id"], ["n_chars", "ws_tokens"], "metric", "value"
    ).orderBy("doc_id", "metric")


# ---------------------------------------------------------------------------
# Correlated scalar subquery → decorrelation: each customer's single
# most expensive order. Catalyst rewrites the per-row subquery into an
# aggregate + join (check .explain: no repeated subquery execution).
# The correlated value is a MAX over stored doubles — an element, not
# arithmetic — so the equality is exact in both engines.
# ---------------------------------------------------------------------------


@_register(
    "customer_max_order",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders o
    WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                          FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def customer_max_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM {orders} o
        WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                              FROM {orders} o2
                              WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_custkey, o_orderkey
        """,
        orders=T(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# Semi-join (EXISTS): the positive twin of the drift anti-join —
# customers with at least one urgent order, emitted once regardless of
# how many orders match. LeftSemi carries only join keys through the
# shuffle; no row multiplication, no dedup pass.
# ---------------------------------------------------------------------------


@_register(
    "customers_with_urgent_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.join(o, "c_custkey", "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# NTILE quartiles: rank-based integer bucketing (exact across engines,
# unlike value-based percentile cuts on floats).
# ---------------------------------------------------------------------------


@_register(
    "customer_spend_quartiles",
    """
    WITH s AS (
      SELECT o_custkey, CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS spend
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, spend,
           CAST(ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS BIGINT)
             AS quartile
    FROM s
    ORDER BY o_custkey
    """,
)
def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment by total spend — ntile is rank-based integer
    arithmetic over a deterministic total order (spend, custkey
    tiebreak), so bucket membership is exact in both engines. Computed
    as `ntile_of_rank` over a distributed two-pass rank
    (operators/rank.py) instead of an unpartitioned ntile window:
    per-customer aggregates are still billions of rows at 100 TB, and
    a global-order window would single-partition them."""
    o = T(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    ranked = rk.with_global_rank(
        s, [F.col("spend").desc(), F.col("o_custkey")], total_col="_t"
    )
    return ranked.select(
        "o_custkey",
        "spend",
        rk.ntile_of_rank(F.col("rank"), F.col("_t"), 4).alias("quartile"),
    ).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Rank-window family completeness: percent_rank / cume_dist / ntile /
# nth_value over one PARTITIONED window (by o_orderpriority) — no
# unpartitioned window anywhere in the plan, so the rows of each group
# land on that group's task, never all on one. All inputs are integer
# cents and the rank floats are the same (rank−1)/(n−1) ratio of exact
# integers on both engines, rounded 4dp.
# ---------------------------------------------------------------------------


@_register(
    "window_rank_family",
    """
    WITH o AS (
        SELECT o_orderpriority, o_custkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT o_orderkey, o_orderpriority, o_custkey, cents,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume,
           ntile(10) OVER w AS decile,
           first_value(cents) OVER w AS min_cents,
           nth_value(cents, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS third_cents
    FROM o
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey)
    ORDER BY o_orderpriority, cents, o_orderkey
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist/ntile/first_value/nth_value, partitioned
    by o_orderpriority (the 1/97 key sample just bounds the test
    output). The rank ratios divide exact integers within each group —
    identical doubles out of both engines."""
    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_custkey",
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_custkey",
        "cents",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
        F.first("cents").over(w).alias("min_cents"),
        F.nth_value("cents", 3).over(wfull).alias("third_cents"),
    ).orderBy("o_orderpriority", "cents", "o_orderkey")


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping_id — the generalized form of the
# CUBE/ROLLUP entries: three hand-picked grouping sets in one scan.
# ---------------------------------------------------------------------------


@_register(
    "grouping_sets_revenue",
    """
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    ORDER BY priority, status
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three grouping sets (by priority, by status, grand total) in ONE
    scan — Catalyst expands to a single Expand + hash agg, not three
    scans. NULL group keys are labeled '(all)' identically on both
    engines."""
    o = T(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("status"),
            "n_orders",
            "cents",
        )
        .orderBy("priority", "status")
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram: 10 buckets of (as near as possible) equal row
# count over order value — the complement of `doc_length_histogram`'s
# fixed-width buckets and the structure query optimizers keep as
# column statistics. ntile over a deterministic (cents, key) order
# makes bucket membership exact and engine-identical; per-bucket
# min/max expose the boundaries.
# ---------------------------------------------------------------------------


@_register(
    "equi_depth_order_values",
    """
    WITH o AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    b AS (
        SELECT cents,
               ntile(10) OVER (ORDER BY cents, o_orderkey) AS bucket
        FROM o
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def equi_depth_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten equal-count buckets over order totals (integer cents),
    computed as `ntile_of_rank` over the distributed two-pass rank
    (operators/rank.py) — the input is raw orders, so an unpartitioned
    ntile window would funnel the whole fact table through one task.
    Bucket assignment is identical to the window form."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    ranked = rk.with_global_rank(
        o, [F.col("cents"), F.col("o_orderkey")], total_col="_t"
    )
    b = ranked.select(
        "cents",
        rk.ntile_of_rank(F.col("rank"), F.col("_t"), 10).alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# LATERAL join: per-customer correlated top-2 subquery — the SQL
# surface for "top N related rows per driving row". Catalyst rewrites
# the correlated LIMIT into a window-rank under the hood (same plan
# family as `topk_per_group`), so this exercises the decorrelation
# path rather than a per-row re-execution.
# ---------------------------------------------------------------------------


@_register(
    "lateral_top2_orders",
    """
    SELECT c.c_custkey,
           t.o_orderkey,
           CAST(floor(t.o_totalprice * 100) AS BIGINT) AS cents
    FROM customer c
    JOIN LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t ON true
    WHERE c.c_custkey % 17 = 0
    ORDER BY c.c_custkey, cents DESC, t.o_orderkey
    """,
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per (sampled) customer via a correlated LATERAL
    subquery — identical SQL text on both engines modulo view names."""
    return spark.sql(
        """
        SELECT c.c_custkey,
               t.o_orderkey,
               CAST(floor(t.o_totalprice * 100) AS BIGINT) AS cents
        FROM {customer} c
        JOIN LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM {orders}
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_custkey % 17 = 0
        ORDER BY c.c_custkey, cents DESC, t.o_orderkey
        """,
        customer=T(spark, sf_dir, "customer"),
        orders=T(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume customers — GROUP BY + HAVING feeding
# an IN subquery over the same fact. Catalyst plans the HAVING filter
# as a post-aggregation filter and the IN as a LeftSemi on orderkey —
# the fact table is scanned twice but shuffled only on keys.
# ---------------------------------------------------------------------------


@_register(
    "large_volume_customers",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > 250
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey
    ORDER BY total_qty DESC, o.o_orderkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("tq"))
        .where(F.col("tq") > 250)
        .select("l_orderkey")
    )
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey")
        .agg(F.sum("qty").cast("bigint").alias("total_qty"))
        .orderBy(F.desc("total_qty"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: supplier-count per part attribute with a NOT IN
# exclusion subquery — NOT IN compiles to NullAware anti join (one
# extra null-check branch vs NOT EXISTS; the exclusion set here is
# non-null by construction so semantics match the anti join).
# ---------------------------------------------------------------------------


@_register(
    "part_supplier_counts",
    """
    SELECT p.p_brand, p.p_type,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    AND p.p_size IN (5, 10, 15)
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
    """,
)
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    bad = (
        T(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        T(spark, sf_dir, "part")
        .where(F.col("p_size").isin(5, 10, 15))
        .select("p_partkey", "p_brand", "p_type")
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )

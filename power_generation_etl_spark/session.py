"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every knob here is chosen for the
multi-executor case: AQE for runtime re-planning (skew joins, partition
coalescing), a broadcast threshold that catches dimension tables, and a
UTC session timezone so epoch-ms arithmetic is deterministic across
drivers and executors.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Spark's generated-class cache (a static conf, default 100 entries; an
# LRU keyed by generated source). A 7-entry catalog pass compiles 125
# distinct classes and a month-ingest cycle about 145, so at 100 each
# warm pass evicted what the one before compiled: 98 compiles per warm
# catalog pass and 168 per warm ingest cycle (4 cores). At 4096 they
# compile 0 and 28 (classes with inlined per-load long literals). A full
# 224-entry oracle sweep at sf0.001 compiles 3,318 distinct classes here
# (about 5,000 at 100); after it Metaspace held 234 MB (208-233 MB at
# 100) and the heap left after a full GC, net of cached blocks, was 60-170
# MB larger: the cached classes and their sources.
CODEGEN_CACHE_ENTRIES = 4096


def positive_int_env(name: str, default: int) -> int:
    """``$name`` as an integer >= 1 (``default`` when unset), parsed
    where it is used; anything else raises a ``ValueError`` naming
    the variable."""
    env = os.environ.get(name)
    if env is None:
        return default
    try:
        v = int(env)
    except ValueError:
        v = 0
    if v < 1:
        raise ValueError(f"{name}={env!r} is not a positive integer; set e.g. {name}={default}")
    return v


def get_spark(
    app_name: str = "power-generation-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for analytic workloads.

    Parameters are overridable for tests; production deployments pass
    ``master=None`` and let spark-submit / the cluster manager decide.
    """
    cpus = positive_int_env("SPARK_GRAFT_CPUS", 32)  # local[N] and shuffle partitions
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # the static shuffle-partition count is always wrong for some stage;
        # AQE re-plans from actual map output sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (nation/region/part, PSR-code maps, crosswalks)
        # must broadcast; 64 MB catches every dim we ship.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic time semantics: the reference stores epoch-ms and
        # treats naive timestamps as UTC (reference src/database.py:633-665).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the few pandas-interop paths (multimodal UDFs, ANN).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: allow vectorized reader + pushdown (defaults, but
        # pinned so a misconfigured cluster profile can't silently disable).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SESSION_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SESSION_CACHE_LOCK = threading.Lock()


def session_cached(spark: SparkSession, key, build):
    """``build()``'s result, built once per session and key.

    For values that cost py4j calls or a Spark job to make and stay
    valid for the whole session (a source's validation expressions, an
    input table's schema). The cache is weakly keyed by the session, so
    a stopped and recreated session starts empty; one lock guards it,
    so concurrent first callers build once. A key must name everything
    the value depends on."""
    with _SESSION_CACHE_LOCK:
        cache = _SESSION_CACHE.setdefault(spark, {})
        if key not in cache:
            cache[key] = build()
        return cache[key]


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence | dict], schema: T.StructType | str
) -> DataFrame:
    """A frame of driver-held ``rows``, built from an Arrow table.

    Every DataFrame the package builds from values on the driver goes
    through here; it is the package's only ``createDataFrame`` call
    (``tests/test_local_frame.py`` enforces that). ``createDataFrame``
    over a Python list makes a pickled Python RDD, so every action on
    the frame (a collect, a broadcast) forks Python workers and runs
    ``defaultParallelism`` tasks. An Arrow table reaches the JVM as a
    ``LocalRelation``: collecting it runs no job, and it carries exact
    size statistics.

    ``rows`` are tuples (``Row``s included) matched to ``schema`` by
    position, or dicts matched by name (a missing key is null).
    ``schema`` is a ``StructType`` or a DDL string such as
    ``"id bigint, vec array<double>"``. Values read back as from the
    list path: a naive ``datetime`` in a TimestampType column is the
    driver's local time, as ``TimestampType.toInternal`` takes it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = []
    for i, f in enumerate(schema.fields):
        vals = [r.get(f.name) if isinstance(r, dict) else r[i] for r in rows]
        if isinstance(f.dataType, T.TimestampType):
            vals = [None if v is None else f.dataType.toInternal(v) for v in vals]
        cols.append(pa.array(vals, type=arrow_schema.field(i).type))
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow_schema), schema)

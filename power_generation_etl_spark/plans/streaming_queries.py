"""Oracle-gated Structured Streaming catalog queries.

The streaming operator layer (`streaming/ingest.py`, `streaming/
stateful.py`) is exercised by pytest end-to-end, but until now no
catalog entry ran a REAL streaming query under the DuckDB oracle gate.
These entries do: each starts an `availableNow` Structured Streaming
job over the driver's parquet tables inside the query function, waits
for it to finish, and returns the sink contents as a DataFrame whose
values are batch-deterministic — so the ordinary exact oracle applies.

Determinism notes (why these shapes and not others):
* `stream_hourly_event_counts` uses COMPLETE output mode — every
  micro-batch re-emits the full aggregation state, so the last batch's
  rows equal the batch GROUP BY no matter how the file source split
  micro-batches, and no watermark/late-data policy can drop rows.
* `stream_dedup_event_counts` feeds the file source a landing dir
  with the SAME events file hard-linked twice, streams it through
  stateful `dropDuplicates` (append mode), and aggregates the sink
  batch-side. Without the dedup state every count would double — the
  oracle's plain per-type counts fail; with it the first-occurrence
  set is exactly the distinct event set regardless of batch split.
* `stream_late_data_rollup` (r10) is the one that puts WATERMARK
  semantics themselves under the exact oracle: two ordered availableNow
  runs against ONE checkpoint — round 1 feeds the "on-time" 90% of
  events, round 2 feeds the held-back "late" 10% — with a 30-minute
  watermark in APPEND mode. The oracle predicts from event times alone
  exactly which late rows the watermark must drop (those whose window
  closed at round-1's frontier) and which windows ever emit; a
  watermark bug in either direction (late row leaked into a closed
  window, on-time row dropped, window emitted early/never) breaks the
  counts.

Feed plumbing: every entry uses the one stream-feed scaffold in
`plans/queries.py` — `stream_dirs` owns its stage/landing/store/
checkpoint temp dirs, `link_data_files` adds files to the landing dir,
and each two-round entry hands its round DataFrames, a staging format
and a `run(landing)` callable to `overlap_two_rounds`. Every stream
runs to its end through `streaming/ingest.py::run_to_end`, checkpointed
in the entry's `ckpt` dir; the sinks that bring rows to the driver are
`_collect_batches` sinks. An entry body is only its query, its sink and
its result read.

Scale notes: both plans are the standard cluster shapes — file-source
listing parallelizes per file; the windowed count is a streaming
partial-agg + state-store merge keyed by (window, type) whose state is
bounded by the key domain, and the dedup state is keyed by event_id
(at 100 TB one would add a watermark + event-time bound on the dedup
key TTL, which availableNow replay here doesn't need). The collecting
sinks hold only bounded aggregates (hours × types, segments × types);
production sinks are the parquet/foreachBatch stores in
`streaming/ingest.py`.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from power_generation_etl_spark.memo import PlanMemo
from power_generation_etl_spark.operators.minhash import portable_hash32
from power_generation_etl_spark.plans.queries import (
    T,
    _register,
    hash_halves,
    input_schema,
    link_data_files,
    ntz_epoch_us,
    overlap_two_rounds,
    stage_round,
    stream_dirs,
    stream_scoped,
    ts_to_ntz,
)
from power_generation_etl_spark.session import local_frame
from power_generation_etl_spark.streaming.ingest import run_to_end


def _stream_events(spark: SparkSession, sf_dir: str, landing: str):
    """readStream over a landing dir of links to `{sf_dir}/events.parquet`,
    normalizing `ts` to TIMESTAMP_NTZ holding the file's naive
    wall-clock via the SAME shared helper as the batch T() scan
    (`queries.ts_to_ntz`) — independent of session timezone and of
    whether the session's parquet reader produced epoch-ns bigint
    (vanilla + nanosAsLong) or TIMESTAMP_NTZ (ntz-inferring sessions).
    The streaming source needs an explicit schema: the linked source
    table's, which the session infers once (`queries.input_schema`)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = input_schema(spark, f"{sf_dir}/events.parquet")
    return ts_to_ntz(spark.readStream.schema(schema).parquet(landing))


def _collect_batches(
    select: Callable[[DataFrame], DataFrame],
) -> tuple[Callable[[DataFrame, int], None], dict[int, list]]:
    """A `foreachBatch` sink that collects `select(batch_df)` to the
    driver, and the dict it fills: batch id → rows. A retried batch
    overwrites its own rows instead of adding them twice."""
    rows: dict[int, list] = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows[int(batch_id)] = select(batch_df).collect()

    return sink, rows


def _last_batch(rows: dict[int, list]) -> list:
    """The rows of the newest batch — in COMPLETE mode, the whole
    result; none when zero micro-batches ran."""
    return rows[max(rows)] if rows else []


def _spark_order(r) -> tuple:
    """Sort key on a row's first two fields giving Spark's ascending,
    nulls-first order. Python compares strings by code point, which is
    the order of their UTF-8 bytes, Spark's."""
    return (r[0] is not None, r[0], r[1] is not None, r[1])


@_register(
    "stream_hourly_event_counts",
    """
    SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_us, event_type
    """,
)
@stream_scoped
def stream_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed aggregation, run for real: file
    source over events.parquet → 1-hour tumbling window × event_type
    count → COMPLETE mode `foreachBatch` sink, trigger=availableNow.
    The last micro-batch holds the exact batch GROUP BY result
    (complete mode re-emits full state, so micro-batch boundaries are
    invisible), letting the streaming runtime itself sit under the
    exact DuckDB oracle. Window starts are reported as epoch-µs
    BIGINTs — timezone-free on both engines. The bounded (hours ×
    types) rows are sorted on the driver: a Spark orderBy would add a
    sampling job and a shuffle for a result this small."""
    sink, batches = _collect_batches(
        lambda b: b.select(
            ntz_epoch_us(F.col("w.start")).alias("hour_us"),
            "event_type",
            "n_events",
        )
    )
    with stream_dirs("stream_hourly") as d:
        link_data_files(f"{sf_dir}/events.parquet", d.landing, "c0")
        agg = (
            _stream_events(spark, sf_dir, d.landing)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        run_to_end(agg.writeStream.outputMode("complete").foreachBatch(sink), d.ckpt)
    rows = sorted(_last_batch(batches), key=_spark_order)
    return local_frame(spark, rows, "hour_us long, event_type string, n_events long")


@_register(
    "stream_dedup_event_counts",
    """
    SELECT event_type, count(*) AS n_unique_events
    FROM events
    GROUP BY 1
    ORDER BY event_type
    """,
)
@stream_scoped
def stream_dedup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup under the oracle: the landing dir holds
    the SAME events file twice (hard links — no copy), the stream
    applies dropDuplicates(event_id) in append mode, and each
    micro-batch's deduped output is aggregated INSIDE foreachBatch into
    per-batch (event_type, count) rows — so the driver-side state is
    O(batches × types), never O(rows). Keying by batch_id keeps the sink
    idempotent: a retried batch overwrites its own counts instead of
    double-adding. The dedup state is what's under test — without it
    every per-type count doubles and the oracle's plain counts
    mismatch. This is the catalog twin of the reference's idempotent
    re-ingest contract (`operators/dedupe.py::anti_join_new_rows` —
    reference src/database.py ON CONFLICT DO NOTHING), restated as
    exactly-once streaming intake."""
    sink, batches = _collect_batches(
        lambda b: b.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )
    with stream_dirs("stream_dedup") as d:
        for tag in ("c0", "c1"):  # the SAME file, twice
            link_data_files(f"{sf_dir}/events.parquet", d.landing, tag)
        deduped = (
            _stream_events(spark, sf_dir, d.landing)
            .select("event_id", "event_type")
            .dropDuplicates(["event_id"])
        )
        run_to_end(deduped.writeStream.outputMode("append").foreachBatch(sink), d.ckpt)
    totals: dict[str, int] = {}
    for rows in batches.values():
        for et, n in rows:
            totals[et] = totals.get(et, 0) + int(n)
    return local_frame(
        spark,
        sorted(totals.items(), key=_spark_order),
        "event_type string, n_unique_events long",
    )


# Deterministic on-time/late split: ~10% of events (by a cross-engine
# md5 hash of event_id) PLUS the final 24 hours of the dataset are held
# back to the second streaming round. The tail matters: without it the
# global max event time is (with ~90% probability) an on-time row, so
# round 2 never advances the watermark and the "late row merges into a
# still-open window that later emits" path would be structurally
# unexercised — the pytest non-degeneracy check pins all three fates.
_LATE_MOD = 10
_WM_DELAY = "30 minutes"
_WM_US = 1_800_000_000  # the delay, in µs, for the oracle's algebra
_HOUR_US = 3_600_000_000
_TAIL_US = 24 * 3_600_000_000  # round-2 holdback window

# DuckDB twin of the Spark split flag below (the shared 32-bit md5
# idiom: 8 hex chars, always positive, exact in BIGINT on both engines).
_LATE_SQL = (
    "(CAST('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,8) AS BIGINT) "
    f"% {_LATE_MOD} = 0)"
)


def _late_flag():
    return portable_hash32(F.col("event_id").cast("string")) % _LATE_MOD == 0


@_register(
    "stream_late_data_rollup",
    f"""
    WITH e0 AS (
      SELECT epoch_us(ts) AS t_us, event_type, {_LATE_SQL} AS hash_late
      FROM events
    ),
    b0 AS (SELECT max(t_us) AS ma FROM e0),
    e AS (
      SELECT t_us, event_type,
             (hash_late OR t_us > b0.ma - {_TAIL_US}) AS late
      FROM e0, b0
    ),
    b AS (
      SELECT max(CASE WHEN NOT late THEN t_us END) AS m1,
             max(t_us) AS m
      FROM e
    ),
    w AS (
      SELECT (t_us // {_HOUR_US}) * {_HOUR_US} AS hour_us,
             (t_us // {_HOUR_US}) * {_HOUR_US} + {_HOUR_US} AS end_us,
             event_type, late
      FROM e
    )
    SELECT hour_us, event_type, count(*) AS n_events
    FROM w, b
    WHERE (NOT late OR end_us > b.m1 - {_WM_US})
      AND end_us <= b.m - {_WM_US}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
@stream_scoped
def stream_late_data_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark/late-data semantics under the exact oracle.

    Protocol: events are split into an "on-time" set and a "late" set
    (a deterministic ~10% hash sample PLUS the final 24 hours of the
    dataset, so round 2 provably advances the watermark). Round 1 stages only
    the on-time file in the landing dir and runs an APPEND-mode 1-hour
    window × event_type count with `withWatermark(ts, 30 minutes)` to
    completion (availableNow). Round 2 adds the late file to the SAME
    landing dir and re-runs against the SAME checkpoint — Spark
    restores the round-1 watermark (m1 − 30min, where m1 = max on-time
    event time) and state, so:

      * a late row whose window already closed (window_end ≤ m1 − 30min)
        is DROPPED by the watermark — the rows the oracle's first
        predicate excludes;
      * a late row landing in a still-open window merges into state;
      * a window ever EMITS (via foreachBatch, collected per batch)
        only once its end ≤ final watermark (m − 30min, m = global max
        event time); later windows stay in state forever — the rows the
        oracle's second predicate excludes.

    The DuckDB oracle recomputes all of it from raw event times, so a
    leak (late row into a closed window), a false drop (on-time row
    discarded), an early emission, or a lost state restore each breaks
    the value hash. Emission happens in the post-data no-data batch
    (`spark.sql.streaming.noDataMicroBatches.enabled`, default true).
    Each round stages ONE file → one data micro-batch per round, so the
    round boundary (the checkpointed watermark) is the only frontier —
    verified no window-end ties it at any shipped SF (µs-grain max
    event times vs hour-aligned window ends). Driver state is the
    emitted window set (bounded: hours × types). Precondition: a
    non-empty events table has ≥1 on-time row (holds by construction
    at every shipped SF; the all-empty mirror yields empty on both
    engines).

    Scale notes: the aggregation state is keyed by (window, type) —
    bounded by the key domain; the watermark is exactly what BOUNDS
    state at 100 TB (closed windows evict instead of accumulating
    forever, the reason COMPLETE mode can't scale past a small key
    domain). File-source listing parallelizes per file; the count is a
    streaming partial-agg + state-store merge."""
    # withWatermark requires TIMESTAMP (an instant), not NTZ — pin the
    # naive wall-clock AS UTC via pure field arithmetic + instant
    # construction (ntz_epoch_us → timestamp_micros): no session-zone
    # conversion anywhere, so the µs values match the oracle's
    # epoch_us(ts) bit-for-bit under any TZ.
    ev0 = T(spark, sf_dir, "events").select(
        F.timestamp_micros(ntz_epoch_us(F.col("ts"))).alias("ts"),
        "event_type",
        _late_flag().alias("hash_late"),
    )
    # Driver scalar for the 24h-tail holdback (one columnar max; None
    # on an empty corpus, where the flag is irrelevant anyway).
    m_all = ev0.agg(F.max(F.unix_micros("ts"))).first()[0]
    tail_thr = (m_all - _TAIL_US) if m_all is not None else 0
    ev = ev0.withColumn(
        "late",
        F.col("hash_late") | (F.unix_micros("ts") > F.lit(tail_thr)),
    )
    # Enforce the documented precondition instead of silently diverging
    # from the oracle: a non-empty corpus whose EVERY row lands in the
    # late split (span <= 24h, or a pathological hash) would leave the
    # oracle's m1 NULL (its predicates then exclude all rows) while the
    # round-1 watermark stays 0 and Spark still emits — fail loudly.
    if m_all is not None and ev.filter(~F.col("late")).isEmpty():
        raise ValueError(
            "stream_late_data_rollup precondition violated: non-empty "
            "events corpus produced an empty on-time split (needs >24h "
            "span with >=1 on-time row); the watermark oracle is "
            "undefined here"
        )
    sink, batches = _collect_batches(
        lambda b: b.select(
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "event_type",
            "n_events",
        )
    )
    on_time = ev.filter(~F.col("late")).select("ts", "event_type")
    late = ev.filter(F.col("late")).select("ts", "event_type")
    with stream_dirs("stream_late") as d:
        def _run_round(landing: str) -> None:
            agg = (
                spark.readStream.schema(on_time.schema)
                .parquet(landing)
                .withWatermark("ts", _WM_DELAY)
                .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"))
            )
            run_to_end(agg.writeStream.outputMode("append").foreachBatch(sink), d.ckpt)

        # round 1: on-time rows, fresh checkpoint; round 2: late rows,
        # RESTORED watermark/state
        overlap_two_rounds(d, on_time, late, "parquet", _run_round)
    rows = sorted(
        (tuple(r) for emitted in batches.values() for r in emitted), key=_spark_order
    )
    return local_frame(spark, rows, "hour_us long, event_type string, n_events long")


_KMV_K = 16
_KMV_SCALE = (_KMV_K - 1) << 48


@_register(
    "stream_kmv_event_users",
    f"""
    WITH hashed AS (
      SELECT event_type AS grp,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM events
    ),
    d AS (SELECT DISTINCT grp, h FROM hashed WHERE h IS NOT NULL),
    per AS (SELECT grp, CAST(count(*) AS BIGINT) AS nh FROM d GROUP BY grp),
    ranked AS (
      SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
      FROM d
    ),
    kth AS (SELECT grp, h AS h_k FROM ranked WHERE rn = {_KMV_K})
    SELECT per.grp AS grp,
           CAST(CASE WHEN h_k IS NULL THEN per.nh
                     ELSE {_KMV_SCALE} // h_k END AS BIGINT) AS kmv_estimate
    FROM per LEFT JOIN kth ON per.grp = kth.grp
    ORDER BY grp
    """,
)
@stream_scoped
def stream_kmv_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming KMV sketch STORE under the exact oracle (r10 —
    `streaming/ingest.py::stream_kmv_cardinality` was pytest-only):
    events' (event_type, user_id) pairs are staged as JSON in two
    halves (split by a hash of event_id) and fed in TWO ordered
    availableNow rounds against ONE checkpoint. Each micro-batch
    hashes its values and merges into the persisted per-group min-k
    store through the versioned `kmv_v<batch>` crash/retry protocol —
    so round 2 exercises the real cross-batch MERGE of a stored
    version with new data. Because min-k is a MERGEABLE summary, the
    final store must equal the batch sketch over everything ever seen
    regardless of the split — which is exactly what the oracle
    computes from raw events (k-th smallest distinct 48-bit hash per
    group, integer-division estimate, small-set fallback). A merge
    bug (lost version, double-merged batch, wrong truncation order)
    shifts h_k or the stored count and breaks the value hash.

    Scale notes: the store is O(groups × k) forever — the property
    that makes sketch stores viable at 100 TB; per batch it does one
    distinct + one window over (tiny store ∪ batch hashes)."""
    from power_generation_etl_spark.streaming.ingest import (
        kmv_estimate_from_store,
        stream_kmv_cardinality,
    )

    ev = T(spark, sf_dir, "events")
    r1, r2 = hash_halves(ev, "event_id", "event_type", "user_id")
    out_schema = "grp string, kmv_estimate long"
    with stream_dirs("kmv") as d:
        def _run(landing: str) -> None:
            stream_kmv_cardinality(
                spark, landing, d.store, d.ckpt,
                group_col="event_type", value_col="user_id",
                schema="event_type string, user_id long", k=_KMV_K,
            )

        # round 1 seeds kmv_v0; round 2 MERGES v0 + new
        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            rows = kmv_estimate_from_store(spark, d.store, k=_KMV_K).collect()
        except ValueError:  # empty corpus: zero batches, no store
            rows = []
    return local_frame(spark, rows, out_schema)


_MG_CAP = 16  # 15/150/1500 distinct users at the 3 SFs: the smallest SF
# exercises the no-truncation path, the larger two the real MG cut.

# DuckDB twin: the two-batch Misra-Gries evolution unrolled — batch-0
# exact counts → rank → subtract the (cap+1)-th largest → merge batch-1
# counts → rank → subtract again; max_err is the cumulative cut.
_MG_SQL = f"""
    WITH e AS (
      SELECT user_id AS key,
             CAST('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,8) AS BIGINT)
               % 2 AS half
      FROM events WHERE user_id IS NOT NULL
    ),
    b0 AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt
           FROM e WHERE half = 0 GROUP BY key),
    r0 AS (SELECT key, cnt,
                  row_number() OVER (ORDER BY cnt DESC, key) AS rn FROM b0),
    c0 AS (SELECT coalesce(max(CASE WHEN rn = {_MG_CAP + 1} THEN cnt END), 0)
               AS cut FROM r0),
    s0 AS (SELECT key, cnt - c0.cut AS cnt FROM r0, c0
           WHERE rn <= {_MG_CAP} AND cnt - c0.cut > 0),
    b1 AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt
           FROM e WHERE half = 1 GROUP BY key),
    m AS (
      SELECT coalesce(s0.key, b1.key) AS key,
             coalesce(s0.cnt, 0) + coalesce(b1.cnt, 0) AS cnt
      FROM s0 FULL OUTER JOIN b1 ON s0.key = b1.key
    ),
    r1 AS (SELECT key, cnt,
                  row_number() OVER (ORDER BY cnt DESC, key) AS rn FROM m),
    c1 AS (SELECT coalesce(max(CASE WHEN rn = {_MG_CAP + 1} THEN cnt END), 0)
               AS cut FROM r1),
    s1 AS (SELECT key, cnt - c1.cut AS cnt FROM r1, c1
           WHERE rn <= {_MG_CAP} AND cnt - c1.cut > 0)
    SELECT key, CAST(cnt AS BIGINT) AS est_count,
           CAST((SELECT cut FROM c0) + (SELECT cut FROM c1) AS BIGINT)
               AS max_err
    FROM s1
    ORDER BY est_count DESC, key
    """


@_register("stream_mg_heavy_users", _MG_SQL)
@stream_scoped
def stream_mg_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming Misra-Gries heavy-hitter store under the exact
    oracle (r10 — `streaming/ingest.py::stream_heavy_hitters` was
    pytest-only): events split into two deterministic halves, fed in
    two ordered availableNow rounds against one checkpoint; each batch
    counts its keys exactly, merges counter-wise into the persisted
    `mg_v<batch>` summary, and truncates to `capacity` counters by
    subtracting the (capacity+1)-th largest count (the cumulative
    subtraction rides along as `max_err`). MG merge is ORDER-DEFINED —
    unlike the KMV twin the result depends on the batch split — so the
    oracle unrolls exactly the two-round evolution in SQL (rank →
    cut → merge → rank → cut, pure integer arithmetic). A wrong merge,
    a lost cut, a broken meta-row error carry, or a tie-break drift in
    the truncation order each breaks the value hash. At sf0.001 (15
    users ≤ capacity) the cut never engages — the exact path; at
    sf0.01/0.1 (150/1500 users) both rounds truncate for real.

    Scale notes: the summary is O(capacity) forever; per batch one
    exact hash aggregation + one O(capacity)-row window."""
    from power_generation_etl_spark.streaming.ingest import (
        heavy_hitters_from_store,
        stream_heavy_hitters,
    )

    ev = T(spark, sf_dir, "events")
    r1, r2 = hash_halves(ev, "event_id", "user_id")
    out_schema = "key long, est_count long, max_err long"
    with stream_dirs("mg") as d:
        def _run(landing: str) -> None:
            stream_heavy_hitters(
                spark, landing, d.store, d.ckpt,
                key_col="user_id", schema="user_id long",
                capacity=_MG_CAP,
            )

        # MG merge is order-defined: half 0 must be batch 0
        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            rows = heavy_hitters_from_store(spark, d.store).collect()
        except ValueError:  # empty corpus: zero batches, no store
            rows = []
    return local_frame(spark, rows, out_schema)


_IJ_WIN_US = 30 * 60 * 1_000_000  # interval-join window, µs


@_register(
    "stream_interval_join_pairs",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type
               FROM events),
    c AS (SELECT user_id, ts_us AS click_us FROM e
          WHERE event_type = 'click'),
    x AS (SELECT user_id AS uid, ts_us AS err_us FROM e
          WHERE event_type = 'error')
    SELECT c.user_id, count(*) AS n_pairs,
           CAST(sum((err_us - click_us) // 1000000) AS BIGINT) AS sum_lag_s
    FROM c JOIN x
      ON c.user_id = x.uid
     AND err_us >= click_us
     AND err_us <= click_us + {_IJ_WIN_US}
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
@stream_scoped
def stream_interval_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream interval join under the exact oracle (r10 —
    `streaming/ingest.py::stream_interval_join` was pytest-only):
    clicks and errors staged as two streaming file sources, joined for
    real (both sides watermarked, error_ts bounded to [click_ts,
    click_ts + 30min], trigger=availableNow) and aggregated per user
    inside foreachBatch (count + integer lag-seconds sum — bounded by
    the user domain, not the pair count). INNER stream-stream joins
    emit on match regardless of watermarks (watermarks only bound the
    buffered state), so with each side staged as one file the emitted
    set equals the batch interval join exactly — which is what the
    oracle computes. Event times pinned as UTC instants via the same
    field-arithmetic idiom as the watermark entry, so timezone-free."""
    from power_generation_etl_spark.streaming.ingest import stream_interval_join

    ev = T(spark, sf_dir, "events").select(
        "user_id",
        F.timestamp_micros(ntz_epoch_us(F.col("ts"))).alias("ts"),
        "event_type",
    )
    lag = F.expr("(unix_micros(error_ts) - unix_micros(click_ts)) div 1000000")
    sink, batches = _collect_batches(
        lambda b: b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(lag).cast("bigint").alias("lag"),
        )
    )
    with stream_dirs("ij") as d:
        sides = []
        for kind in ("click", "error"):  # one staged file per side
            side = ev.filter(F.col("event_type") == kind).select("user_id", "ts")
            out = stage_round(side, os.path.join(d.stage, kind), "parquet")
            sides.append(spark.readStream.schema(side.schema).parquet(out))
        j = stream_interval_join(
            *sides, watermark="10 minutes", window="30 minutes"
        )
        run_to_end(j.writeStream.outputMode("append").foreachBatch(sink), d.ckpt)
    totals: dict[int, list[int]] = {}
    for rows in batches.values():
        for uid, n, lag_s in rows:
            t = totals.setdefault(uid, [0, 0])
            t[0] += int(n)
            t[1] += int(lag_s)
    return local_frame(
        spark,
        sorted((u, n, lag) for u, (n, lag) in totals.items()),
        "user_id long, n_pairs long, sum_lag_s long",
    )


def _hll_stream_oracle() -> str:
    from power_generation_etl_spark.operators import sketch as sk

    return f"""
    SELECT event_type AS grp, v_empty, z_scaled, hll_estimate
    FROM ({sk.hll_oracle_sql("events", "event_type", "user_id")})
    ORDER BY grp
    """


@_register("stream_hll_event_users", _hll_stream_oracle())
@stream_scoped
def stream_hll_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming HLL register store under the exact oracle (r10 —
    `streaming/ingest.py::stream_hll_cardinality` was pytest-only):
    the same two-round availableNow feed as the KMV twin, but merging
    per-(grp, bucket) max(mj) registers through the versioned
    `hll_v<batch>` store. HLL union is idempotent/commutative max, so
    the final store must equal the batch register table over all
    events regardless of split — the oracle is the SAME SQL as the
    batch `hll_distinct_users` entry (bucket/rho integer pipeline,
    driver-literal alpha and linear-counting LUT), projected to the
    store reader's columns. A lost version or double merge changes
    some register's mj and shifts z_scaled/the estimate."""
    from power_generation_etl_spark.streaming.ingest import (
        hll_estimate_from_store,
        stream_hll_cardinality,
    )

    ev = T(spark, sf_dir, "events")
    r1, r2 = hash_halves(ev, "event_id", "event_type", "user_id")
    out_schema = "grp string, v_empty long, z_scaled long, hll_estimate double"
    with stream_dirs("hll") as d:
        def _run(landing: str) -> None:
            stream_hll_cardinality(
                spark, landing, d.store, d.ckpt,
                group_col="event_type", value_col="user_id",
                schema="event_type string, user_id long",
            )

        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            rows = hll_estimate_from_store(spark, d.store).collect()
        except ValueError:  # empty corpus: zero batches, no store
            rows = []
    return local_frame(spark, rows, out_schema)


# Two-batch drift evolution, unrolled: half-0 seeds the baseline (no
# alert), half-1 raises exactly one alert with the exact cross-
# multiplied L1 ppm the monitor computes (no float shares anywhere).
_DRIFT_SQL = """
    WITH e AS (
      SELECT event_type AS key,
             CAST('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,8) AS BIGINT)
               % 2 AS half
      FROM events WHERE event_type IS NOT NULL
    ),
    b0 AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt
           FROM e WHERE half = 0 GROUP BY key),
    b1 AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt
           FROM e WHERE half = 1 GROUP BY key),
    n AS (SELECT (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM b0) AS n0,
                 (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM b1) AS n1),
    j AS (
      SELECT coalesce(b0.key, b1.key) AS key,
             coalesce(b0.cnt, 0) AS c0, coalesce(b1.cnt, 0) AS c1
      FROM b0 FULL OUTER JOIN b1 ON b0.key = b1.key
    ),
    x AS (SELECT CAST(coalesce(sum(abs(c1 * n.n0 - c0 * n.n1)), 0) AS BIGINT)
              AS v
          FROM j, n)
    SELECT CAST(1 AS BIGINT) AS batch_id,
           n.n1 AS n_rows,
           CAST((x.v * 1000000) // (n.n0 * n.n1) AS BIGINT) AS drift_ppm
    FROM x, n
    WHERE n.n0 > 0 AND n.n1 > 0
    ORDER BY batch_id
    """


@_register("stream_type_drift_alerts", _DRIFT_SQL)
@stream_scoped
def stream_type_drift_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming distribution-drift monitor under the exact oracle
    (r10 — `streaming/ingest.py::stream_type_drift` was pytest-only):
    two-round availableNow feed of the event_type halves; round 1
    seeds the cumulative baseline (no alert by contract), round 2
    compares its distribution against it with the exact
    cross-multiplied L1 metric (Σ|c_batch·N_base − c_base·N_batch|,
    ppm-scaled by integer division — no float shares) and lands one
    alert row in `alerts/batch=1`. The oracle recomputes the identical
    integer evolution from raw events; a wrong baseline merge, a
    missing/duplicated alert, or any float drift in the metric breaks
    the hash. Scale: the baseline is O(distinct keys) counts forever;
    per batch one hash aggregation + one tiny outer join."""
    from power_generation_etl_spark.streaming.ingest import (
        stream_type_drift,
        type_drift_alerts,
    )

    ev = T(spark, sf_dir, "events")
    r1, r2 = hash_halves(ev, "event_id", "event_type")
    out_schema = "batch_id long, n_rows long, drift_ppm long"
    with stream_dirs("drift") as d:
        def _run(landing: str) -> None:
            stream_type_drift(
                spark, landing, d.store, d.ckpt,
                key_col="event_type", schema="event_type string",
            )

        # round 1 seeds the baseline, round 2 raises the alert
        overlap_two_rounds(d, r1, r2, "json", _run)
        rows = type_drift_alerts(spark, d.store).collect()
    return local_frame(spark, rows, out_schema)


# ---------------------------------------------------------------------------
# r11: the stateful sessionizers and the cross-batch transition counter
# under the exact oracle — the last applyInPandasWithState /
# session_window behaviors that were pytest-only.
# ---------------------------------------------------------------------------

_SESS_GAP_US = 30 * 60 * 1_000_000

# (cutoff, lo, hi) of the two-round session split — a scalar constant
# of the corpus, shared by the stateful and native sessionizer entries
# (see _session_round_split). cap=2: two corpora in flight.
_SESSION_SPLIT_MEMO = PlanMemo("session_split", cap=2)
_SESS_DELAY_MS = 600_000  # the 10-minute watermark, ms

# Shared oracle for BOTH sessionizer entries: batch gap-sessionization
# restricted to watermark-closed sessions. Emission predicate measured
# against Spark's native session_window append mode (probe in
# tools/probe notes): a session emits iff
#   last_event_us + gap <= ((max_event_us // 1000) - delay_ms) * 1000
# (non-strict, against the MS-FLOORED watermark — event-time stats are
# tracked in ms). The stateful twin implements the identical predicate
# in `streaming/stateful.py::_session_fn`, so one SQL serves both.
# Probed: zero sessions tie the boundary at any shipped SF (and the
# predicate is exact integer algebra mirrored on both engines anyway).
_SESSION_ORACLE = f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
    mx AS (SELECT ((max(t) // 1000) - {_SESS_DELAY_MS}) * 1000 AS w FROM e),
    m AS (
      SELECT user_id, t,
             CASE WHEN lag(t) OVER win IS NULL
                       OR t - lag(t) OVER win > {_SESS_GAP_US}
                  THEN 1 ELSE 0 END AS ns
      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t)
    ),
    s AS (
      SELECT user_id, t,
             sum(ns) OVER (PARTITION BY user_id ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    ),
    g AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
                 min(t) AS start_us, max(t) AS end_us
          FROM s GROUP BY 1, 2)
    SELECT user_id, start_us, end_us, n_events
    FROM g, mx
    WHERE end_us + {_SESS_GAP_US} <= mx.w
    ORDER BY user_id, start_us
    """


def _session_round_split(spark: SparkSession, sf_dir: str):
    """Pick the two-round cutoff so a known multi-event session
    STRADDLES the checkpoint boundary: among batch gap-sessions with
    >=2 events and a nonzero span, take the one whose midpoint is
    closest to the corpus midpoint (tie: user_id) and cut at ITS
    midpoint — events at `start <= cutoff` feed round 1, the rest
    round 2, so that session is provably assembled across the restored
    state. The cutoff never enters the oracle: with a time split no
    row is ever watermark-late, so the emitted set is split-independent
    (it depends only on session structure and the global max event
    time). Returns (ev, cutoff_us, lo, hi) with ev = (ts instant,
    user_id, value, t_us); ev is None on an empty corpus.

    The collected (cutoff, lo, hi) scalars are a CONSTANT of the
    corpus, memoized per source plan (r12): the stateful and native
    sessionizer entries both run this picker (a min/max pass + a batch
    sessionization window + an ordered first()) over the same events
    table in one catalog pass — the second entry now pays zero picker
    jobs."""
    from power_generation_etl_spark.operators import temporal as tmp

    ev = T(spark, sf_dir, "events").select(
        F.timestamp_micros(ntz_epoch_us(F.col("ts"))).alias("ts"),
        "user_id",
        "value",
    ).withColumn("t_us", F.unix_micros("ts"))

    def build() -> tuple:
        lo, hi = ev.agg(F.min("t_us"), F.max("t_us")).first()
        if lo is None:
            return None, 0, None, None
        mid = (lo + hi) // 2
        sess = tmp.sessionize(
            ev.select("user_id", "t_us"), key="user_id", ts="t_us",
            gap_sec=_SESS_GAP_US,
        )
        cand = (
            sess.groupBy("user_id", "session_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("t_us").alias("st"),
                F.max("t_us").alias("en"),
            )
            .filter((F.col("n") >= 2) & (F.col("en") > F.col("st")))
            .withColumn(
                "d",
                F.abs((F.col("st") + F.col("en")) / F.lit(2.0) - F.lit(mid)),
            )
            .orderBy("d", "user_id")
            .first()
        )
        cutoff = (cand["st"] + cand["en"]) // 2 if cand is not None else mid
        return "ok", cutoff, lo, hi

    marker, cutoff, lo, hi = _SESSION_SPLIT_MEMO.get_or_build((), ev, build)
    if marker is None:
        return None, 0, None, None
    return ev, cutoff, lo, hi


def _run_session_rounds(spark: SparkSession, ev, cutoff: int, hi: int,
                        native: bool):
    """Stage the time-split rounds and drive the sessionizer (stateful
    pandas or native session_window) through two availableNow runs
    against ONE checkpoint (one run when the cutoff is the last event
    time); returns the emitted rows as an ordered,
    localCheckpointed DataFrame (user_id, start_us, end_us, n_events)
    — or None when zero micro-batches ran. Retry-idempotent: each
    batch overwrites its own batch=<id> parquet dir in the sink."""
    from power_generation_etl_spark.streaming.stateful import (
        sessionize,
        sessionize_native,
    )

    cols = ["ts", "user_id", "value"]
    r1 = ev.filter(F.col("t_us") <= cutoff).select(*cols)
    r2 = ev.filter(F.col("t_us") > cutoff).select(*cols) if cutoff < hi else None
    with stream_dirs("sess") as d:
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            # Parquet per batch id (overwrite → retry-idempotent), NOT a
            # driver collect: the emitted set is row-scale (one row per
            # closed session), so localizing it through Python tuples
            # paid two full JVM↔Python marshallings per round (guide
            # §5). The rows stay in executor space end to end.
            out = batch_df.select(
                "user_id",
                F.unix_micros("session_start").alias("start_us"),
                (
                    F.unix_micros("session_end") - F.lit(_SESS_GAP_US)
                    if native
                    else F.unix_micros("session_end")
                ).alias("end_us"),
                "n_events",
            )
            out.write.mode("overwrite").parquet(
                os.path.join(d.store, f"batch={int(batch_id)}")
            )

        def _run(landing: str) -> None:
            stream = spark.readStream.schema(r1.schema).parquet(landing)
            op = sessionize_native if native else sessionize
            writer = op(stream, watermark="10 minutes").writeStream
            run_to_end(writer.outputMode("append").foreachBatch(_sink), d.ckpt)

        overlap_two_rounds(d, r1, r2, "parquet", _run)
        try:
            return (
                spark.read.parquet(d.store)
                .select("user_id", "start_us", "end_us", "n_events")
                .orderBy("user_id", "start_us", "end_us", "n_events")
                .localCheckpoint(eager=True)  # detach before the dir dies
            )
        except AnalysisException:  # zero batches wrote (empty mirror)
            return None


_SESS_SCHEMA_OUT = "user_id long, start_us long, end_us long, n_events long"


@_register("stream_sessions_stateful", _SESSION_ORACLE)
@stream_scoped
def stream_sessions_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState gap sessionizer under the exact
    oracle (r11 — `streaming/stateful.py::sessionize` was pytest-only,
    and its per-key arbitrary state is the surface most likely to
    harbor cross-batch bugs). Two ordered availableNow rounds against
    ONE checkpoint, split in TIME at the midpoint of a known
    multi-event session (so that session is provably assembled from
    state restored across the checkpoint); with a time split no row is
    watermark-late, so the emitted set must equal batch
    gap-sessionization restricted to watermark-closed sessions —
    exactly what the oracle computes. A state-merge bug (fused or split
    runs), a premature/late emission, a lost restore, or a
    timeout-anchoring bug (max-anchored timeouts strand an old closed
    session behind a newer open one) each changes the emitted set.

    Scale notes: state is O(open sessions per key); the watermark both
    bounds it and drives emission — the property that lets per-key
    custom state run at 100 TB. The Python worker is per-GROUP Arrow
    batches (sanctioned applyInPandasWithState), not per-row UDFs."""
    ev, cutoff, lo, hi = _session_round_split(spark, sf_dir)
    if ev is None:
        return local_frame(spark, [], _SESS_SCHEMA_OUT)
    emitted = _run_session_rounds(spark, ev, cutoff, hi, native=False)
    if emitted is None:
        return local_frame(spark, [], _SESS_SCHEMA_OUT)
    return emitted


@_register("stream_sessions_native", _SESSION_ORACLE)
@stream_scoped
def stream_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation under the same exact
    oracle and two-round protocol as the stateful twin — the two
    entries share one SQL, so they are also pinned equal to EACH OTHER
    (a drift between the built-in session store and the custom pandas
    state breaks one of them). session_window reports end = last event
    + gap; the entry subtracts the gap so both twins emit the last
    event time."""
    ev, cutoff, lo, hi = _session_round_split(spark, sf_dir)
    if ev is None:
        return local_frame(spark, [], _SESS_SCHEMA_OUT)
    emitted = _run_session_rounds(spark, ev, cutoff, hi, native=True)
    if emitted is None:
        return local_frame(spark, [], _SESS_SCHEMA_OUT)
    return emitted


_TR_TTL_MS = 60 * 60 * 1000  # the operator's idle TTL
_TR_DELAY_MS = 600_000


@_register(
    "stream_transition_totals",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
               FROM events),
    c AS (SELECT (min(t) + max(t)) // 2 AS cut FROM e),
    m1 AS (SELECT max(t) AS m FROM e, c WHERE t <= c.cut),
    p AS (SELECT user_id, event_type AS to_type, t,
                 lag(event_type) OVER win AS from_type,
                 lag(t) OVER win AS pt
          FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id))
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
    FROM p, c, m1
    WHERE pt IS NOT NULL
      AND (NOT (pt <= c.cut AND t > c.cut)
           OR (pt // 1000) + {_TR_TTL_MS} >= (m1.m // 1000) - {_TR_DELAY_MS})
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
@stream_scoped
def stream_transition_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-batch Markov transition counter under the exact oracle
    (r11 — `streaming/stateful.py::stream_transition_counts` was
    pytest-only). Events split in TIME at the SQL-expressible corpus
    midpoint ((min+max)//2 epoch µs) and fed in two availableNow rounds
    against one checkpoint; the per-user single-row state carries the
    boundary (last-round-1 → first-round-2) transition — UNLESS the
    user was idle >TTL of event time, in which case the round-1 no-data
    batch's event-time timeout (fires when watermark > max(0-batch
    watermark, last_ms) + TTL, i.e. iff last_ms + TTL < m1_ms − delay)
    expired the state, dropping exactly that user's boundary pair. The
    oracle unrolls this: all consecutive (ts, event_id)-ordered pairs,
    minus cutoff-straddling pairs of timed-out users. Probed at the 3
    SFs: both fates occur (survivors 1/9/133, dropped 14/141/1367) and
    no user ties the TTL boundary — and the predicate is exact integer
    algebra mirrored on both engines regardless. A double-counted or
    lost boundary, a wrong sort tie-break, or a timeout drift each
    shifts the counts.

    Scale notes: state is ONE row per active user, expired by event
    time; per batch the sink folds the per-user partials into
    O(types²) totals."""
    from power_generation_etl_spark.streaming.stateful import (
        stream_transition_counts,
    )

    ev = T(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_micros(ntz_epoch_us(F.col("ts"))).alias("ts"),
        "user_id",
        "event_type",
    ).withColumn("t_us", F.unix_micros("ts"))
    lo, hi = ev.agg(F.min("t_us"), F.max("t_us")).first()
    out_schema = "from_type string, to_type string, n_transitions long"
    if lo is None:
        return local_frame(spark, [], out_schema)
    cutoff = (lo + hi) // 2
    cols = ["event_id", "ts", "user_id", "event_type"]
    r1 = ev.filter(F.col("t_us") <= cutoff).select(*cols)
    r2 = ev.filter(F.col("t_us") > cutoff).select(*cols) if cutoff < hi else None
    sink, batches = _collect_batches(
        lambda b: b.groupBy("from_type", "to_type").agg(
            F.sum("n_transitions").cast("bigint").alias("n")
        )
    )
    with stream_dirs("trans") as d:
        def _run(landing: str) -> None:
            counts = stream_transition_counts(
                spark.readStream.schema(r1.schema).parquet(landing),
                watermark="10 minutes",
            ).writeStream.outputMode("append")
            run_to_end(counts.foreachBatch(sink), d.ckpt)

        overlap_two_rounds(d, r1, r2, "parquet", _run)
    totals: dict = {}
    for rows in batches.values():
        for f, t, n in rows:
            totals[(f, t)] = totals.get((f, t), 0) + int(n)
    return local_frame(
        spark,
        sorted(((f, t, n) for (f, t), n in totals.items()), key=_spark_order),
        out_schema,
    )


_QS_K = 16
_QS_PCTS = [50, 90]
_QS_SCALE = 10000

from power_generation_etl_spark.operators import sketch as _sk  # noqa: E402


@_register(
    "stream_quantile_store",
    _sk.bottomk_quantile_oracle_sql(
        "events",
        "event_type",
        "event_id",
        "value",
        k=_QS_K,
        percents=_QS_PCTS,
        value_scale=_QS_SCALE,
    ),
)
@stream_scoped
def stream_quantile_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming bottom-k quantile-sketch STORE under the exact
    oracle (r11) — the quantile member of the sketch-store family
    (KMV / MG / HLL, all r10). events' (event_type, event_id, value)
    rows are staged as JSON in two halves (split by a hash of
    event_id) and fed in TWO ordered availableNow rounds against ONE
    checkpoint; each micro-batch keeps its per-type k smallest-key-hash
    rows and MERGES them into the persisted `qs_v<batch>` store, which
    re-truncates to k. Bottom-k is a MERGEABLE summary — sample
    membership is a pure function of the key set — so the final store
    must equal the batch sketch over all events regardless of the
    split, which is exactly what the oracle computes from raw events
    (k smallest 48-bit event_id hashes per type, type-1 quantiles of
    the retained values). A merge bug (lost version, double-merge,
    wrong truncation order) changes the retained set and breaks the
    value hash.

    Scale notes: store state is O(event_types × k) forever; per batch
    one distinct + one window over (tiny store ∪ batch bottom-k)."""
    from power_generation_etl_spark.streaming.ingest import (
        quantiles_from_store,
        stream_bottomk_sample,
    )

    ev = T(spark, sf_dir, "events")
    r1, r2 = hash_halves(ev, "event_id", "event_type", "event_id", "value")
    out_schema = "grp string, n_sample long, " + ", ".join(
        f"p{p} long" for p in _QS_PCTS
    )
    with stream_dirs("qs") as d:
        def _run(landing: str) -> None:
            stream_bottomk_sample(
                spark, landing, d.store, d.ckpt,
                group_col="event_type", key_col="event_id", value_col="value",
                schema="event_type string, event_id long, value double",
                k=_QS_K,
            )

        # round 1 seeds qs_v0; round 2 MERGES v0 + new
        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            rows = quantiles_from_store(
                spark, d.store, _QS_PCTS, value_scale=_QS_SCALE
            ).collect()
        except ValueError:  # empty corpus: zero batches, no store
            rows = []
    return local_frame(spark, rows, out_schema)


_IVF_CELLS = 8

_IVF_D2 = (
    "list_aggregate(list_transform(range(1, len(v.e) + 1),"
    " i -> (v.e[i] - c.cv[i]) * (v.e[i] - c.cv[i])), 'sum')"
)


@_register(
    "stream_ivf_ingest_cells",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS cv
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {_IVF_CELLS})
    ),
    a AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_IVF_D2}, c.cell) AS rn
        FROM v, c0 c) WHERE rn = 1
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(vec_id) AS BIGINT) AS vecid_sum
    FROM a GROUP BY cell ORDER BY cell
    """,
)
@stream_scoped
def stream_ivf_ingest_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector ingestion into an IVF index under the exact
    oracle (r11): embeddings are staged as JSON in two halves (split
    by a hash of vec_id) and fed in TWO ordered availableNow rounds
    against ONE checkpoint; each micro-batch assigns its vectors to
    the nearest of 8 FIXED coarse centroids (the first 8 embeddings by
    vec_id — the same deterministic seeds as the k-means oracles' c0)
    with the exact sequential-fold distance kernel, and appends
    (cell, id) postings shards. The oracle restates the assignment
    from raw embeddings alone (nearest-c0 by squared L2, ties to the
    lowest cell), so a drifted distance fold, a lost shard, or a
    double-ingested batch breaks the per-cell count/checksum.

    Scale notes: postings are the index (O(N) by design, partitioned
    by cell at 100 TB → probing is a partition-pruned scan); per batch
    the work is one narrow projection (assignment is a driver-constant
    expression — no join, no shuffle) + one shard write."""
    from power_generation_etl_spark.operators.similarity import as_double_array
    from power_generation_etl_spark.streaming.ingest import (
        ivf_cells_from_store,
        stream_ivf_ingest,
    )

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("embedding")
    )
    seeds = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(emb.orderBy("vec_id").limit(_IVF_CELLS).collect())
    ]
    out_schema = "cell int, n_vectors long, vecid_sum long"
    if not seeds:  # empty corpus: no centroids, stable-schema empty
        return local_frame(spark, [], out_schema)
    r1, r2 = hash_halves(emb, "vec_id")
    with stream_dirs("ivf") as d:
        def _run(landing: str) -> None:
            stream_ivf_ingest(
                spark, landing, d.store, d.ckpt,
                id_col="vec_id", vec_col="embedding",
                centroids=seeds, schema="vec_id long, embedding array<double>",
            )

        # round 1 shards ivf_b0; round 2 appends ivf_b1
        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            rows = ivf_cells_from_store(spark, d.store).collect()
        except ValueError:  # zero batches (shouldn't happen: seeds exist)
            rows = []
    return local_frame(spark, rows, out_schema)


def _stream_exp_suite():
    from power_generation_etl_spark.operators.expectations import Suite

    # The mergeable subset of the batch expectations_orders suite
    # (uniqueness is batch-only: count-distinct does not merge), same
    # bands — including the deliberately failing urgent-majority check.
    return (
        Suite()
        .size_at_least(1)
        .completeness("o_custkey")
        .values_in("o_orderstatus", ["O", "F", "P"])
        .min_scaled_between("o_totalprice", 0, 1 << 62, scale=100)
        .max_scaled_between("o_totalprice", 0, 60_000_000, scale=100)
        .mean_scaled_between("o_totalprice", 10_000, 60_000_000, scale=100)
        .satisfies(
            "urgent_majority",
            "o_orderpriority = '1-URGENT'",
            at_least_ppm=500_000,
        )
    )


@_register("stream_expectations_orders", _stream_exp_suite().oracle_sql("orders"))
@stream_scoped
def stream_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming expectations MONITOR under the exact oracle
    (r11): orders staged as JSON halves (split by a hash of
    o_orderkey) and fed in TWO ordered availableNow rounds against ONE
    checkpoint; each micro-batch reduces to one partial-metrics row
    (counts/sums/extrema — every slot mergeable by construction) and
    merges into the versioned one-row `qx_v<batch>` store. Because the
    slot algebra is commutative/associative, the final report must
    equal the batch suite over ALL orders — which is exactly what the
    generated oracle computes from the raw table. A lost version,
    double-merged batch, or a slot merged with the wrong op (min vs
    sum) shifts a metric and breaks the value hash.

    Scale notes: per batch ONE map-side aggregate row crosses the
    wire; the store is O(slots) forever — continuous Deequ-style
    quality gating at stream speed."""
    from power_generation_etl_spark.streaming.ingest import (
        expectations_from_store,
        stream_expectations,
    )

    suite = _stream_exp_suite()
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    o = T(spark, sf_dir, "orders").select(*cols)
    r1, r2 = hash_halves(o, "o_orderkey")
    schema = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderpriority string")
    out_schema = "check_name string, metric long, passed int"
    with stream_dirs("qx") as d:
        def _run(landing: str) -> None:
            stream_expectations(spark, landing, d.store, d.ckpt, suite, schema)

        # round 1 seeds qx_v0; round 2 MERGES v0 + new
        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            rows = expectations_from_store(spark, d.store, suite).collect()
        except ValueError:  # empty corpus: zero batches, no store
            rows = []
    return local_frame(spark, rows, out_schema)


@_register(
    "stream_static_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY segment, event_type
    """,
)
@stream_scoped
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join under the exact oracle — the one
    core Structured Streaming join shape the catalog did not yet
    exercise (stream-STREAM interval join: `stream_interval_join_pairs`;
    this is the stream × dimension-table lookup every production intake
    runs). A file-source stream of events inner-joins the STATIC
    customer dimension on user_id = c_custkey, then aggregates
    (segment, event_type) counts + exact floor-cents value sums in
    COMPLETE mode to a `foreachBatch` sink, trigger=availableNow.

    Why oracle-exact: stream-static inner joins are STATELESS — each
    micro-batch joins against the same static snapshot, so the joined
    row multiset is independent of the micro-batch split, and complete
    mode re-emits full aggregation state, so the last micro-batch's
    rows equal the batch join + GROUP BY the oracle computes.

    Scale notes: the static side is projected to 2 columns before the
    join and left UNHINTED — customer is sf-proportional, so a hard
    broadcast() would OOM at large sf (the design rule in
    plans/queries.py); Spark plans a per-batch broadcast only while
    the dim fits the auto threshold, else a shuffled join. State is
    only the (segments × types)-bounded aggregation, whose rows are
    sorted on the driver with the hourly entry's key. Mirrors the
    reference's crosswalk enrichment joins (src/database.py drift
    report) in streaming form."""
    sink, batches = _collect_batches(lambda b: b)
    dim = (
        T(spark, sf_dir, "customer")
        .select(F.col("c_custkey"), F.col("c_mktsegment").alias("segment"))
    )
    with stream_dirs("stream_enrich") as d:
        link_data_files(f"{sf_dir}/events.parquet", d.landing, "c0")
        joined = _stream_events(spark, sf_dir, d.landing).join(
            dim, F.col("user_id") == F.col("c_custkey"), "inner"
        )
        agg = joined.groupBy("segment", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100).cast("long")
            ).alias("sum_cents"),
        )
        run_to_end(agg.writeStream.outputMode("complete").foreachBatch(sink), d.ckpt)
    rows = sorted(_last_batch(batches), key=_spark_order)
    return local_frame(
        spark, rows, "segment string, event_type string, n_events long, sum_cents long"
    )

"""Temporal-operator catalog queries over `events` — as-of join,
gap sessionization, bucketed range join (operators/temporal.py), each
with a DuckDB oracle (DuckDB has native ASOF JOIN; the others are
window / range-join SQL).

Timestamps: all three queries work in exact epoch-microsecond bigints.
When `events.ts` is raw int64 nanos the derivation is pure integer
division (`ts div 1000` ↔ DuckDB `epoch_us(ts)`). When the driver wrote
µs TIMESTAMP_NTZ instead, `T_events_us` derives the as-UTC epoch with
timezone-free FIELD arithmetic on the naive value (unix_date + h/m/s +
µs fraction), so the result matches DuckDB `epoch_us` exactly in any
session timezone — no instant cast, no DST hazard, and no session-conf
mutation as a query-building side effect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from power_generation_etl_spark.operators import temporal as tmp
from power_generation_etl_spark.plans.queries import _register, ntz_epoch_us, read_input

GAP_US = 30 * 60 * 1_000_000  # 30 min session gap / follow-up window


def T_events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` with `ts_us` (exact epoch-µs bigint) instead of the
    nanos timestamp — integer division, never float (µs at 1e15 exceed
    double's exact range only at ns precision)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_input(spark, f"{sf_dir}/events.parquet")
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts_us", F.expr("ts div 1000")).drop("ts")
    if dt == "timestamp_ntz":
        # Naive wall-clock (µs parquet). DuckDB's epoch_us treats the
        # wall value as UTC; the shared field-arithmetic helper derives
        # the same epoch without ever casting through an instant (see
        # its docstring for the DST hazard that rules the cast out).
        return df.withColumn("ts_us", ntz_epoch_us(F.col("ts"))).drop("ts")
    return df.withColumn("ts_us", F.unix_micros("ts")).drop("ts")


@_register(
    "asof_clicks_errors",
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
               FROM events),
    c AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'),
    r AS (SELECT user_id, ts_us AS err_ts_us, round(value, 2) AS err_value
          FROM e WHERE event_type = 'error')
    SELECT c.event_id, c.user_id, c.ts_us, r.err_value, r.err_ts_us
    FROM c ASOF LEFT JOIN r
      ON c.user_id = r.user_id AND c.ts_us >= r.err_ts_us
    ORDER BY c.event_id
    """,
)
def asof_clicks_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click picks up the most recent prior
    error's value for the same user. Oracle is DuckDB's native ASOF
    JOIN; the Spark side is the union+ordered-window formulation
    (operators/temporal.py::asof_join — one shuffle on the key)."""
    ev = T_events_us(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts_us").alias("err_ts_us"),
        F.round("value", 2).alias("err_value"),
    )
    joined = tmp.asof_join(
        clicks, errors, on="user_id", left_ts="ts_us", right_ts="err_ts_us",
        payload_cols=["err_value"],
    )
    return joined.select(
        "event_id", "user_id", "ts_us", "err_value",
        F.col("_matched_ts").alias("err_ts_us"),
    ).orderBy("event_id")


@_register(
    "sessionized_events",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
    m AS (
      SELECT user_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > {GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    s AS (
      SELECT user_id, ts_us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                                   ROWS UNBOUNDED PRECEDING) - 1
                  AS BIGINT) AS session_id
      FROM m
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts_us) AS start_us,
           max(ts_us) AS end_us
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) + per-session rollup —
    batch twin of the streaming sessionizer. One window shuffle on
    user_id (operators/temporal.py::sessionize; ts/gap unit-agnostic,
    here µs)."""
    ev = T_events_us(spark, sf_dir).select("user_id", "ts_us")
    s = tmp.sessionize(ev, key="user_id", ts="ts_us", gap_sec=GAP_US)
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
        .orderBy("user_id", "session_id")
    )


@_register(
    "range_join_error_clicks",
    f"""
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
               FROM events),
    err AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'error'),
    c AS (SELECT user_id, ts_us AS click_ts_us FROM e WHERE event_type = 'click')
    SELECT err.event_id, count(*) AS n_followups
    FROM err JOIN c
      ON err.user_id = c.user_id
     AND c.click_ts_us > err.ts_us
     AND c.click_ts_us <= err.ts_us + {GAP_US}
    GROUP BY err.event_id
    ORDER BY err.event_id
    """,
)
def range_join_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within 30 min after each error, counted per error — the
    bucketed (equi-joinable) range join: each probe row explodes to ≤2
    window-width buckets so Catalyst plans a hash join, with an exact
    range re-filter (operators/temporal.py::bucketed_range_join). The
    oracle is the naive range join, fine at oracle SF."""
    ev = T_events_us(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("click_ts_us")
    )
    j = tmp.bucketed_range_join(
        errors, clicks, on="user_id", probe_ts="ts_us", build_ts="click_ts_us",
        window_sec=GAP_US,
    )
    return (
        j.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_followups"))
        .orderBy("event_id")
    )


HOP_US = 10 * 60 * 1_000_000  # 10-min hop
WIN_US = 30 * 60 * 1_000_000  # 30-min window (3 hops)


@_register(
    "sliding_window_counts",
    f"""
    WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type FROM events),
    w AS (
      SELECT ((ts_us // {HOP_US}) - i.i) * {HOP_US} AS win_start_us, event_type
      FROM e, unnest([0, 1, 2]) AS i(i)
    )
    SELECT win_start_us, event_type, count(*) AS n_events
    FROM w GROUP BY 1, 2
    ORDER BY win_start_us, event_type
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows — 30-min windows every
    10 min via Spark's native `F.window`, which epoch-aligns window
    starts and fans each event into window/hop = 3 rows before one hash
    aggregation (the batch twin of the streaming windowed rollup). The
    oracle unrolls the same 3 hop offsets with integer arithmetic on
    epoch-µs, so values compare exactly."""
    ev = T_events_us(spark, sf_dir).select("ts_us", "event_type")
    win = F.window(
        F.timestamp_micros(F.col("ts_us")), "30 minutes", "10 minutes"
    )
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            F.col("n_events"),
        )
        .orderBy("win_start_us", "event_type")
    )


# ---------------------------------------------------------------------------
# OHLC resampling: 5-minute open/high/low/close bars per event type —
# the classic time-series downsampling operator. Open/close are
# deterministic (ties broken on event_id); values pass through with no
# float arithmetic, so both engines agree exactly. One shuffle on
# (event_type, bucket); the two row_number orders share it. The bucket
# label is rebuilt from pure integer arithmetic on the bucket index —
# timezone-free in any session.
# ---------------------------------------------------------------------------

_BAR_US = 5 * 60 * 1_000_000
_DAY_US_T = 86_400_000_000


@_register(
    "ohlc_5min_bars",
    f"""
    WITH ev AS (
        SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events
    ),
    b AS (
        SELECT event_type, ts_us // {_BAR_US} AS bucket, ts_us, event_id, value
        FROM ev
    ),
    r AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, bucket
                                  ORDER BY ts_us, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, bucket
                                  ORDER BY ts_us DESC, event_id DESC) AS rn_d
        FROM b
    )
    SELECT event_type,
           strftime(DATE '1970-01-01'
                    + CAST((bucket * {_BAR_US}) // {_DAY_US_T} AS INTEGER),
                    '%Y-%m-%d')
           || ' '
           || lpad(CAST(((bucket * {_BAR_US}) % {_DAY_US_T}) // 3600000000
                        AS VARCHAR), 2, '0')
           || ':'
           || lpad(CAST((((bucket * {_BAR_US}) % {_DAY_US_T}) % 3600000000)
                        // 60000000 AS VARCHAR), 2, '0') AS bucket_start,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def ohlc_5min_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = T_events_us(spark, sf_dir).select(
        "event_type",
        F.expr(f"ts_us div {_BAR_US}").alias("bucket"),
        "ts_us",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("event_type", "bucket").orderBy("ts_us", "event_id")
    wd = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    r = ev.select(
        "*",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    day = F.expr(f"(bucket * {_BAR_US}) div {_DAY_US_T}").cast("int")
    hh = F.expr(f"((bucket * {_BAR_US}) % {_DAY_US_T}) div 3600000000")
    mm = F.expr(
        f"(((bucket * {_BAR_US}) % {_DAY_US_T}) % 3600000000) div 60000000"
    )
    label = F.concat(
        F.date_format(F.date_add(F.lit("1970-01-01").cast("date"), day), "yyyy-MM-dd"),
        F.lit(" "),
        F.lpad(hh.cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(mm.cast("string"), 2, "0"),
    )
    return (
        r.groupBy("event_type", "bucket")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            label.alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
        .orderBy("event_type", "bucket_start")
    )


# ---------------------------------------------------------------------------
# Inter-event-gap magnitude histogram: think-time distribution per
# user, bucketed by decimal order of magnitude (digit count of the µs
# gap — an integer-only stand-in for a log histogram, so the bucket
# boundaries are bit-identical across engines). One lag window + one
# hash agg.
# ---------------------------------------------------------------------------


@_register(
    "event_gap_magnitude_hist",
    """
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ),
    gaps AS (
        SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id) AS gap_us
        FROM ev
    )
    SELECT CAST(length(CAST(gap_us AS VARCHAR)) AS INTEGER) AS gap_digits,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY gap_digits
    ORDER BY gap_digits
    """,
)
def event_gap_magnitude_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = T_events_us(spark, sf_dir).select("user_id", "ts_us", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = ev.select(
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return (
        gaps.select(
            F.length(F.col("gap_us").cast("string")).cast("int").alias("gap_digits")
        )
        .groupBy("gap_digits")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .orderBy("gap_digits")
    )


# ---------------------------------------------------------------------------
# Interval merge (coalesce overlapping intervals per key) — the classic
# coverage problem: each event opens a 30-minute activity interval;
# overlapping/touching intervals merge into islands via a running max of
# interval ends (one window shuffle on the key, no self-join). Exact
# integer microseconds throughout. At 100 TB this is the same single
# window pass per key as sessionization — no pairwise interval joins.
# ---------------------------------------------------------------------------


@_register(
    "merged_user_intervals",
    f"""
    WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s_us,
               epoch_us(ts) + {GAP_US} AS e_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, s_us, e_us,
               CASE WHEN max(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) >= s_us THEN 0 ELSE 1 END AS new_iv
        FROM iv
    ),
    islands AS (
        SELECT user_id, s_us, e_us,
               CAST(sum(new_iv) OVER (
                   PARTITION BY user_id ORDER BY s_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS island
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island,
               CAST(count(*) AS BIGINT) AS n_events,
               max(e_us) - min(s_us) AS covered
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(covered) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    ORDER BY user_id
    """,
)
def merged_user_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    iv = T_events_us(spark, sf_dir).select(
        "user_id",
        F.col("ts_us").alias("s_us"),
        (F.col("ts_us") + GAP_US).alias("e_us"),
    )
    w = Window.partitionBy("user_id").orderBy("s_us")
    prev_end = F.max("e_us").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_iv", F.when(prev_end >= F.col("s_us"), F.lit(0)).otherwise(F.lit(1))
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_iv").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("e_us") - F.min("s_us")).alias("covered"),
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("covered").cast("bigint").alias("covered_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# LOCF gap-fill (last observation carried forward): the dense day ×
# event-type spine with missing daily totals filled from the most
# recent observed day — Spark `last(ignorenulls)` ↔ DuckDB
# `last_value(... IGNORE NULLS)`, one window pass over the spine.
# Days before the first observation stay NULL (no value to carry).
# Integer cents, timezone-free day indexes.
# ---------------------------------------------------------------------------


@_register(
    "locf_daily_value",
    """
    WITH ev AS (
        SELECT epoch_us(ts) // 86400000000 AS d, event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    daily AS (
        SELECT d, event_type, CAST(sum(cents) AS BIGINT) AS day_cents
        FROM ev GROUP BY d, event_type
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds),
    types AS (SELECT DISTINCT event_type FROM ev),
    grid AS (
        SELECT s.d, t.event_type, daily.day_cents
        FROM spine s CROSS JOIN types t
        LEFT JOIN daily ON daily.d = s.d AND daily.event_type = t.event_type
    )
    SELECT strftime(DATE '1970-01-01' + CAST(d AS INTEGER), '%Y-%m-%d') AS day,
           event_type,
           day_cents,
           last_value(day_cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_cents
    FROM grid
    ORDER BY day, event_type
    """,
)
def locf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    day_us = 86_400_000_000
    ev = T_events_us(spark, sf_dir).select(
        F.expr(f"ts_us div {day_us}").alias("d"),
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    daily = ev.groupBy("d", "event_type").agg(
        F.sum("cents").cast("bigint").alias("day_cents")
    )
    spine = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types)).join(
        daily, ["d", "event_type"], "left"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "event_type",
        "day_cents",
        F.last("day_cents", ignorenulls=True).over(w).alias("filled_cents"),
    ).orderBy("day", "event_type")


# ---------------------------------------------------------------------------
# EWMA smoothing with integer literal weights: exponential decay
# a=0.5 truncated at 7 taps and scaled to percent ([50,25,13,6,3,2,1])
# so the smoothed series is an exact integer convolution over the
# zero-filled daily spine — float pow() chains would drift between
# engines; a fixed integer kernel cannot. One window shuffle on
# event_type; missing days contribute 0 (spine-filled), so the kernel
# always sees 7 aligned taps.
# ---------------------------------------------------------------------------

_EWMA_W = [50, 25, 13, 6, 3, 2, 1]  # percent weights, a≈0.5, 7 taps


@_register(
    "ewma_daily_value",
    f"""
    WITH ev AS (
        SELECT epoch_us(ts) // 86400000000 AS d, event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    daily AS (
        SELECT d, event_type, CAST(sum(cents) AS BIGINT) AS day_cents
        FROM ev GROUP BY d, event_type
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds),
    types AS (SELECT DISTINCT event_type FROM ev),
    grid AS (
        SELECT s.d, t.event_type, coalesce(daily.day_cents, 0) AS day_cents
        FROM spine s CROSS JOIN types t
        LEFT JOIN daily ON daily.d = s.d AND daily.event_type = t.event_type
    )
    SELECT strftime(DATE '1970-01-01' + CAST(d AS INTEGER), '%Y-%m-%d') AS day,
           event_type, day_cents,
           CAST({" + ".join(
               f"{w} * coalesce(lag(day_cents, {i}) OVER "
               f"(PARTITION BY event_type ORDER BY d), 0)"
               for i, w in enumerate(_EWMA_W)
           )} AS BIGINT) AS ewma_cents_x100
    FROM grid
    ORDER BY day, event_type
    """,
)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    day_us = 86_400_000_000
    ev = T_events_us(spark, sf_dir).select(
        F.expr(f"ts_us div {day_us}").alias("d"),
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    daily = ev.groupBy("d", "event_type").agg(
        F.sum("cents").cast("bigint").alias("day_cents")
    )
    spine = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    types = ev.select("event_type").distinct()
    grid = (
        spine.crossJoin(F.broadcast(types))
        .join(daily, ["d", "event_type"], "left")
        .withColumn("day_cents", F.coalesce(F.col("day_cents"), F.lit(0)))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    ewma = None
    for i, wt in enumerate(_EWMA_W):
        term = wt * F.coalesce(F.lag("day_cents", i).over(w), F.lit(0))
        ewma = term if ewma is None else ewma + term
    return grid.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "event_type",
        "day_cents",
        ewma.cast("bigint").alias("ewma_cents_x100"),
    ).orderBy("day", "event_type")


# ---------------------------------------------------------------------------
# Session-duration distribution: sessionize, then summarize session
# lengths with exact positional statistics — median on DOUBLED integer
# microseconds (even-count interpolation stays integral) and p90 by
# explicit rank selection (row_number = ceil(0.9·n), deterministic
# (duration, user, session) tiebreak) instead of an interpolating
# quantile whose fractional arithmetic differs between engines.
# ---------------------------------------------------------------------------


@_register(
    "session_duration_stats",
    f"""
    WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
    s AS (
        SELECT user_id, ts_us,
               CAST(sum(CASE WHEN prev IS NULL
                             OR ts_us - prev > {GAP_US} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - 1 AS session_id
        FROM (
            SELECT user_id, ts_us,
                   lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
            FROM ev
        )
    ),
    sess AS (
        SELECT user_id, session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               (max(ts_us) - min(ts_us)) * 2 AS dur2
        FROM s GROUP BY user_id, session_id
    ),
    ranked AS (
        SELECT dur2, row_number() OVER (ORDER BY dur2, user_id, session_id)
               AS rn, CAST(count(*) OVER () AS BIGINT) AS n
        FROM sess
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM sess) AS n_sessions,
           (SELECT CAST(count(*) FILTER (n_events = 1) AS BIGINT) FROM sess)
               AS single_event_sessions,
           (SELECT CAST(sum(n_events) AS BIGINT) FROM sess) AS n_events,
           (SELECT CAST(median(dur2) AS BIGINT) FROM sess) AS median_dur2_us,
           (SELECT dur2 FROM ranked WHERE rn = (9 * n + 9) // 10)
               AS p90_dur2_us
    """,
)
def session_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = T_events_us(spark, sf_dir).select("user_id", "ts_us")
    s = tmp.sessionize(ev, key="user_id", ts="ts_us", gap_sec=GAP_US)
    sess = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.max("ts_us") - F.min("ts_us")) * 2).alias("dur2"),
    )
    # Distributed two-pass rank (operators/rank.py) instead of an
    # unpartitioned row_number + COUNT() OVER () — sessions are
    # row-scale (O(users × days)), a global window would single-
    # partition them.
    from power_generation_etl_spark.operators import rank as rk

    ranked = rk.with_global_rank(
        sess.select("dur2", "user_id", "session_id"),
        [F.col("dur2"), F.col("user_id"), F.col("session_id")],
        rank_col="rn",
        total_col="n",
    )
    # Single-row aggregate (not a filter): on an empty events table the
    # filter form would emit 0 rows and the crossJoin would erase the
    # stats row, while the oracle's scalar subqueries yield one row of
    # NULLs — the agg form returns exactly one row in both cases.
    p90 = ranked.agg(
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("dur2"))
        ).alias("p90_dur2_us")
    )
    stats = sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_if(F.col("n_events") == 1).alias("single_event_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.median("dur2").cast("bigint").alias("median_dur2_us"),
    )
    return stats.crossJoin(p90)


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP): each event's value holds until the
# type's next event; the average weights each value by its holding
# duration — Σ(cents·dur_us) div Σ(dur_us), all exact bigints (fits
# int64 up to ~sf100; beyond that pre-scale durations to ms). One
# window shuffle per type; the final divide is integer truncation.
# ---------------------------------------------------------------------------


@_register(
    "twap_by_type",
    """
    WITH e AS (
        SELECT event_type, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    held AS (
        SELECT event_type, cents,
               lead(ts_us) OVER (PARTITION BY event_type
                                 ORDER BY ts_us, event_id) - ts_us AS dur_us
        FROM e
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_held,
           CAST(sum(dur_us) AS BIGINT) AS total_us,
           CAST(sum(cents * dur_us) // sum(dur_us) AS BIGINT) AS twap_cents
    FROM held WHERE dur_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def twap_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = (
        T_events_us(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            "ts_us",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    held = e.select(
        "event_type",
        "cents",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    return (
        held.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_held"),
            F.sum("dur_us").cast("bigint").alias("total_us"),
            F.expr("CAST(sum(cents * dur_us) div sum(dur_us) AS BIGINT)").alias(
                "twap_cents"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# M4 downsampling (r11 fourth wave) — the width-bounded visualization
# aggregation of Jugel et al. (VLDB'14, the operator Grafana/
# Timescale-style dashboards push down): per (series, pixel-bucket),
# keep first / last / min / max so the rendered line's envelope is
# pixel-exact while the result is O(buckets), not O(rows). Buckets are
# calendar days (epoch-day of the exact µs timestamp — integer div,
# tz-free); values are floor-cents; first/last tie-break on
# (ts_us, event_id) via the min/max(struct(...)) argmin idiom the
# DuckDB twin restates as ranked windows (no tuple-ordered min_by in
# DuckDB). One hash aggregation; every aggregate is map-side partial.
# ---------------------------------------------------------------------------


@_register(
    "m4_downsample_events",
    """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS ts_us, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT event_type, ts_us // 86400000000 AS day, ts_us, event_id, cents,
             row_number() OVER (PARTITION BY event_type, ts_us // 86400000000
                                ORDER BY ts_us, event_id) AS rf,
             row_number() OVER (PARTITION BY event_type, ts_us // 86400000000
                                ORDER BY ts_us DESC, event_id DESC) AS rl
      FROM e
    )
    SELECT event_type, CAST(day AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(CASE WHEN rf = 1 THEN cents END) AS BIGINT) AS first_cents,
           CAST(min(CASE WHEN rl = 1 THEN cents END) AS BIGINT) AS last_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM b
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def m4_downsample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        T_events_us(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "ts_us",
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            F.expr("ts_us div 86400000000").alias("day"),
        )
    )
    return (
        e.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min(F.struct("ts_us", "event_id", "cents"))["cents"].alias(
                "first_cents"
            ),
            F.max(F.struct("ts_us", "event_id", "cents"))["cents"].alias(
                "last_cents"
            ),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("event_type", "day")
    )

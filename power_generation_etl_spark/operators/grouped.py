"""Grouped-map Pandas operators (`applyInPandas`) — the per-group
custom-kernel API surface.

`mapInPandas` (media decode), `@pandas_udf` scalar kernels, and
`applyInPandasWithState` (streaming sessionization) are covered
elsewhere; this module covers the remaining sanctioned custom-operator
mechanism: DataFrame.groupBy(...).applyInPandas(fn, schema), where
each GROUP arrives as one pandas DataFrame and the kernel may run
arbitrary order-sensitive / iterative numpy code that plain SQL
windows can't express cleanly.

Scale contract (the part that matters at 100 TB): a grouped-map kernel
materializes the ENTIRE group in one Python worker's memory, and the
Python invocation itself costs ~1 ms per group (two Arrow→pandas frame
constructions + one pandas frame back). Grouping directly by a
high-cardinality key therefore pays that millisecond PER KEY — the r11
optimization round measured the per-user cogroup at 15k keys spending
19 s in per-key overhead for <1 s of real work. Both operators here
instead group by a DETERMINISTIC HASH BUCKET of the key
(`pmod(xxhash64(key), n_buckets)`) and run a VECTORIZED numpy/pandas
kernel over every key in the bucket at once: the Python boundary is
crossed `n_buckets` times instead of `n_keys` times, and the per-key
logic runs through pandas groupby / numpy reduceat at native speed.
`n_buckets` defaults to 4× the cluster parallelism (enough buckets
that AQE-less grouped-map stages still balance); production tunes it
so rows-per-bucket fits a worker (the same bounded-group contract as
before, now explicit). Bucketing never changes results: every row of a
key lands in exactly one bucket, and each kernel emits one row per key
it sees. The group columns are pruned to exactly what the kernel
reads, so only narrow rows cross the JVM→Arrow→pandas hop.

Everything emitted is INTEGER (floor-cents, doubled medians), so the
catalog entry sits under the exact DuckDB oracle — the same convention
as the rest of the repo's quantile/median surfaces.
"""

from __future__ import annotations

import os
from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..lineage import cut as _cut


def _n_buckets(df: DataFrame, n_buckets: int | None) -> int:
    if n_buckets is not None:
        return max(1, n_buckets)
    return max(1, df.sparkSession.sparkContext.defaultParallelism * 4)


def _bucket(col: str, n: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n))


# Hot-key routing threshold (r12, the skew cliff the r11 verdict
# flagged): bucketing spreads KEYS uniformly, but a single hot key (one
# user owning 10% of a zipf fact table) still lands every one of its
# rows in ONE bucket, and the grouped-map kernel then materializes that
# key's entire row set as one pandas frame in one Python worker — a
# memory cliff no n_buckets value can fix. Keys whose row count exceeds
# this threshold are therefore routed to an equivalent JVM plan
# (spill-safe aggregates/windows — identical emitted rows, pytest- and
# oracle-pinned) while every other key keeps the vectorized kernel.
# 2M rows ≈ a few hundred MB of pandas frame — comfortably inside a
# worker; raise/lower per deployment, <= 0 disables routing (pure
# kernel, the pre-r12 behavior). The detection pass is one map-side-
# combinable count per key feeding a broadcast (hot keys are FEW by
# definition), reused by both the anti (cold) and semi (hot) sides.
_HOTKEY_ENV = "SPARK_ETL_HOTKEY_THRESHOLD"
_HOTKEY_DEFAULT = 2_000_000


def _hot_threshold(hot_key_threshold: int | None) -> int | None:
    if hot_key_threshold is not None:
        return hot_key_threshold if hot_key_threshold > 0 else None
    env = os.environ.get(_HOTKEY_ENV)
    if env is not None:
        try:
            v = int(float(env))  # accept "2e6" / "2000000"
        except (ValueError, OverflowError):  # "abc", "nan" / "inf", "-inf"
            raise ValueError(
                f"{_HOTKEY_ENV}={env!r} is not a finite number; set a rows-per-key "
                "bound like 2000000 (or <=0 to disable hot-key routing)"
            ) from None
        return v if v > 0 else None
    return _HOTKEY_DEFAULT


def _sequence_profile_sql(
    narrow: DataFrame,
    key_col: str,
    order_cols: list[str],
    cents_col: str,
) -> DataFrame:
    """JVM twin of the `sequence_profile` kernel for hot keys — the
    same per-key outputs from spill-safe windows/aggregates (the
    gaps-and-islands formulation the oracle uses), so a key too big
    for one pandas frame degrades to Spark's sort/spill machinery
    instead of a Python-worker OOM. Bit-equality with the kernel is
    pytest-pinned."""
    w_val = Window.partitionBy(key_col).orderBy(cents_col)
    w_key = Window.partitionBy(key_col)
    w_ord = Window.partitionBy(key_col).orderBy(*order_cols)
    c = F.col(cents_col)
    ranked = narrow.select(
        key_col,
        *order_cols,
        c.alias("_c"),
        (F.row_number().over(w_val) - 1).alias("_r0"),
        F.count(F.lit(1)).over(w_key).alias("_n"),
        F.when(
            F.lag(c).over(w_ord).isNull() | (c <= F.lag(c).over(w_ord)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_brk"),
    )
    isl = ranked.withColumn(
        "_grp",
        F.sum("_brk").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # median2x = value at 0-based sorted index (n-1)//2 PLUS the value
    # at n//2 (equal indexes when n is odd → 2·mid), exactly the
    # kernel's sc[starts + (n_per-1)//2] + sc[starts + n_per//2].
    base = isl.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_c").alias("sum_cents"),
        F.sum(
            F.when(F.col("_r0") == F.expr("(_n - 1) div 2"), F.col("_c"))
            .otherwise(F.lit(0))
            + F.when(F.col("_r0") == F.expr("_n div 2"), F.col("_c"))
            .otherwise(F.lit(0))
        ).alias("median2x_cents"),
    )
    runs = (
        isl.groupBy(key_col, "_grp")
        .agg(F.count(F.lit(1)).alias("_len"))
        .groupBy(key_col)
        .agg(F.max("_len").cast("int").alias("longest_up_run"))
    )
    return base.join(runs, key_col).select(
        F.col(key_col).cast("long").alias(key_col),
        F.col("n_events").cast("long"),
        F.col("sum_cents").cast("long"),
        F.col("median2x_cents").cast("long"),
        "longest_up_run",
    )


def sequence_profile(
    df: DataFrame,
    key_col: str,
    order_cols: Iterable[str],
    cents_col: str,
    n_buckets: int | None = None,
    hot_key_threshold: int | None = None,
) -> DataFrame:
    """Per-key sequential profile of an integer series: count, exact
    sum, DOUBLED median (2·mid for odd n, lo+hi for even — stays in
    int64, no float), and the length of the longest strictly-increasing
    consecutive run in `order_cols` order.

    The run statistic is what earns the grouped-map form: it is a
    sequential scan over the ordered group (SQL needs a gaps-and-
    islands double window — the oracle states exactly that, which is
    the cross-check). Sorting happens INSIDE the kernel because Spark
    does not guarantee intra-group row order for grouped-map UDFs.

    Grouped by hash bucket, not by key (module docstring): one kernel
    call profiles EVERY key in its bucket with numpy segment
    reductions (`add.reduceat` sums, lexsort-offset medians, boolean
    run-length maxima) — identical per-key outputs, `n_buckets` Python
    crossings instead of one per key.

    Keys with more than ``hot_key_threshold`` rows (default
    `_HOTKEY_DEFAULT`, env ``SPARK_ETL_HOTKEY_THRESHOLD``; <= 0
    disables) are routed to the JVM twin `_sequence_profile_sql`
    instead of the kernel — bounded Python-worker memory under a zipf
    hot key, identical rows (see `_HOTKEY_ENV`).
    """
    import numpy as np

    order_cols = list(order_cols)
    out_schema = (
        f"{key_col} long, n_events long, sum_cents long, "
        "median2x_cents long, longest_up_run int"
    )

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(
                columns=[key_col, "n_events", "sum_cents",
                         "median2x_cents", "longest_up_run"]
            )
        pdf = pdf.sort_values([key_col, *order_cols], kind="mergesort")
        u = pdf[key_col].to_numpy(dtype=np.int64)
        c = pdf[cents_col].to_numpy(dtype=np.int64)
        m = len(u)
        new = np.empty(m, dtype=bool)
        new[0] = True
        new[1:] = u[1:] != u[:-1]
        starts = np.flatnonzero(new)
        n_per = np.diff(np.append(starts, m))
        grp = np.cumsum(new) - 1
        sums = np.add.reduceat(c, starts)
        # doubled median: per-key cents sorted via (key, cents) lexsort;
        # med2 = s[lo + (n-1)//2] + s[lo + n//2] covers odd (2·mid) and
        # even (lo+hi) in one expression.
        sc = c[np.lexsort((c, grp))]
        med2 = sc[starts + (n_per - 1) // 2] + sc[starts + n_per // 2]
        # longest strictly-increasing run in (order_cols) order: a run
        # breaks at every key boundary or non-increase; run lengths via
        # bincount over run ids, per-key max via maximum.reduceat.
        brk = np.empty(m, dtype=bool)
        brk[0] = True
        brk[1:] = ~((c[1:] > c[:-1]) & (grp[1:] == grp[:-1]))
        run_id = np.cumsum(brk) - 1
        run_len = np.bincount(run_id)
        run_key_grp = grp[brk]
        key_run_starts = np.flatnonzero(
            np.append(True, run_key_grp[1:] != run_key_grp[:-1])
        )
        longest = np.maximum.reduceat(run_len, key_run_starts)
        return pd.DataFrame(
            {
                key_col: u[starts],
                "n_events": n_per.astype(np.int64),
                "sum_cents": sums.astype(np.int64),
                "median2x_cents": med2.astype(np.int64),
                "longest_up_run": longest.astype(np.int32),
            }
        )

    nb = _n_buckets(df, n_buckets)
    narrow = df.select(key_col, *order_cols, cents_col)
    thr = _hot_threshold(hot_key_threshold)
    kernel_in = narrow
    if thr is not None:
        # Materialized once (lineage.cut): the detection aggregation
        # has two consumers (anti + semi) and Spark plans each subtree
        # independently — uncut, the full-scan count re-ran per
        # consumer (visible as repeated HashAggregate+BroadcastExchange
        # subtrees in the committed plan dumps).
        hot = _cut(
            narrow.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("_hn"))
            .where(F.col("_hn") > thr)
            .select(key_col)
        )
        kernel_in = narrow.join(F.broadcast(hot), key_col, "left_anti")
    out = kernel_in.groupBy(_bucket(key_col, nb).alias("_b")).applyInPandas(
        lambda _k, pdf: profile(pdf), out_schema
    )
    if thr is not None:
        hot_rows = narrow.join(F.broadcast(hot), key_col, "semi")
        out = out.unionByName(
            _sequence_profile_sql(hot_rows, key_col, order_cols, cents_col)
        )
    return out


def _cogroup_activity_sql(
    orders: DataFrame,
    events: DataFrame,
    key_order: str,
    key_event: str,
    day_order: str,
    day_event: str,
    cents_col: str,
) -> DataFrame:
    """JVM twin of the `cogroup_activity` kernel for hot keys — plain
    distributed aggregates + joins (the oracle's own formulation), no
    per-worker frame materialization at all. Bit-equality with the
    kernel is pytest-pinned."""
    og = orders.groupBy(F.col(key_order).alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents_col).alias("cents_spent"),
        F.max(day_order).alias("_last"),
    )
    eg = events.groupBy(F.col(key_event).alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    af = (
        events.select(
            F.col(key_event).alias("user_id"), F.col(day_event).alias("_d")
        )
        .join(og.select("user_id", "_last"), "user_id")
        .where(F.col("_d") > F.col("_last"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_after"))
    )
    joined = (
        og.withColumn("_has_o", F.lit(True))
        .join(eg, "user_id", "full_outer")
        .join(af, "user_id", "left")
    )
    n_orders = F.coalesce("n_orders", F.lit(0))
    n_events = F.coalesce("n_events", F.lit(0))
    return joined.select(
        F.col("user_id").cast("long").alias("user_id"),
        n_orders.cast("long").alias("n_orders"),
        F.coalesce("cents_spent", F.lit(0)).cast("long").alias("cents_spent"),
        n_events.cast("long").alias("n_events"),
        F.when(F.col("_has_o").isNull(), n_events)
        .otherwise(F.coalesce("_after", F.lit(0)))
        .cast("long")
        .alias("events_after_last_order"),
    )


def cogroup_activity(
    orders: DataFrame,
    events: DataFrame,
    key_order: str,
    key_event: str,
    day_order: str,
    day_event: str,
    cents_col: str,
    n_buckets: int | None = None,
    hot_key_threshold: int | None = None,
) -> DataFrame:
    """Cogrouped-map Pandas kernel — the LAST Python-kernel API surface
    (``groupBy(b).cogroup(other.groupBy(b)).applyInPandas``): both
    sides of a bucket arrive as two pandas frames in ONE worker, the
    full-outer grouped join the engine otherwise expresses as two
    aggregates + a join. The kernel computes, per key: order count,
    exact floor-cents spend, event count, and the count of events
    strictly AFTER the key's last order day (all events when the key
    never ordered) — the co-presence statistic that needs both sides
    at once.

    Cogrouped by hash bucket of the key (module docstring), with the
    per-key statistics computed vectorized (pandas groupby + an index
    join inside the kernel) — one Python crossing per bucket instead
    of per key, identical per-key outputs.

    Inputs carry JVM-computed integer day columns (unix_date), never
    raw timestamps — TimestampType crosses into the Python worker as
    session-tz-naive datetimes and would poison the comparison (the
    stateful-sessionizer lesson). Columns are pruned to exactly what
    the kernel reads."""
    import numpy as np

    def fn(_key, po: pd.DataFrame, pe: pd.DataFrame) -> pd.DataFrame:
        if len(po):
            og = po.groupby(key_order, sort=False).agg(
                n_orders=(day_order, "size"),
                cents_spent=(cents_col, "sum"),
                _last=(day_order, "max"),
            )
        else:
            og = pd.DataFrame(
                {"n_orders": [], "cents_spent": [], "_last": []}
            )
        if len(pe):
            eg = (
                pe.groupby(key_event, sort=False)
                .size()
                .rename("n_events")
                .to_frame()
            )
        else:
            eg = pd.DataFrame({"n_events": []})
        res = og.join(eg, how="outer")
        if len(pe) and len(og):
            last = pe[key_event].map(og["_last"]).to_numpy(dtype=np.float64)
            hit = pe[day_event].to_numpy(dtype=np.float64) > last  # NaN→False
            af = (
                pd.Series(hit.astype(np.int64))
                .groupby(pe[key_event].to_numpy())
                .sum()
            )
            res = res.join(af.rename("_after"), how="left")
        else:
            res["_after"] = 0
        n_orders = res["n_orders"].fillna(0).astype(np.int64)
        n_events = res["n_events"].fillna(0).astype(np.int64)
        after = res["_after"].fillna(0).astype(np.int64)
        return pd.DataFrame(
            {
                "user_id": res.index.to_numpy(dtype=np.int64),
                "n_orders": n_orders.to_numpy(),
                "cents_spent": res["cents_spent"]
                .fillna(0)
                .astype(np.int64)
                .to_numpy(),
                "n_events": n_events.to_numpy(),
                "events_after_last_order": np.where(
                    n_orders.to_numpy() == 0,
                    n_events.to_numpy(),
                    after.to_numpy(),
                ),
            }
        )

    nb = _n_buckets(orders, n_buckets)
    o = orders.select(key_order, day_order, cents_col)
    e = events.select(key_event, day_event)
    thr = _hot_threshold(hot_key_threshold)
    if thr is not None:
        # Hot = combined rows across BOTH sides (the cogroup worker
        # holds both frames at once); one count over the unioned key
        # columns, MATERIALIZED once (lineage.cut — its four anti/semi
        # consumers would otherwise each re-run the union+count scan),
        # broadcast to the anti (cold) and semi (hot) splits.
        hot = _cut(
            o.select(F.col(key_order).alias("_k"))
            .unionAll(e.select(F.col(key_event).alias("_k")))
            .groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_hn"))
            .where(F.col("_hn") > thr)
            .select("_k")
        )
        hot_o = hot.select(F.col("_k").alias(key_order))
        hot_e = hot.select(F.col("_k").alias(key_event))
        o_cold = o.join(F.broadcast(hot_o), key_order, "left_anti")
        e_cold = e.join(F.broadcast(hot_e), key_event, "left_anti")
    else:
        o_cold, e_cold = o, e
    out = (
        o_cold.groupBy(_bucket(key_order, nb).alias("_b"))
        .cogroup(e_cold.groupBy(_bucket(key_event, nb).alias("_b")))
        .applyInPandas(
            fn,
            "user_id long, n_orders long, cents_spent long, "
            "n_events long, events_after_last_order long",
        )
    )
    if thr is not None:
        out = out.unionByName(
            _cogroup_activity_sql(
                o.join(F.broadcast(hot_o), key_order, "semi"),
                e.join(F.broadcast(hot_e), key_event, "semi"),
                key_order,
                key_event,
                day_order,
                day_event,
                cents_col,
            )
        )
    return out

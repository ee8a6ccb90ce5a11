"""Distributed global ranking — the 100 TB form of `row_number()/
ntile() OVER (ORDER BY ...)` with no partition spec.

Spark executes an unpartitioned window by moving EVERY row to one
partition (WindowExec warns "No Partition Defined ... serious
performance degradation") — a non-starter over a row-scale input on a
1000-executor cluster. The classic scalable replacement is a two-pass
rank over a range-partitioned sort:

1. `repartitionByRange(order)` + `sortWithinPartitions(order)` — the
   cluster-wide sort Spark already does for `orderBy`, data stays
   spread across N partitions;
2. a tiny per-partition aggregate (N rows, N = shuffle partitions)
   collected and prefix-summed on the driver — bounded driver state,
   like the k-means centroid constants;
3. a window *partitioned by* the range-partition id, plus the
   broadcast-joined exclusive offset = the exact global value.

The per-row ordering must be a total order (include a unique tie-break
key) so the result is deterministic and engine-identical — the same
requirement every oracle-checked window query here already meets.

The sorted base is materialized once (`lineage.cut` — localCheckpoint
locally, persist/reliable-checkpoint on clusters) so the count pass
and the rank pass see the *same materialized* range partitioning
(range boundaries come from sampling; two independent evaluations of
the same lineage are deterministic in practice, but the cut makes it
a guarantee and pays for itself by not re-sorting in pass 2).

Both variants (`row_number` and the running sum) share the same
scaffolding (`_two_pass`), differing only in the per-partition
aggregate and the partition-local window expression. (A dense_rank
variant existed through r11 for the suffix family's densify rounds;
the r12 collect-free `suffix.py::_range_rekey` replaced its last
caller and it was removed.)

`ntile` then needs no second sort: with `q = total div n`,
`r = total mod n`, SQL ntile gives the first `r` buckets `q+1` rows —
pure integer arithmetic on (rank, total).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..lineage import cut
from ..session import local_frame


def _two_pass(
    df: DataFrame,
    order: list[Column],
    part_agg: Column,
    local_expr: Callable[[Window], Column],
    out_col: str,
) -> tuple[DataFrame, int]:
    """Shared two-pass machinery: range-partition + sort `df` on
    `order`, materialize, collect `part_agg` per partition (≤
    shuffle-partition rows of driver state), exclusive-prefix-sum into
    a broadcast offset table, and attach ``local_expr(window) +
    offset`` as `out_col`. Returns (result, total) where total is the
    corpus-wide sum of the per-partition aggregate."""
    spark = df.sparkSession
    base = cut(
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("_rk_pid", F.spark_partition_id())
    )
    counts = sorted(
        (r["_rk_pid"], r["n"])
        for r in base.groupBy("_rk_pid").agg(part_agg.alias("n")).collect()
    )
    total, rows = 0, []
    for pid, n in counts:
        rows.append((pid, total))
        total += n or 0
    offsets = local_frame(spark, rows, "_rk_pid int, _rk_off bigint")
    w_local = Window.partitionBy("_rk_pid").orderBy(*order)
    out = (
        base.join(F.broadcast(offsets), "_rk_pid")
        .withColumn(
            out_col, (local_expr(w_local) + F.col("_rk_off")).cast("bigint")
        )
        .drop("_rk_pid", "_rk_off")
    )
    return out, total


def with_global_rank(
    df: DataFrame,
    order: list[Column],
    rank_col: str = "rank",
    total_col: str | None = None,
) -> DataFrame:
    """`df` + 1-based `rank_col` equal to `row_number() OVER (ORDER BY
    *order)` — computed without a single-partition window. `order`
    must be a total order (unique tie-break). Optionally also attaches
    the total row count as `total_col` (needed by ntile/percent_rank
    derivations) — it rides along on the same tiny broadcast join, no
    extra pass over the data."""
    out, total = _two_pass(
        df,
        order,
        F.count(F.lit(1)),
        lambda w: F.row_number().over(w),
        rank_col,
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(total).cast("bigint"))
    return out


def with_running_sum(
    df: DataFrame,
    order: list[Column],
    value: Column,
    out_col: str = "running_sum",
) -> DataFrame:
    """`df` + `sum(value) OVER (ORDER BY *order ROWS UNBOUNDED
    PRECEDING)` — the global prefix sum, computed without a
    single-partition window. Same two-pass shape: per-partition value
    totals prefix-summed on the driver, then a partition-local
    cumulative window + broadcast offset. `order` must be a total
    order; `value` must be integer-typed (bigint) so the driver-side
    prefix sums are exact — float prefix sums would depend on
    partition boundaries."""
    out, _total = _two_pass(
        df.withColumn("_rk_v", value.cast("bigint")),
        order,
        F.sum("_rk_v").cast("bigint"),
        lambda w: F.sum("_rk_v").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
        out_col,
    )
    return out.drop("_rk_v")


def _idiv(a: Column, b: Column) -> Column:
    """Exact nonnegative integer division as a Column expression.
    `(a - a mod b) / b` is an exactly-representable double for
    a < 2^53 — i.e. for any row count below ~9e15, far past 100 TB of
    rows — so the cast back to bigint is lossless."""
    return ((a - a % b) / b).cast("bigint")


def ntile_of_rank(rank: Column, total: Column, n: int) -> Column:
    """SQL `ntile(n)` from a precomputed global rank: with
    `q = total div n` and `r = total mod n`, the first `r` buckets
    hold `q+1` rows and the rest `q`. Pure integer arithmetic on
    (rank, total) — bit-identical to the window function on every
    engine, no second sort. When `total < n` the cut covers every row,
    so the `q`-sized tail branch (guarded against q=0) never fires."""
    nn = F.lit(n).cast("bigint")
    q = _idiv(total, nn)
    r = total % nn
    cut_at = r * (q + 1)
    head = _idiv(rank - 1, q + 1) + 1
    tail = r + _idiv(rank - 1 - cut_at, F.greatest(q, F.lit(1))) + 1
    return F.when(rank <= cut_at, head).otherwise(tail).cast("bigint")

"""Exact positional quantile selection WITHOUT a global sort.

`value at global rank k` (the discrete quantile) is usually written as
`row_number() OVER (ORDER BY x)` + a rank filter — a cluster-wide sort
(or, unpartitioned, a single-task window). For a selection problem the
sort is wasted work: the classic alternative is iterative histogram
refinement (the distributed quickselect):

1. one aggregate pass → (min, max, count); derive the target ranks;
2. per level, ONE aggregation pass buckets every in-range row into
   `B` equal-width integer cells per active interval (a when-chain
   over ≤ n_targets intervals) — the shuffle carries only the tiny
   (interval, cell, count) histogram, never rows;
3. the driver walks the cumulative histogram, narrows each target's
   interval to the cell its rank falls in (width shrinks ×B per
   level), and repeats until intervals are ≤ B wide;
4. a final pass counts exact per-value frequencies inside the
   surviving intervals (≤ B distinct integers each) and picks
   `min{v : count(x ≤ v) ≥ k}`.

Total cost: `2 + ceil(log_B(range))` scans with aggregation-only
shuffles — at 100 TB that is 3-4 cheap map-side-combined passes vs one
full terabyte-scale sort-shuffle. All arithmetic is exact bigint, so
results are bit-identical to the positional oracle on any engine.

Requires an integer-typed (or integer-castable) value column — the
same exact-cents convention the rest of the catalog uses for money —
whose total spread fits int64 (`max - min < 2^63`, checked): interval
arithmetic (`v - lo`, `new_lo = lo + c*step`) stays in exact bigint,
and the cell index is an integer `div`, never a float divide whose
rounding could disagree with the driver's exact interval boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def value_at_ranks(
    df: DataFrame,
    value_col: str,
    ranks: list[int],
    buckets: int = 4096,
    max_levels: int = 8,
) -> dict[int, int]:
    """Exact values at the given 1-based global ascending ranks of
    `df[value_col]` (bigint). Returns {rank: value}. Ranks outside
    [1, count] are omitted. Driver state: O(n_targets × buckets)."""
    vals = df.select(F.col(value_col).cast("bigint").alias("v")).where(
        F.col(value_col).isNotNull()
    )
    stats = vals.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = stats["n"]
    targets = {k for k in ranks if 1 <= k <= n}
    if not targets:
        return {}
    if stats["hi"] - stats["lo"] >= 2**63:
        # v - lo would overflow int64 executor-side (ANSI error /
        # silent wrap). Full-range inputs need a sign-split first.
        raise ValueError(
            "value_at_ranks requires max - min < 2^63; split the input "
            "by sign and recombine ranks for full-range bigint columns"
        )
    # Per target: (lo, hi, below) — rank searched within [lo, hi],
    # `below` = rows with v < lo.
    state = {k: (stats["lo"], stats["hi"], 0) for k in targets}

    for _ in range(max_levels):
        active = {k: s for k, s in state.items() if s[1] - s[0] >= buckets}
        if not active:
            break
        # Distinct intervals (targets often share one after level 1).
        intervals = sorted({(lo, hi) for lo, hi, _ in active.values()})
        step = {
            (lo, hi): max(1, (hi - lo + buckets) // buckets)
            for lo, hi in intervals
        }
        # FLAT when-chains (w.when(...).when(...)) — intervals are
        # disjoint, so no fall-through guard is needed. Nesting the
        # previous chain inside each step's condition/otherwise would
        # double the expression tree per interval (2^n blowup: measured
        # 14s of codegen for 9 intervals vs 0.2s flat).
        iid = cell = None
        for i, (lo, hi) in enumerate(intervals):
            cond = (F.col("v") >= lo) & (F.col("v") <= hi)
            # Integer `div`, not float `/` + floor: near 2^63 the
            # double-rounded quotient can disagree with the driver's
            # exact integer boundaries (new_lo = lo + c*step) by one
            # cell, corrupting the carried `below` count. v >= lo
            # inside cond, so truncating div == floor div.
            # CAST(... AS BIGINT) instead of an L-suffixed literal: the
            # parser rejects -9223372036854775808L (negation of an
            # out-of-range positive literal) but casts the decimal form.
            cexpr = F.expr(
                f"(v - CAST({lo} AS BIGINT)) div {step[(lo, hi)]}L"
            )
            iid = F.when(cond, F.lit(i)) if iid is None else iid.when(cond, F.lit(i))
            cell = F.when(cond, cexpr) if cell is None else cell.when(cond, cexpr)
        hist = (
            vals.select(iid.alias("i"), cell.alias("c"))
            .where(F.col("i").isNotNull())
            .groupBy("i", "c")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        cells: dict[int, dict[int, int]] = {}
        for r in hist:
            cells.setdefault(r["i"], {})[r["c"]] = r["n"]
        for k, (lo, hi, below) in active.items():
            i = intervals.index((lo, hi))
            st = step[(lo, hi)]
            cum = below
            for c in sorted(cells.get(i, {})):
                cnt = cells[i][c]
                if cum + cnt >= k:
                    new_lo = lo + c * st
                    state[k] = (new_lo, min(hi, new_lo + st - 1), cum)
                    break
                cum += cnt
    # Final exact pass over the narrow intervals.
    intervals = sorted({(lo, hi) for lo, hi, _ in state.values()})
    cond = None
    for lo, hi in intervals:
        c = (F.col("v") >= lo) & (F.col("v") <= hi)
        cond = c if cond is None else (cond | c)
    freqs = (
        vals.where(cond).groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    by_val = sorted((r["v"], r["n"]) for r in freqs)
    out = {}
    for k, (lo, hi, below) in state.items():
        cum = below
        for v, cnt in by_val:
            if v < lo or v > hi:
                continue
            if cum + cnt >= k:
                out[k] = v
                break
            cum += cnt
    return out


def exact_deciles(
    df: DataFrame, value_col: str, n_tiles: int = 10, buckets: int = 4096
) -> DataFrame:
    """(tile, value) rows for tiles 1..n_tiles-1, where value is the
    element at ascending rank `(tile·n + n_tiles - 1) div n_tiles` —
    the discrete quantile. Empty input → empty result, stable schema."""
    spark = df.sparkSession
    n = df.where(F.col(value_col).isNotNull()).count()
    tiles = list(range(1, n_tiles))
    ranks = {t: (t * n + n_tiles - 1) // n_tiles for t in tiles}
    found = value_at_ranks(df, value_col, sorted(set(ranks.values())), buckets)
    rows = [
        (t, found[ranks[t]]) for t in tiles if ranks[t] in found
    ]
    return local_frame(spark, rows, "tile bigint, value bigint").orderBy("tile")

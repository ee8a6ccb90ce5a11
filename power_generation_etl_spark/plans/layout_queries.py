"""Data-layout catalog queries — the Z-order clustering key under the
exact oracle.

`store.py::morton_key` powers `TableStore.cluster_write` (the
OPTIMIZE ... ZORDER-style maintenance rewrite) and is verified for its
file-skipping effect in tests/test_zorder.py. This entry puts the key
COMPUTATION itself under the DuckDB oracle: both engines normalize the
two dimensions with the same equi-width min/max formula (identical
IEEE double operations, so the floor/bucket boundaries agree
bit-for-bit) and bit-interleave with the same shift/mask algebra.

Why it matters at 100 TB: clustering quality is entirely determined by
this key — a subtly wrong interleave still "works" (files get written,
queries stay correct) while silently destroying min/max pruning on the
secondary dimension. An exact cross-engine oracle over every bucket
count catches that class of bug; the pytest file-range check catches
the layout half.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from power_generation_etl_spark.plans.queries import T, _register
from power_generation_etl_spark.session import local_frame
from power_generation_etl_spark.store import morton_key

_BITS = 16
_BUCKET_SHIFT = 2 * _BITS - 6  # 64 buckets over the 32-bit key space


def _sql_interleave(n0: str, n1: str, bits: int) -> str:
    """DuckDB mirror of morton_key's shift/mask interleave: column j's
    bit i lands at key bit i*n + j."""
    terms = []
    for i in range(bits):
        terms.append(f"((({n0} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({n1} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


# Mirrors morton_key's normalization INCLUDING its degenerate-column
# guard (mx <= mn → norm 0): without the CASE, DuckDB computes
# 65536.0/0.0 = NULL and least(NULL, 65535) = 65535, silently putting
# every row of a constant column in the TOP bucket while Spark puts
# them in bucket 0. The NULL arm mirrors morton_key's `mn is None`
# branch (all-NULL column): `NULL <= NULL` is NULL, so without it the
# CASE would fall through and yield NULL keys where Spark yields 0.
_NORM = (
    "CASE WHEN {mn} IS NULL OR {mx} <= {mn} THEN 0 ELSE "
    "least(CAST(floor((CAST({col} AS DOUBLE) - {mn}) * "
    f"({float(1 << _BITS)} / ({{mx}} - {{mn}}))) AS BIGINT), {(1 << _BITS) - 1})"
    " END"
)


@_register(
    "zorder_bucket_stats",
    f"""
    WITH s AS (
      SELECT CAST(min(o_custkey) AS DOUBLE) AS mn0,
             CAST(max(o_custkey) AS DOUBLE) AS mx0,
             CAST(min(o_orderkey) AS DOUBLE) AS mn1,
             CAST(max(o_orderkey) AS DOUBLE) AS mx1
      FROM orders
    ),
    n AS (
      SELECT {_NORM.format(col="o_custkey", mn="s.mn0", mx="s.mx0")} AS n0,
             {_NORM.format(col="o_orderkey", mn="s.mn1", mx="s.mx1")} AS n1
      FROM orders, s
    ),
    k AS (SELECT {_sql_interleave("n0", "n1", _BITS)} AS zkey FROM n)
    SELECT zkey >> {_BUCKET_SHIFT} AS z_bucket,
           count(*) AS n_rows,
           min(zkey) AS min_key,
           max(zkey) AS max_key
    FROM k
    GROUP BY 1
    ORDER BY z_bucket
    """,
)
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key over (o_custkey, o_orderkey) at 16
    bits/dimension — the exact key `TableStore.cluster_write` range-
    partitions and sorts by — rolled up into 64 key-space buckets.
    The oracle recomputes the equi-width normalization (same IEEE
    double formula, same driver-side min/max) and the full 32-bit
    interleave in SQL, so any drift in the key algebra shows up as a
    value-hash mismatch on every bucket. One stats job + one scan +
    one 64-group aggregate; at 100 TB the stats job is a columnar
    min/max over two pruned columns and everything else is map-side."""
    orders = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    key = morton_key(orders, ["o_custkey", "o_orderkey"], bits=_BITS)
    return (
        orders.select(key.alias("zkey"))
        .groupBy(
            F.shiftright(F.col("zkey"), _BUCKET_SHIFT).alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zkey").alias("min_key"),
            F.max("zkey").alias("max_key"),
        )
        .orderBy("z_bucket")
    )


# ---------------------------------------------------------------------------
# Zone-map skipping audit (r11): the MEASURED argument for z-ordered
# layout. Rows are packed into 64 equal-count "files" two ways —
# natural insertion order (o_orderkey) vs Morton-key order — and a
# band predicate on the NON-sort dimension (the middle ~10% of
# o_custkey, bounds derived from min/max in pure BIGINT arithmetic) is
# tested against each file's (min, max) zone maps, exactly the way
# parquet row-group pruning works. Under natural order o_custkey is
# uncorrelated with file position, so EVERY file intersects the band
# (zero skipping — the classic "query on a non-layout column" wall);
# under z-order the custkey dimension is locally packed and most
# files are skipped. Output: per layout, files hit / rows inside hit
# files / true matching rows — the scan-amplification numbers a table
# maintainer reads before paying for an OPTIMIZE ... ZORDER rewrite.
#
# Scale shape: two global range-partitioned rank passes
# (operators/rank.py — no single-partition window), one groupBy(file)
# zone-map rollup each. At 100 TB "files" are real parquet files and
# the audit reads only footer stats; here the files are simulated so
# the pruning arithmetic itself is oracle-checked.
# ---------------------------------------------------------------------------

_SKIP_FILES = 64
_BAND_LO, _BAND_HI = 45, 55  # percent of the (min..max) span, inclusive


def _skip_oracle() -> str:
    norm0 = _NORM.format(col="o_custkey", mn="s.mn0", mx="s.mx0")
    norm1 = _NORM.format(col="o_orderkey", mn="s.mn1", mx="s.mx1")
    zkey = _sql_interleave("n0", "n1", _BITS)
    return f"""
    WITH s AS (
      SELECT CAST(min(o_custkey) AS DOUBLE) AS mn0,
             CAST(max(o_custkey) AS DOUBLE) AS mx0,
             CAST(min(o_orderkey) AS DOUBLE) AS mn1,
             CAST(max(o_orderkey) AS DOUBLE) AS mx1,
             min(o_custkey) AS imn0, max(o_custkey) AS imx0,
             min(o_orderkey) AS imn1, max(o_orderkey) AS imx1,
             count(*) AS n
      FROM orders
    ),
    b AS (
      SELECT imn0 + ((imx0 - imn0) * {_BAND_LO}) // 100 AS c_lo,
             imn0 + ((imx0 - imn0) * {_BAND_HI}) // 100 AS c_hi,
             n
      FROM s
    ),
    keyed AS (
      SELECT o_custkey, o_orderkey,
             (SELECT {zkey} FROM (SELECT {norm0} AS n0, {norm1} AS n1)) AS zkey
      FROM orders, s
    ),
    ranked AS (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) AS rn_nat,
             row_number() OVER (ORDER BY zkey, o_orderkey) AS rn_z
      FROM keyed
    ),
    files AS (
      SELECT 'natural' AS layout, ((rn_nat - 1) * {_SKIP_FILES}) // b.n AS f,
             o_custkey,
             (o_custkey BETWEEN c_lo AND c_hi) AS m
      FROM ranked, b
      UNION ALL
      SELECT 'zorder', ((rn_z - 1) * {_SKIP_FILES}) // b.n,
             o_custkey,
             (o_custkey BETWEEN c_lo AND c_hi)
      FROM ranked, b
    ),
    zone AS (
      SELECT layout, f,
             min(o_custkey) AS fc_mn, max(o_custkey) AS fc_mx,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(*) FILTER (m) AS BIGINT) AS matched
      FROM files GROUP BY layout, f
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(count(*) FILTER (NOT (fc_mx < c_lo OR fc_mn > c_hi))
                AS BIGINT) AS files_hit,
           CAST(sum(CASE WHEN NOT (fc_mx < c_lo OR fc_mn > c_hi)
                    THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(sum(matched) AS BIGINT) AS rows_matched
    FROM zone, b
    GROUP BY layout
    ORDER BY layout
    """


@_register("layout_skipping_audit", _skip_oracle())
def layout_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.operators import rank as rk

    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    out_schema = (
        "layout string, n_files long, files_hit long, "
        "rows_scanned long, rows_matched long"
    )
    st = o.agg(
        F.min("o_custkey").alias("mn0"), F.max("o_custkey").alias("mx0"),
        F.min("o_orderkey").alias("mn1"), F.max("o_orderkey").alias("mx1"),
    ).head()
    if st["mn0"] is None:  # empty corpus
        return local_frame(spark, [], out_schema)
    c_lo = st["mn0"] + ((st["mx0"] - st["mn0"]) * _BAND_LO) // 100
    c_hi = st["mn0"] + ((st["mx0"] - st["mn0"]) * _BAND_HI) // 100
    keyed = o.withColumn("zkey", morton_key(o, ["o_custkey", "o_orderkey"]))
    matched = F.col("o_custkey").between(c_lo, c_hi)

    def one_layout(name: str, order_cols) -> DataFrame:
        ranked = rk.with_global_rank(keyed, order_cols, "rn", total_col="n")
        fid = F.expr(f"(rn - 1) * {_SKIP_FILES} div n")
        zone = (
            ranked.groupBy(F.lit(name).alias("layout"), fid.alias("f"))
            .agg(
                F.min("o_custkey").alias("fc_mn"), F.max("o_custkey").alias("fc_mx"),
                F.count(F.lit(1)).alias("cnt"),
                F.count_if(matched).alias("matched"),
            )
        )
        hit = ~((F.col("fc_mx") < c_lo) | (F.col("fc_mn") > c_hi))
        return zone.groupBy("layout").agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.count_if(hit).cast("long").alias("files_hit"),
            F.sum(F.when(hit, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("matched").cast("long").alias("rows_matched"),
        )

    nat = one_layout("natural", [F.col("o_orderkey")])
    zo = one_layout("zorder", [F.col("zkey"), F.col("o_orderkey")])
    return nat.unionByName(zo).orderBy("layout")


# ---------------------------------------------------------------------------
# Compaction planning audit (r11 third wave) — the OPTIMIZE/bin-packing
# planner's arithmetic under the exact oracle. `TableStore.compact`
# rewrites small files into ~target-size outputs (tests/test_engine.py
# covers the physical rewrite); its PHYSICAL layout cannot sit under an
# exact oracle (repartitionByRange samples ranges; parquet sizes are
# compression-dependent), but the PLANNING rule can: given per-file
# byte stats, roll files in key order into an output bin until the
# target is reached, then start the next bin. That cumulative-fill
# rule is what decides how many rewrite tasks a 100 TB OPTIMIZE runs
# and how full each output file lands — exactly the arithmetic a
# subtly wrong running sum (off-by-one-file, target compared against
# the wrong prefix) silently ruins while "still working".
#
# The synthetic file inventory: orders rows grouped into per-month
# "files" of ~50 adjacent customer keys, each with an integer byte
# proxy Σ (64 + len(status) + len(priority)). Bins pack PER MONTH
# (real compaction never merges across partition boundaries), so the
# running-sum window is partitioned by month — no global window, no
# single-partition exchange — and the output is bounded by months ×
# bins-per-month.
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 16_000  # bytes per output bin


@_register(
    "compaction_plan",
    f"""
    WITH files AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
             o_custkey // 50 AS file_id,
             CAST(sum(64 + length(o_orderstatus) + length(o_orderpriority))
                  AS BIGINT) AS bytes
      FROM orders
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT month, file_id, bytes,
             CAST(coalesce(sum(bytes) OVER (
               PARTITION BY month ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM files
    )
    SELECT month, cum_before // {_COMPACT_TARGET} AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes
    FROM cum
    GROUP BY 1, 2
    ORDER BY month, bin
    """,
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    files = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-01").alias(
            "month"
        ),
        F.expr("o_custkey div 50").alias("file_id"),
    ).agg(
        F.sum(
            F.lit(64)
            + F.length("o_orderstatus")
            + F.length("o_orderpriority")
        )
        .cast("long")
        .alias("bytes")
    )
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("month")
        .orderBy("file_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = files.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0)).cast("long")
    )
    return (
        cum.groupBy(
            "month",
            F.expr(f"cum_before div {_COMPACT_TARGET}").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
        )
        .orderBy("month", "bin")
    )

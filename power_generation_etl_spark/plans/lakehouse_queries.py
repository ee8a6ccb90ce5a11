"""Lakehouse write-path catalog queries — MERGE upsert + versioned
snapshots + change-data-feed under the exact oracle.

The TableStore's time-travel surface (versioned overwrite archives,
`read_version`, `diff_versions`, `merge_upsert`) is pytest-covered in
tests/test_timetravel.py; these entries run the WHOLE write path inside
a catalog query so the external DuckDB gate checks it end-to-end:

  base snapshot → MERGE a deterministic change batch (updates +
  inserts) → diff the archived version against the current table →
  aggregate the change feed.

The oracle predicts the change feed from `orders` alone: every row the
MERGE updated must surface as one delete (old image) + one insert (new
image), every inserted key as one insert, and — the half that catches
real bugs — NOTHING ELSE: an unchanged row leaking into the feed
(botched multiset diff), a lost update (tie-break regression), or a
double-applied change all break the counts.

Two entries share the oracle byte-for-byte (r10):
  * `cdc_version_diff` applies the change batch with a direct
    `merge_upsert` call (the batch MERGE path);
  * `stream_cdc_apply_feed` stages the SAME change batch as JSON files
    in a landing dir and applies it through a REAL Structured
    Streaming run (`streaming.ingest.stream_cdc_apply`, foreachBatch →
    merge_upsert, availableNow) — proving streamed apply == batch
    MERGE, because both must hit the identical expected feed.

Scale note: `merge_upsert` is one window shuffle on the key + an
atomic overwrite (partition-pruned in the production monthly form);
`diff_versions` is two exceptAll anti-joins — both plain shuffle
shapes. The temp warehouse is per-call and removed before returning;
the returned feed aggregate is ≤ (statuses+2) rows, localized so no
plan references the deleted directory.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from power_generation_etl_spark.plans.queries import (
    T,
    _register,
    link_data_files,
    stage_round,
    stream_dirs,
    stream_scoped,
)
from power_generation_etl_spark.session import local_frame
from power_generation_etl_spark.store import TableStore

_OUT_SCHEMA = "change string, status string, n long"

_FEED_SQL = """
    SELECT change, status, CAST(n AS BIGINT) AS n FROM (
      SELECT 'delete' AS change, o_orderstatus AS status, count(*) AS n
      FROM orders WHERE o_orderkey % 7 = 0 GROUP BY 2
      UNION ALL
      SELECT 'insert', 'X', count(*) FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT 'insert', 'N', count(*) FROM orders WHERE o_orderkey % 97 = 0
    )
    WHERE n > 0
    ORDER BY change, status
    """


def _base_and_changes(spark: SparkSession, sf_dir: str):
    """The deterministic MERGE scenario both CDC entries share: base =
    orders' (key, status) at ver 0; changes = keys %7==0 → status 'X'
    (updates) plus fresh strictly-negative keys for %97==0 → status 'N'
    (inserts), all at ver 1."""
    base = (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .withColumn("ver", F.lit(0).cast("long"))
    )
    changes = (
        base.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .unionByName(
            base.filter(F.col("o_orderkey") % 97 == 0).select(
                # strictly negative (keys are ≥ 0 and include 0, whose
                # bare negation would collide with its own update row)
                (-F.col("o_orderkey") - 1).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("ver"),
            )
        )
        .withColumn("ver", F.lit(1).cast("long"))
    )
    return base, changes


def _feed_counts(spark: SparkSession, store: TableStore) -> DataFrame:
    """Aggregate the v1→current change feed into the oracle's shape
    (tiny: ≤ statuses+2 rows — localized before the warehouse dies)."""
    rows = (
        store.diff_versions("orders_snap", 1)
        .groupBy(
            F.col("_change").alias("change"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    rows = sorted(
        ((r["change"], r["status"], r["n"]) for r in rows),
        key=lambda t: (t[0], t[1]),
    )
    return local_frame(spark, rows, _OUT_SCHEMA)


@_register("cdc_version_diff", _FEED_SQL)
def cdc_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned MERGE round-trip: snapshot orders' (key, status) into
    a versioned TableStore, MERGE the shared change batch, then read
    the change-data-feed between the archived v1 and the current table
    and count rows per (change-tag, status). The update half of the
    MERGE must appear as delete(old status)+insert('X') pairs, the
    insert half as insert('N') — and unchanged rows must NOT appear."""
    base, changes = _base_and_changes(spark, sf_dir)
    wh = tempfile.mkdtemp(prefix="cdc_wh_")
    try:
        store = TableStore(spark, wh, versioned=True)
        store.overwrite("orders_snap", base)
        store.merge_upsert(
            "orders_snap", changes, keys=["o_orderkey"], order_col="ver"
        )
        if 1 not in store.versions("orders_snap"):  # empty base: no archive
            return local_frame(spark, [], _OUT_SCHEMA)
        return _feed_counts(spark, store)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@_register("stream_cdc_apply_feed", _FEED_SQL)
@stream_scoped
def stream_cdc_apply_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of `cdc_version_diff` under the BYTE-IDENTICAL
    oracle: the same change batch is staged as JSON files in a landing
    dir and applied through a real Structured Streaming run
    (`streaming.ingest.stream_cdc_apply`: file source → foreachBatch →
    `TableStore.merge_upsert`, trigger=availableNow, checkpointed file
    tracking). Because the oracle predicts the exact v1→current change
    feed, any divergence between streamed apply and batch MERGE —
    a double-applied batch, a lost update through the foreachBatch
    boundary, order-tie regression — fails exactly one of the twins.

    Scale note: this is the production CDC intake shape — exactly-once
    per file from the source's checkpoint, idempotent re-apply from
    merge_upsert's change-wins-ties ordering, and each applied batch is
    an archived snapshot (point-in-time recovery comes free)."""
    from power_generation_etl_spark.streaming.ingest import stream_cdc_apply

    base, changes = _base_and_changes(spark, sf_dir)
    with stream_dirs("cdc") as d:
        store = TableStore(spark, d.store, versioned=True)
        store.overwrite("orders_snap", base)
        staged = stage_round(
            changes.select("o_orderkey", "o_orderstatus", "ver"),
            os.path.join(d.stage, "changes"),
            "json",
        )
        link_data_files(staged, d.landing, "c")
        stream_cdc_apply(
            spark,
            d.landing,
            store,
            "orders_snap",
            keys=["o_orderkey"],
            order_col="ver",
            schema="o_orderkey long, o_orderstatus string, ver long",
            checkpoint_dir=d.ckpt,
        )
        if 1 not in store.versions("orders_snap"):  # empty base: no batch
            return local_frame(spark, [], _OUT_SCHEMA)
        return _feed_counts(spark, store)


# ---------------------------------------------------------------------------
# Incremental MV maintenance parity (r11 third wave).
#
# `Engine.refresh_views_incremental` (engine.py:312) is the 100 TB form
# of the reference's REFRESH MATERIALIZED VIEW (src/refresh_views.py):
# recompute ONLY the touched 'yyyy-MM' months from a partition-pruned
# fact read and carry every other MV row over. Until now that path was
# pytest-verified (tests/test_engine.py asserts the PartitionFilters
# prune and spot parity); this entry runs the WHOLE maintenance
# protocol inside a catalog query so the external DuckDB gate checks
# the algebra end-to-end:
#
#   orders → reference-shaped monthly facts → load all months but the
#   LAST into a temp warehouse → FULL refresh (MV state v0) → append
#   the last month → INCREMENTAL refresh of exactly that month →
#   final mv_ons_monthly must equal the full recompute over ALL rows,
#   which is what the oracle computes from raw orders.
#
# A carry-over bug (dropped untouched month, month filtered with the
# wrong key), a pruning bug (delta month read twice / not at all), or
# a non-atomic merge all shift a (month, fuel_type) sum and break the
# value hash.
#
# Timezone note: mv.py derives months from epoch-ms instants via the
# SESSION-tz date_format, so the synthetic facts anchor every row's
# timestamp_ms at its month's 15th 12:00 UTC — any session offset
# within ±14 days yields the same month on both the partition column
# and the MV's month key, keeping the entry tz-free while leaving the
# engine's production code path untouched.
# ---------------------------------------------------------------------------

_MV_PARITY_SQL = """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
           o_orderpriority AS fuel_type,
           round(sum(o_totalprice), 2) AS total_mwh
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

_MID_MONTH_MS = 14 * 86_400_000 + 43_200_000  # day 15, 12:00


def mv_facts_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders mapped onto the ONS fact-table columns the three ONS
    view builders consume (plans/mv.py), plus a tz-free `_m` month
    tag used to split base/delta loads."""
    m0 = F.date_trunc("month", F.col("o_orderdate"))
    return T(spark, sf_dir, "orders").select(
        (
            F.unix_date(m0.cast("date")).cast("bigint") * 86_400_000
            + F.lit(_MID_MONTH_MS)
        ).alias("timestamp_ms"),
        F.date_format(m0, "yyyy-MM").alias("_m"),
        F.col("o_orderpriority").alias("fuel_type"),
        F.col("o_totalprice").alias("generation_mwh"),
        F.concat(F.lit("p"), (F.col("o_custkey") % 10).cast("string")).alias(
            "plant"
        ),
        F.col("o_orderstatus").alias("state"),
        F.col("o_orderstatus").alias("state_name"),
    )


@_register("incremental_mv_parity", _MV_PARITY_SQL)
def incremental_mv_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.engine import Engine

    facts = mv_facts_from_orders(spark, sf_dir)
    months = [
        r["_m"] for r in facts.select("_m").distinct().orderBy("_m").collect()
    ]
    out_schema = "month string, fuel_type string, total_mwh double"
    if not months:
        return local_frame(spark, [], out_schema)
    last = months[-1]
    wh = tempfile.mkdtemp(prefix="mv_wh_")
    try:
        eng = Engine(spark, wh)
        eng.store.append(
            "ons_generation_data", facts.filter(F.col("_m") != last).drop("_m")
        )
        eng.refresh_views(source="ons")  # MV state from the base months
        eng.store.append(
            "ons_generation_data", facts.filter(F.col("_m") == last).drop("_m")
        )
        # The maintenance under test: recompute ONLY the delta month
        # (partition-pruned fact read), carry every other row over.
        eng.refresh_views_incremental([last], source="ons")
        rows = (
            eng.store.read("mv_ons_monthly")
            .select(
                "month",
                "fuel_type",
                F.round(F.col("generation_mwh"), 2).alias("total_mwh"),
            )
            .orderBy("month", "fuel_type")
            .collect()
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return local_frame(spark, rows, out_schema)


# ---------------------------------------------------------------------------
# GDPR erasure audit (r11 fourth wave) — the DELETE write path under
# the exact oracle. A temp VERSIONED warehouse is loaded with the
# subject tables; a hash-chosen ~2% of customers (md5(c_custkey) mod
# 50 = 0 — a pure-expression predicate, so the erasure set needs no
# driver-side key list at any scale) is erased from customer and
# CASCADED through orders (o_custkey) and events (user_id) via
# `TableStore.delete_where`. The audit reports, per table, the
# before/deleted/after counts plus the post-erasure count of rows
# still referencing an erased customer — which must be ZERO for the
# cascade to be complete. The oracle predicts every number from the
# raw tables with the same hash; a row kept that should have gone, a
# NULL-predicate row wrongly dropped, or an incomplete cascade breaks
# the hash. Versioned archives keep the pre-delete snapshots (the
# audit trail `vacuum` later forgets) — pytest asserts them.
# ---------------------------------------------------------------------------

_ERASE = "md5(CAST({k} AS VARCHAR))"
_ERASE_DUCK = "CAST('0x' || substr(" + _ERASE + ", 1, 8) AS BIGINT) % 50 = 0"
_ERASE_SPARK = (
    "CAST(conv(substr(md5(CAST({k} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    " % 50 = 0"
)


@_register(
    "gdpr_erasure_audit",
    f"""
    WITH e AS (
      SELECT 'customer' AS tbl,
             CAST(count(*) AS BIGINT) AS n_before,
             CAST(count(*) FILTER ({_ERASE_DUCK.format(k='c_custkey')})
                  AS BIGINT) AS n_deleted
      FROM customer
      UNION ALL
      SELECT 'orders', CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER ({_ERASE_DUCK.format(k='o_custkey')})
                  AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'events', CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER ({_ERASE_DUCK.format(k='user_id')})
                  AS BIGINT)
      FROM events
    )
    SELECT tbl, n_before, n_deleted, n_before - n_deleted AS n_after,
           CAST(0 AS BIGINT) AS orphans_after
    FROM e
    ORDER BY tbl
    """,
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    events = T(spark, sf_dir, "events").select("event_id", "user_id")
    wh = tempfile.mkdtemp(prefix="gdpr_wh_")
    out_schema = (
        "tbl string, n_before long, n_deleted long, n_after long, "
        "orphans_after long"
    )
    try:
        store = TableStore(spark, wh, versioned=True)
        loads = {
            "customer": (cust, "c_custkey"),
            "orders": (orders, "o_custkey"),
            "events": (events, "user_id"),
        }
        results: dict[str, tuple] = {}

        # The three erasure pipelines are fully independent (each
        # predicate hashes the table's OWN subject column), so the
        # load → count → delete → count → orphan-audit chains run
        # concurrently (guide §2.6); per-table store locks never
        # contend across distinct tables. The after/orphan counts stay
        # real store reads — the audit's value is proving the written
        # state, not deriving it arithmetically.
        def _one(t: str) -> None:
            df, key = loads[t]
            pred = F.expr(_ERASE_SPARK.format(k=key))
            store.overwrite(t, df)
            n_before = store.count(t)
            n_deleted = store.delete_where(t, pred)
            n_after = store.count(t)
            # cascade completeness: rows still matching the erasure
            # predicate (must be zero after the delete); the erased
            # subject table itself has nothing left to reference
            orphans = (
                0
                if t == "customer"
                else store.read(t).where(pred).count()
            )
            results[t] = (n_before, n_deleted, n_after, orphans)

        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        # Pool threads keep the caller's job group and session tags.
        with ThreadPoolExecutor(max_workers=3) as pool:
            for _ in pool.map(inheritable_thread_target(spark)(_one), sorted(loads)):
                pass
        rows = [(t, *results[t]) for t in sorted(loads)]
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return local_frame(spark, rows, out_schema)

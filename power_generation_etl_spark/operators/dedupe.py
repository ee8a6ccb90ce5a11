"""Dedup operators — the reference has three with *different* semantics
(SURVEY §2.5):

D1  in-file first-wins (order-sensitive)    → validation.validate()
D2  cross-run idempotent append             → idempotent_append() here
D3  retro window dedup keep-first-by-order  → window_dedup() here
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from power_generation_etl_spark.schemas import SourceSchema


def natural_key_cols(schema: SourceSchema, df: DataFrame) -> list[Column]:
    """Stored natural key with COALESCE('') on nullable parts —
    mirrors the expression unique indexes (reference
    schema/ons_generation.sql:49-50, occto:43-44, chile:43-44)."""
    cols = []
    for k in schema.natural_key:
        c = df[k]
        if k in schema.null_coalesced:
            c = F.coalesce(c.cast("string"), F.lit(""))
        cols.append(c.alias(f"_k_{k}"))
    return cols


def anti_join_new_rows(
    batch: DataFrame, existing: DataFrame, schema: SourceSchema
) -> DataFrame:
    """Rows of `batch` whose natural key does not already exist
    (reference `INSERT … ON CONFLICT DO NOTHING`, src/database.py:288-294).

    Scale notes: only key columns of `existing` are projected, so the
    shuffle carries keys — not whole rows — of the target table. Pass a
    time-bounded `existing` (`TableStore.read_range` over the batch's
    `timestamp_ms` range) so the target side is partition-pruned before
    the join.
    """
    key_names = [f"_k_{k}" for k in schema.natural_key]
    b = batch.select(batch["*"], *natural_key_cols(schema, batch))
    e = existing.select(*natural_key_cols(schema, existing)).dropDuplicates(key_names)
    out = b.join(e, on=key_names, how="left_anti")
    return out.drop(*key_names)


def dedupe_batch_stored_key(
    batch: DataFrame, schema: SourceSchema, order_col: str | list[str]
) -> DataFrame:
    """Within one load batch, keep only the first row per *stored*
    natural key (COALESCE('') on nullable parts), ordered by input order.

    The in-file dedup (D1) compares keys with Python-type fidelity, so a
    null and an empty-string key part are distinct there — but they map
    to the same COALESCE('') stored key. The reference's
    ``INSERT … ON CONFLICT DO NOTHING`` (src/database.py:288-294) skips
    the later conflicting row *within the same statement*; this window
    restores that stored-uniqueness guarantee for the Spark append."""
    key_names = [f"_k_{k}" for k in schema.natural_key]
    keyed = batch.select(batch["*"], *natural_key_cols(schema, batch))
    return window_dedup(keyed, key_names, order_col).drop(*key_names)


def window_dedup(
    df: DataFrame, key: list[str], order_col: str | list[str]
) -> DataFrame:
    """D3 retro-dedup: keep the first row per key by `order_col`
    (reference schema/migrations/001b_dedup_and_constrain_ons.sql:20-47,
    ROW_NUMBER() OVER (PARTITION BY key ORDER BY id)). One window
    implementation covers both the DELETE USING (small-table) and the
    window-delete (12.9M-row) strategies of the reference migrations."""
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(*[F.col(k) for k in key]).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicate_count(df: DataFrame, key: list[str]) -> int:
    """A8: COUNT(*) - COUNT(DISTINCT key)
    (reference schema/migrations/001a...sql:27-31)."""
    row = df.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.struct(*key))).alias("dups")
    ).head()
    return row["dups"]

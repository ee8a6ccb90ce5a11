"""Engine — programmatic API with parity to the reference's
`PowerGenerationDatabase` (reference src/database.py:159) plus the
companion scripts (refresh_views, get_latest_date, check_crosswalk_drift,
backfill_extraction_dates), re-expressed over a Spark parquet warehouse.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from power_generation_etl_spark.operators.dedupe import (
    anti_join_new_rows,
    dedupe_batch_stored_key,
)
from power_generation_etl_spark.plans.mv import ALL_VIEWS, SOURCE_VIEWS, VIEW_BUILDERS
from power_generation_etl_spark.schemas import (
    EXTRACTION_METADATA_SCHEMA,
    KNOWN_TABLES,
    SOURCES,
)
from power_generation_etl_spark.sources.jsonl import load_and_validate
from power_generation_etl_spark.session import local_frame
from power_generation_etl_spark.store import TableStore
from power_generation_etl_spark.validation import (
    FILE_COL,
    ORDER_COL,
    LoadStats,
    ValidationReport,
    strict_gate,
)

# Drift-check configuration: (source_system, raw_table, raw_key, crosswalk_key)
# (reference src/check_crosswalk_drift.py:28-38).
DRIFT_SOURCE_CHECKS = [
    ("EIA", "eia_generation_data", "plant_code", "plant_code"),
    ("ENTSOE", "entsoe_generation_data", "plant_name", "plant_name"),
    ("NPP", "npp_generation", "plant", "plant_name"),
    ("ONS", "ons_generation_data", "plant", "plant_name"),
    ("OE", "oe_facility_generation_data", "facility_code", "plant_code"),
    ("OCCTO", "occto_generation_data", "plant", "plant_name"),
    ("CHILE", "chile_generation_data", "plant", "plant_name"),
]


META = "extraction_metadata"
# Engine-internal write order of the metadata log's rows (see
# `resolve_metadata`); readers never see it.
WRITE_SEQ = "_write_seq"
STORED_METADATA_SCHEMA = T.StructType(
    [*EXTRACTION_METADATA_SCHEMA.fields, T.StructField(WRITE_SEQ, T.LongType(), False)]
)
# Only these are updated on conflict (reference src/database.py:1765-1784).
CONFLICT_UPDATE_COLS = [
    "total_records",
    "failed_count",
    "success",
    "failed_details",
    "start_date",
    "end_date",
]


def resolve_metadata(stored: DataFrame) -> DataFrame:
    """The extraction_metadata table as every reader sees it: one row
    per extraction_run_id out of the append-only log `upsert_metadata`
    writes. The identity columns (source, extraction_timestamp,
    config_snapshot, ...) come from the run's first row and the
    `CONFLICT_UPDATE_COLS` from its latest, nulls included — what the
    reference's INSERT ... ON CONFLICT DO UPDATE leaves behind. Rows
    written before the log existed have no write order; they sort first,
    and there is one per run."""
    if WRITE_SEQ not in stored.columns:
        stored = stored.withColumn(WRITE_SEQ, F.lit(None).cast("long"))
    key = "extraction_run_id"
    names = [f.name for f in EXTRACTION_METADATA_SCHEMA.fields]
    ident = [c for c in names if c != key and c not in CONFLICT_UPDATE_COLS]
    seq = F.col(WRITE_SEQ)
    runs = stored.groupBy(key).agg(
        F.min(F.struct(seq, *ident)).alias("_first"),
        F.max(F.struct(seq, *CONFLICT_UPDATE_COLS)).alias("_latest"),
    )
    return runs.select(
        *[
            c if c == key else F.col(f"{'_first' if c in ident else '_latest'}.{c}").alias(c)
            for c in names
        ]
    )


@dataclass
class LoadResult:
    success: bool
    inserted: int
    skipped_existing: int
    report: ValidationReport | None
    run_id: str | None = None


class Engine:
    """Load / query / maintain the power-generation warehouse."""

    def __init__(self, spark: SparkSession, warehouse: str, versioned: bool = False):
        self.spark = spark
        self.store = TableStore(spark, warehouse, versioned=versioned)

    # --- S9/S10: setup -------------------------------------------------------
    def setup(self, table_type: str = "all") -> list[str]:
        """Create known tables (empty) — the reference's
        `create_all_tables` / per-source `create_*_tables`
        (src/database.py:362-449, CLI `setup [table_type]`
        src/database_management.py:287-307)."""
        created = []
        for source, schema in SOURCES.items():
            if table_type not in ("all", source):
                continue
            if not self.store.exists(schema.table):
                self.store.create(schema.table, schema.struct_type())
                created.append(schema.table)
        if not self.store.exists(META):
            self.store.create(META, STORED_METADATA_SCHEMA)
            created.append(META)
        return created

    # --- S10: bootstrap / connection probe -----------------------------------
    def create_database(self) -> bool:
        """Bootstrap the warehouse if missing — the reference's
        `create_database` CREATE DATABASE IF NOT EXISTS
        (src/database.py:304-360). Returns True if it was created."""
        existed = os.path.isdir(self.store.root)
        os.makedirs(self.store.root, exist_ok=True)
        return not existed

    def test_connection(self) -> bool:
        """Connection probe — the reference's `SELECT 1` ping
        (src/database.py:341-352): one trivial Spark job plus a
        warehouse-writability check."""
        try:
            ok = self.spark.range(1).count() == 1
        except Exception:
            return False
        return ok and os.access(self.store.root, os.W_OK)

    # --- M4: update-schema ----------------------------------------------------
    def update_schema(self, table_type: str = "entsoe") -> list[str]:
        """Schema evolution — the reference ALTERs columns to the current
        DDL (src/database_management.py:68-102: country_code VARCHAR(16)
        → VARCHAR(32)). Spark strings are unbounded, so the width change
        itself is a semantic no-op here; what this verb *does* do is
        re-persist each existing table's `_schema.json` sidecar from the
        current schema definition, so stored sidecars track schemas.py
        the way the reference's tables track its DDL. Returns the tables
        whose sidecar was refreshed."""
        updated = []
        for source, schema in SOURCES.items():
            if table_type not in ("all", source):
                continue
            if self.store.exists(schema.table):
                self.store.create(schema.table, schema.struct_type(), overwrite_schema=True)
                updated.append(schema.table)
        return updated

    def table(self, name: str, version: int | None = None) -> DataFrame:
        """Table ``name`` as readers see it (the metadata log resolved);
        ``version`` reads an archived snapshot instead."""
        if version is None:
            df = self.store.read(name)
        else:
            df = self.store.read_version(name, version)
        resolve = self.resolver(name)
        return resolve(df) if resolve else df

    @staticmethod
    def resolver(name: str):
        """The function from table ``name``'s stored rows to the rows its
        readers see, or None where they are the same (every table but
        the metadata log)."""
        return resolve_metadata if name == META else None

    # --- lifecycle §3.1: load-data ------------------------------------------
    def load_jsonl(
        self,
        source: str,
        path: str | list[str],
        strict: bool = False,
        run_id: str | None = None,
        save_report_path: str | None = None,
        write_metadata: bool = True,
    ) -> LoadResult:
        """Read → fixup → validate → first-wins dedup → idempotent append →
        lineage upsert. The insert-count contract matches the reference
        (src/database.py:533-537): `inserted` new rows, the rest of the
        valid batch counted as skipped-existing.

        `path` may be a list of files: one pass loads the whole batch
        (the streaming intake's multi-file burst), with first-wins
        semantics across files in lexicographic path order."""
        schema = SOURCES[source]
        # Missing file is a graceful failure, not an exception
        # (reference src/database_management.py:124-126 logs and
        # returns False). Only local paths are probed — `file:` URIs
        # (as produced by input_file_name in the streaming path) are
        # resolved first; remote schemes are left to Spark.
        from urllib.parse import unquote, urlparse

        if isinstance(path, (list, tuple)):
            path = sorted(path)
        for p in path if isinstance(path, list) else [path]:
            parsed = urlparse(p)
            if parsed.scheme in ("", "file"):
                local = unquote(parsed.path) if parsed.scheme == "file" else p
                # Glob patterns (data/*.jsonl) are legal reader input —
                # probe them with glob, not exists(), so a matching
                # wildcard isn't misreported as file-not-found.
                if glob.has_magic(local):
                    if not glob.glob(local):
                        return LoadResult(False, 0, 0, None, run_id=None)
                elif not os.path.exists(local):
                    return LoadResult(False, 0, 0, None, run_id=None)
        run_id = run_id or str(uuid.uuid4())
        stats = LoadStats()
        valid, report = load_and_validate(self.spark, source, path, run_id=run_id, stats=stats)
        # Lineage uses the run id carried by the data when present
        # (reference src/database.py:627-630 first_run_id capture).
        if isinstance(stats.first_record.get("extraction_run_id"), str):
            run_id = stats.first_record["extraction_run_id"]
        # The labelled frame stays cached until the new rows are
        # counted and appended; a month loop or an intake stream would
        # otherwise keep every load's blocks until the ContextCleaner
        # drops the DataFrame.
        try:
            if strict:
                strict_gate(report)

            # In-batch stored-key dedup before the anti-join: rows that are
            # distinct under in-file duplicate-key semantics (null vs '') can
            # still collide on the COALESCE('') stored natural key; the later
            # row is dropped and counted as skipped_existing, matching the
            # reference's single-statement ON CONFLICT DO NOTHING.
            batch_order = (
                [FILE_COL, ORDER_COL] if FILE_COL in valid.columns else [ORDER_COL]
            )
            batch = dedupe_batch_stored_key(valid, schema, batch_order).drop(
                FILE_COL, ORDER_COL
            )
            if self.store.exists(schema.table):
                # Partition-pruned target read: only the batch's months are
                # even listed, so the anti-join scans O(batch months). The
                # validation pass already knows the valid rows' bounds; the
                # stored key includes timestamp_ms, so the deduped batch has
                # the same ones.
                existing = (
                    self.store.read_range(schema.table, stats.ts_lo, stats.ts_hi)
                    if stats.ts_lo is not None
                    else self.store.read(schema.table)
                )
                new_rows = anti_join_new_rows(batch, existing, schema)
            else:
                new_rows = batch
            new_rows = new_rows.persist()
            inserted = new_rows.count()
            if inserted:
                self.store.append(schema.table, new_rows)
            new_rows.unpersist()
        finally:
            stats.labelled.unpersist(blocking=False)
        skipped = report.valid_count - inserted

        if write_metadata:
            start, end = self.get_date_range_for_run(source, run_id)
            self.upsert_metadata(
                {
                    "extraction_run_id": run_id,
                    "source": source,
                    "total_records": report.total_count,
                    "failed_count": report.invalid_count,
                    "success": True,
                    "start_date": start,
                    "end_date": end,
                    "failed_details": (
                        json.dumps(report.errors_by_type) if report.errors_by_type else None
                    ),
                }
            )
        if save_report_path:
            save_report(report, save_report_path)
        return LoadResult(True, inserted, skipped, report, run_id)

    # --- M1/M2: metadata upsert ----------------------------------------------
    def upsert_metadata(self, row: dict) -> None:
        """M1: the reference's INSERT ... ON CONFLICT (extraction_run_id)
        DO UPDATE as one append to the metadata log; readers resolve a
        run's rows (`resolve_metadata`), so a conflicting run id needs
        no lookup and no rewrite. The append holds the table lock while
        it takes its write order, so upserts from any number of engines
        all land, ordered as they took the lock."""
        full = {c: row.get(c) for c in EXTRACTION_METADATA_SCHEMA.fieldNames()}
        if full.get("extraction_timestamp") is None:
            from datetime import datetime, timezone

            full["extraction_timestamp"] = datetime.now(timezone.utc).replace(tzinfo=None)
        for c in ("start_date", "end_date"):
            if isinstance(full.get(c), str):
                from datetime import date

                full[c] = date.fromisoformat(full[c])
        with self.store.write_order(META) as seq:
            full[WRITE_SEQ] = seq
            self.store.append(META, local_frame(self.spark, [full], STORED_METADATA_SCHEMA))

    # --- A9: per-run date range ----------------------------------------------
    def get_date_range_for_run(self, source: str, run_id: str) -> tuple[str | None, str | None]:
        schema = SOURCES[source]
        if not self.store.exists(schema.table):
            return None, None
        row = (
            self.store.read(schema.table)
            .filter(F.col("extraction_run_id") == run_id)
            .agg(
                F.date_format(F.timestamp_millis(F.min("timestamp_ms")), "yyyy-MM-dd").alias("lo"),
                F.date_format(F.timestamp_millis(F.max("timestamp_ms")), "yyyy-MM-dd").alias("hi"),
            )
            .head()
        )
        return row["lo"], row["hi"]

    # --- A10: watermark --------------------------------------------------------
    def get_latest_date(self, source: str) -> str:
        """MAX(timestamp)::date with '1970-01-01' fallback
        (reference src/get_latest_date.py:19-35). Scans only the newest
        `_month` partition holding data, which holds the largest
        `timestamp_ms`; a table without `_month` partitions is read
        whole."""
        schema = SOURCES[source]
        if not self.store.exists(schema.table):
            return "1970-01-01"
        month = self.store.newest_month(schema.table)
        df = (
            self.store.read(schema.table)
            if month is None
            else self.store.read_months(schema.table, [month])
        )
        row = (
            df.agg(F.max(F.to_date(F.timestamp_millis(F.col("timestamp_ms")))).alias("d"))
            .head()
        )
        return str(row["d"]) if row["d"] else "1970-01-01"

    # --- M3: refresh materialized views ---------------------------------------
    def refresh_views(self, source: str | None = None) -> list[str]:
        present = self._present_views(source)
        # One read per source table, shared by all its views.
        inputs = {t: self.store.read(t) for t in {VIEW_BUILDERS[v][0] for v in present}}

        def _one(v: str) -> None:
            src_table, builder = VIEW_BUILDERS[v]
            self.store.overwrite(v, builder(inputs[src_table]))

        # Views are independent jobs over (usually) one fact table;
        # submitting them from a small thread pool lets each refresh's
        # tail stragglers back-fill with the next view's tasks instead
        # of serializing full job latencies. Distinct target tables →
        # the per-table store locks never contend.
        self._run_view_jobs(present, _one)
        return present

    def _present_views(self, source: str | None) -> list[str]:
        views = SOURCE_VIEWS.get(source, ALL_VIEWS) if source else ALL_VIEWS
        return [v for v in views if self.store.exists(VIEW_BUILDERS[v][0])]

    def _run_view_jobs(self, views: list[str], fn) -> None:
        """Run ``fn(view)`` for each view; more than one run from a small
        pool whose threads keep the caller's job group and tags."""
        if len(views) > 1:
            from concurrent.futures import ThreadPoolExecutor

            target = inheritable_thread_target(self.spark)(fn)
            with ThreadPoolExecutor(max_workers=min(4, len(views))) as pool:
                for _ in pool.map(target, views):
                    pass
        else:
            for v in views:
                fn(v)

    def refresh_views_incremental(
        self, months: list[str], source: str | None = None
    ) -> list[str]:
        """M3 at 100 TB: recompute ONLY the given 'yyyy-MM' months of
        each summary table.

        The full `refresh_views` re-scans the whole fact table per view
        — O(table) input, which the reference can afford on Postgres at
        60M rows but a 100 TB warehouse cannot. Here the input scan is
        partition-pruned to the touched months (`read_months` →
        PartitionFilters, O(months) files opened); untouched MV rows
        are carried over and the swap stays atomic. Sound because every
        view is a month-grain aggregate: an input row only ever affects
        its own month's output rows. The MV itself is small (months ×
        dimensions), so rewriting it is driver-cheap; it's the fact
        scan that must be pruned.

        A typical monthly feed therefore refreshes 17 views at the cost
        of one month of input each, independent of warehouse size. Each
        source table is read once per call, shared by all its views.
        """
        month_firsts = [m + "-01" for m in months]
        present = self._present_views(source)
        inputs = {
            t: self.store.read_months(t, months)
            for t in {VIEW_BUILDERS[v][0] for v in present}
        }

        def _one(v: str) -> None:
            src_table, builder = VIEW_BUILDERS[v]
            new_part = builder(inputs[src_table])
            # An existing-but-empty MV reads as an empty frame whose
            # filtered union is `new_part` itself, so no pre-count job
            # is needed to special-case it.
            if self.store.exists(v):
                keep = self.store.read(v).filter(
                    ~F.col("month").isin(month_firsts)
                )
                merged = keep.unionByName(new_part).orderBy("month")
            else:
                merged = new_part
            self.store.overwrite(v, merged)

        self._run_view_jobs(present, _one)
        return present

    # --- A6/S7: aggregate export ------------------------------------------------
    def aggregate_export(
        self, output_dir: str, granularity: str = "plant"
    ) -> tuple[bool, int]:
        """ENTSOE monthly aggregation exported as one CSV per year
        (reference src/database.py:812-908). Single Spark job: the
        reference's per-year query loop becomes a year partition column."""
        dims = {
            "plant": ["country_code", "psr_type", "plant_name"],
            "country-fuel": ["country_code", "psr_type"],
            "country": ["country_code"],
        }[granularity]
        # Contract parity (reference src/database.py:812-827): a missing
        # table is the error path → (False, 0); an existing-but-empty
        # table exports zero rows → (True, 0).
        if not self.store.exists("entsoe_generation_data"):
            return False, 0
        df = self.store.read("entsoe_generation_data")
        ts = F.timestamp_millis(F.col("timestamp_ms"))
        agg = (
            df.groupBy(
                F.year(ts).alias("_year"),
                F.date_format(F.date_trunc("month", ts), "yyyy-MM-01").alias("month"),
                *dims,
            )
            .agg(
                # NOTE: no resolution scaling here — faithful to the
                # reference export (SUM of raw MW aliased as mwh).
                F.sum("generation_mw").alias("total_generation_mwh"),
                F.count(F.lit(1)).alias("hours_of_data"),
                F.avg("generation_mw").alias("avg_generation_mw"),
                F.max("generation_mw").alias("peak_generation_mw"),
            )
            .orderBy("month", *dims)
        )
        os.makedirs(output_dir, exist_ok=True)
        header = ["month", *dims, "total_generation_mwh", "hours_of_data",
                  "avg_generation_mw", "peak_generation_mw"]
        # Per-year sorted single-file export, mirroring the reference's
        # per-year query loop and file layout. Each year is one Spark job
        # over the already-grouped aggregate: orderBy + coalesce(1)
        # preserves the global sort into a single part file (a
        # write.partitionBy variant is NOT order-safe — the file writer's
        # internal partition-column sort is unstable and scrambles rows).
        # The aggregate is small (grouped rows), so one file per year is
        # the right shape even at 100 TB of input.
        import glob
        import shutil

        agg = agg.persist()
        years = [r["_year"] for r in agg.select("_year").distinct().orderBy("_year").collect()]
        total = 0
        tmp = os.path.join(output_dir, "__export_tmp__")
        for year in years:
            (
                agg.filter(F.col("_year") == year)
                .orderBy("month", *dims)
                .select(*header)
                .coalesce(1)
                .write.mode("overwrite")
                .option("header", True)
                .csv(tmp)
            )
            part = sorted(glob.glob(os.path.join(tmp, "part-*.csv")))[0]
            out = os.path.join(output_dir, f"entsoe_monthly_{year}.csv")
            shutil.move(part, out)
            with open(out) as fh:
                total += sum(1 for _ in fh) - 1
        agg.unpersist()
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        return True, total

    # --- SQL surface: spark.sql over registered tables/views ----------------------
    def register_views(self) -> list[str]:
        """Expose every existing table + MV + the two summary views as
        temp views so `engine.sql(...)` / `spark.sql(...)` work — the
        reference's third API surface (SQL against Postgres)."""
        registered = []
        for name in list(KNOWN_TABLES.values()) + [META] + ALL_VIEWS:
            if self.store.exists(name):
                self.table(name).createOrReplaceTempView(name)
                registered.append(name)
        if self.store.exists(META):
            self.extraction_summary().createOrReplaceTempView("extraction_summary")
            self.recent_extractions().createOrReplaceTempView("recent_extractions")
            registered += ["extraction_summary", "recent_extractions"]
        uni = self.unified_monthly()
        if uni is not None:
            uni.createOrReplaceTempView("unified_monthly")
            registered.append("unified_monthly")
        return registered

    def unified_monthly(self) -> DataFrame | None:
        """Cross-source harmonized monthly rollup — the unification the
        reference leaves to its external dashboard (its README's
        cross-country views join the per-source MVs client-side). Unions
        every refreshed fuel-level monthly MV with a `source` tag; NPP
        (no fuel dimension in its MV) carries a null fuel_type. Returns
        None when no monthly MV has been refreshed yet.

        Scale note: this reads the ~90-row summary tables, never the
        fact tables — the whole union is dashboard-cheap by design."""
        parts = []
        for source, views in SOURCE_VIEWS.items():
            mv = next(
                (v for v in views if v.endswith("_monthly") and "plant" not in v),
                None,
            )
            if mv is None or not self.store.exists(mv):
                continue
            df = self.store.read(mv)
            if "fuel_type" not in df.columns:
                df = df.withColumn("fuel_type", F.lit(None).cast("string"))
            parts.append(
                df.select(
                    F.lit(source).alias("source"),
                    "month",
                    "fuel_type",
                    "generation_mwh",
                )
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("source", "month", "fuel_type")

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)

    # --- A11: stats --------------------------------------------------------------
    def stats(self) -> dict[str, int]:
        out = {}
        for source, schema in SOURCES.items():
            out[schema.table] = self.store.count(schema.table)
        return out

    # --- S11: clear-table ----------------------------------------------------------
    def clear_table(self, table: str) -> int:
        if table not in set(KNOWN_TABLES.values()) | {"extraction_metadata"} | set(ALL_VIEWS):
            raise ValueError(f"unknown table: {table}")  # identifier guard (S12)
        return self.store.truncate(table, rows=self.resolver(table))

    def compact_table(self, table: str, target_file_mb: int = 128) -> tuple[int, int]:
        """Small-files maintenance (no reference analog — Postgres has
        VACUUM; a parquet warehouse needs OPTIMIZE). Same identifier
        guard as clear_table."""
        if table not in set(KNOWN_TABLES.values()) | {"extraction_metadata"} | set(ALL_VIEWS):
            raise ValueError(f"unknown table: {table}")
        return self.store.compact(table, target_file_mb)

    def cluster_table(
        self,
        table: str,
        sort_cols: list[str],
        target_file_mb: int = 128,
        zorder: bool = False,
    ) -> tuple[int, int]:
        """Sorted compaction — the warehouse equivalent of the
        reference's covering composite B-tree indexes (e.g.
        `(plant, timestamp)`, schema/entsoe_generation.sql:49-75):
        physically clusters each month partition's files by `sort_cols`
        (lexicographic, or Morton/Z-order with ``zorder=True`` for
        multi-column skipping) so parquet min/max stats make filters
        selective. Same identifier guard as clear_table."""
        if table not in set(KNOWN_TABLES.values()) | {"extraction_metadata"} | set(ALL_VIEWS):
            raise ValueError(f"unknown table: {table}")
        return self.store.cluster(table, sort_cols, target_file_mb, zorder=zorder)

    def bloom_index_table(self, table: str, column: str) -> int:
        """Per-file Bloom membership sidecar over ``column`` — point-
        lookup file skipping for secondary columns the physical sort
        doesn't cover (`store.build_bloom_index`). Same identifier
        guard as clear_table."""
        if table not in set(KNOWN_TABLES.values()) | {"extraction_metadata"} | set(ALL_VIEWS):
            raise ValueError(f"unknown table: {table}")
        return self.store.build_bloom_index(table, column)

    def audit_table(self, source: str) -> dict:
        """Constraint audit — the query-time analog of the reference's
        DDL constraints (NOT NULL columns + the expression unique
        indexes): nulls in required fields and duplicate natural keys
        in the STORED table. The write path already enforces both
        (validation V7 + idempotent-append D2); this verb is the
        independent check an operator runs after out-of-band writes,
        restores, or manual repairs. One count_if pass for the null
        audit + one keys-only aggregation for duplicates."""
        from power_generation_etl_spark.operators.dedupe import natural_key_cols
        from power_generation_etl_spark.schemas import SOURCES

        schema = SOURCES[source]
        df = self.store.read(schema.table)
        required = [f.name for f in schema.fields if f.required]
        null_counts = {}
        if required:
            row = df.agg(
                *[
                    F.count_if(F.col(c).isNull()).alias(c)
                    for c in required
                ]
            ).collect()[0]
            null_counts = {c: int(row[c]) for c in required if int(row[c])}
        dup_rows = 0
        if schema.natural_key:
            dup_rows = int(
                df.select(*natural_key_cols(schema, df))
                .groupBy(*[f"_k_{k}" for k in schema.natural_key])
                .agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") > 1)
                .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)))
                .collect()[0][0]
            )
        return {
            "table": schema.table,
            "n_rows": self.store.count(schema.table),
            "null_violations": null_counts,
            "duplicate_key_rows": dup_rows,
            "ok": not null_counts and dup_rows == 0,
        }

    def sanity_gate(
        self, df: DataFrame, checks: list[tuple[str, str, int]]
    ) -> dict:
        """Pre-load sanity gate: abort BEFORE mutating the warehouse
        when an input looks implausible (reference
        .github/workflows/monthly-extraction.yml:612-628 — abort if the
        rebuilt crosswalk has < 200 NPP coal plants).

        ``checks`` is (label, filter SQL expr, min_count) triples. All
        counts run in ONE aggregation pass (`count_if` per check, map-
        side combined) — not a job per check. Raises ValueError naming
        every failing check; returns the counts when all pass."""
        row = df.agg(
            *[
                F.count_if(F.expr(expr)).alias(f"_c{i}")
                for i, (_label, expr, _n) in enumerate(checks)
            ]
        ).head()
        counts = {label: row[f"_c{i}"] for i, (label, _e, _n) in enumerate(checks)}
        failures = [
            f"{label}: {counts[label]} < {min_n}"
            for label, _expr, min_n in checks
            if counts[label] < min_n
        ]
        if failures:
            raise ValueError("sanity gate failed — " + "; ".join(failures))
        return counts

    # --- J1/A14: crosswalk drift -----------------------------------------------------
    def check_crosswalk_drift(self, crosswalk: DataFrame) -> dict:
        """Anti-join every source's plant key against plant_crosswalk
        (reference src/check_crosswalk_drift.py:54-102)."""
        report, total_missing = {}, 0
        for source_system, table, raw_key, cw_key in DRIFT_SOURCE_CHECKS:
            if not self.store.exists(table):
                continue
            raw = (
                self.store.read(table)
                .select(F.col(raw_key).alias("plant_id"))
                .filter(F.col("plant_id").isNotNull())
                .distinct()
            )
            cw = (
                crosswalk.filter(
                    (F.col("source_system") == source_system)
                    & F.col(cw_key).isNotNull()
                )
                .select(F.col(cw_key).alias("plant_id"))
                .distinct()
            )
            # Driver memory stays O(20) however badly drifted the source
            # is: count + a limited sample over the same cached anti-join
            # (never collect the full missing-id list — at scale that is
            # millions of ids for a 20-row report).
            anti = raw.join(F.broadcast(cw), "plant_id", "left_anti").persist()
            n_missing = anti.count()
            sample = [
                r["plant_id"] for r in anti.orderBy("plant_id").limit(20).collect()
            ]
            anti.unpersist()
            report[source_system] = {
                "count": n_missing,
                "raw_table": table,
                "raw_key": raw_key,
                "crosswalk_key": cw_key,
                "sample": sample,
            }
            total_missing += n_missing
        return {"total_missing": total_missing, "by_source": report}

    # --- extraction summary views (schema/extraction_metadata.sql:69-95) ---------------
    def extraction_summary(self) -> DataFrame:
        meta = self.table(META)
        return (
            meta.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("total_runs"),
                F.sum("total_records").alias("total_records"),
                F.sum("failed_count").alias("total_failed"),
                F.count_if(F.col("success")).alias("successful_runs"),
                F.count_if(~F.col("success")).alias("failed_runs"),
                F.min("start_date").alias("earliest_data"),
                F.max("end_date").alias("latest_data"),
                F.max("extraction_timestamp").alias("last_extraction"),
            )
            .orderBy("source")
        )

    def recent_extractions(self, limit: int = 20) -> DataFrame:
        meta = self.table(META)
        return (
            meta.select(
                "extraction_run_id", "source", "extraction_timestamp",
                "start_date", "end_date", "total_records", "failed_count", "success",
            )
            .orderBy(F.col("extraction_timestamp").desc())
            .limit(limit)
        )

    # --- M2: backfill dates (reference src/backfill_extraction_dates.py) ----------------
    def backfill_extraction_dates(self) -> int:
        """Fill missing start/end dates from the source tables in ONE
        join + ONE append to the metadata log — the reference loops runs
        and re-queries per run (src/backfill_extraction_dates.py:33-62).
        Each matched run gets a row with its update columns as resolved
        and the dates filled, ordered after every earlier write, so it
        resolves as the run's latest. Returns the number of runs."""
        ranges = None
        for source, schema in SOURCES.items():
            if not self.store.exists(schema.table):
                continue
            r = (
                self.store.read(schema.table)
                .groupBy("extraction_run_id")
                .agg(
                    F.to_date(F.timestamp_millis(F.min("timestamp_ms"))).alias("_start"),
                    F.to_date(F.timestamp_millis(F.max("timestamp_ms"))).alias("_end"),
                )
                .withColumn("source", F.lit(source))
            )
            ranges = r if ranges is None else ranges.unionByName(r)
        if ranges is None:
            return 0
        todo = F.col("start_date").isNull() | F.col("end_date").isNull()
        fill = F.col("_start").isNotNull()
        with self.store.write_order(META) as seq:
            filled = (
                self.table(META)
                .filter(todo)
                .join(F.broadcast(ranges), ["extraction_run_id", "source"], "inner")
                .withColumn("start_date", F.when(fill, F.col("_start")).otherwise(F.col("start_date")))
                .withColumn("end_date", F.when(fill, F.col("_end")).otherwise(F.col("end_date")))
                .withColumn(WRITE_SEQ, F.lit(seq))
                .select(*STORED_METADATA_SCHEMA.fieldNames())
            )
            n = filled.count()
            if n:
                self.store.append(META, filled)
        return n


def save_report(report: ValidationReport, output_path: str) -> None:
    """S8: JSON report sink (reference src/validator.py:527-552)."""
    os.makedirs(os.path.dirname(os.path.abspath(output_path)), exist_ok=True)
    with open(output_path, "w") as f:
        json.dump(report.to_dict(), f, indent=2)

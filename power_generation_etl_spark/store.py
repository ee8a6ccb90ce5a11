"""Parquet-warehouse table store.

Physical design for the 100 TB target:
- fact tables are hive-partitioned by `_month` (yyyy-MM of
  timestamp_ms) so month-grain queries, incremental loads, and the
  idempotent-append anti-join all prune partitions;
- the partition column is engine-internal: reads drop it, so logical
  schemas match the reference DDL exactly;
- writes go through a temp-dir + atomic-ish rename only when
  replacing (`overwrite`); appends write new files into existing
  partitions (safe for parquet append);
- every table directory carries a `_schema.json` sidecar, its logical
  schema. `create` writes it and every write keeps it in step with the
  rows written, so every scan (`_scan`) hands the reader that schema
  (plus `_month`) instead of inferring it from parquet footers — a
  read runs no Spark job. A directory without a sidecar (written by
  another tool) still reads by inference.

This replaces the reference's PostgreSQL heap tables + B-tree indexes
(reference schema/*.sql): parquet min/max row-group stats give the
equivalent of the `(timestamp, …)` composite indexes for time-range
scans, and partitioning gives partition-level pruning that Postgres
indexes cannot.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import re
import shutil
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from power_generation_etl_spark.session import local_frame

MONTH_COL = "_month"
SCHEMA_FILE = "_schema.json"  # leading underscore: invisible to Spark's file listing

_LOCK_TIMEOUT_ENV = "SPARK_ETL_STORE_LOCK_TIMEOUT_S"


def _lock_timeout_s() -> float:
    """How long a writer waits for a contended table lock before raising.
    Generous default: a lock holder may be running a full merge shuffle."""
    env = os.environ.get(_LOCK_TIMEOUT_ENV)
    if env is None:
        return 300.0
    try:
        v = float(env)
    except ValueError:
        v = math.nan
    # nan would wait forever (no deadline comparison is ever true).
    if not math.isfinite(v) or v < 0:
        raise ValueError(
            f"{_LOCK_TIMEOUT_ENV}={env!r} is not a finite, non-negative number "
            "of seconds; set a wait like 300"
        )
    return v


def _holds_parquet(root: str) -> bool:
    """Whether directory ``root`` (missing: no) holds a data file."""
    return any(f.endswith(".parquet") for _d, _s, files in os.walk(root) for f in files)


def _shape(dt: T.DataType):
    """``dt`` with every nullability flag dropped: two schemas of one
    shape read the same parquet files the same way (parquet scans come
    back all-nullable whatever the reader is given)."""
    if isinstance(dt, T.StructType):
        return tuple((f.name, _shape(f.dataType)) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return ("array", _shape(dt.elementType))
    if isinstance(dt, T.MapType):
        return ("map", _shape(dt.keyType), _shape(dt.valueType))
    return dt.simpleString()


class TableStore:
    def __init__(self, spark: SparkSession, root: str, versioned: bool = False):
        self.spark = spark
        self.root = root
        # Opt-in time travel: every overwrite-based rewrite (overwrite /
        # compact / cluster / truncate-with-restore) archives the
        # previous table directory as an immutable version instead of
        # deleting it — the poor-man's Delta/Iceberg snapshot log.
        self.versioned = versioned
        os.makedirs(root, exist_ok=True)
        # Concurrent-writer safety (reference gets this from Postgres
        # transactions, src/database.py:222-302). Every mutating path
        # runs under a per-table advisory flock, so two engines/threads
        # can never interleave archive-version claims, clobber each
        # other's overwrite swap, or lose an update in a read-merge-
        # write (merge_upsert re-reads the CURRENT table only after it
        # holds the lock). flock over O_EXCL lockfiles because the
        # kernel releases it when the holder dies — a crashed writer
        # can never deadlock the store. Thread-local held-set makes the
        # lock reentrant per thread (merge_upsert → overwrite).
        # Single-host scope (local warehouse contract): flock does not
        # coordinate across NFS clients — a multi-host deployment needs
        # a real lakehouse transaction log (Delta/Iceberg).
        self._held = threading.local()
        self._tmp_seq = itertools.count()

    def _lock_file(self, table: str) -> str:
        d = os.path.join(self.root, ".locks")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{table}.lock")

    @contextlib.contextmanager
    def _table_lock(self, table: str, timeout: float | None = None):
        """Exclusive per-table writer lock (reentrant within a thread)."""
        held: set = getattr(self._held, "tables", None) or set()
        self._held.tables = held
        if table in held:
            yield
            return
        import fcntl

        deadline = time.monotonic() + (_lock_timeout_s() if timeout is None else timeout)
        fd = os.open(self._lock_file(table), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"timed out waiting for writer lock on table "
                            f"{table!r} (held by another engine/thread; see "
                            f"{self._lock_file(table)})"
                        )
                    time.sleep(0.05)
            os.truncate(fd, 0)
            os.write(fd, f"{os.getpid()}\n".encode())
            held.add(table)
            self._sweep_stale_tmps(table)
            try:
                yield
            finally:
                held.discard(table)
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    @contextlib.contextmanager
    def write_order(self, table: str):
        """Hold ``table``'s writer lock and yield a write-order number
        larger than any handed out for it before: the wall clock in ns,
        bumped past the last one, which is kept beside the lock file so
        it outlives truncates and rewrites and a clock step back cannot
        reorder writes. Rows appended inside the block and stamped with
        it sort after every earlier write's."""
        with self._table_lock(table):
            path = os.path.join(self.root, ".locks", f"{table}.seq")
            try:
                with open(path) as f:
                    last = int(f.read())
            except (FileNotFoundError, ValueError):
                last = 0
            seq = max(time.time_ns(), last + 1)
            with open(path + ".tmp", "w") as f:
                f.write(str(seq))
            os.replace(path + ".tmp", path)
            yield seq

    def _tmp_path(self, table: str) -> str:
        """Unique rewrite staging dir: a FIXED tmp name would let two
        concurrent rewriters write into the same directory before
        either takes the swap lock."""
        return (
            f"{self.path(table)}__tmp_{os.getpid()}_{next(self._tmp_seq)}__"
        )

    def _sweep_stale_tmps(self, table: str) -> None:
        """Remove orphaned rewrite staging dirs (`table__tmp_*__`) left
        by a writer that died between its parquet write and `_swap_in`.
        Safe to run exactly when a FRESH table lock has just been
        acquired: every live writer stages only while holding the lock,
        so any surviving tmp sibling is provably ownerless. Without
        this sweep the unique-named dirs (unlike the old fixed
        `__tmp__` name) would accumulate in the warehouse root
        forever."""
        prefix = os.path.basename(self.path(table)) + "__tmp_"
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return
        for name in names:
            if name.startswith(prefix) and name.endswith("__"):
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _schema_file(self, table: str) -> str:
        return os.path.join(self.path(table), SCHEMA_FILE)

    @staticmethod
    def _sidecar(root: str) -> T.StructType | None:
        """The schema persisted in directory ``root``, or None."""
        try:
            with open(os.path.join(root, SCHEMA_FILE)) as f:
                return T.StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None

    def _scan(self, root: str, paths: list[str] | None = None) -> DataFrame:
        """The one parquet scan of a table directory ``root`` (a table
        or an archived version), over ``paths`` under it (default: all
        of it). With a sidecar, the reader is given its schema plus
        `_month` when the table has `timestamp_ms` (every store write
        partitions such a table by it), so no schema-inference job
        runs; the reader makes every column nullable, as inference
        would. Without one, the schema is inferred. The frame keeps
        `_month`; callers drop it."""
        reader = self.spark.read.option("basePath", root)
        schema = self._sidecar(root)
        if schema is not None:
            if "timestamp_ms" in schema.fieldNames():
                schema = T.StructType(
                    [*schema.fields, T.StructField(MONTH_COL, T.StringType())]
                )
            reader = reader.schema(schema)
        return reader.parquet(*(paths or [root]))

    def _sync_sidecar(self, root: str, schema: T.StructType) -> None:
        """Make ``root``'s sidecar describe rows of ``schema`` about to
        be written there. A sidecar of the same shape is kept as is, so
        the non-null flags `create` persisted survive; a missing one or
        one of another shape (an overwrite with new columns) is
        replaced."""
        cur = self._sidecar(root)
        if cur is None or _shape(cur) != _shape(schema):
            os.makedirs(root, exist_ok=True)
            with open(os.path.join(root, SCHEMA_FILE), "w") as f:
                f.write(schema.json())

    def _has_data(self, table: str) -> bool:
        return _holds_parquet(self.path(table))

    def exists(self, table: str) -> bool:
        return self._has_data(table) or os.path.isfile(self._schema_file(table))

    def create(self, table: str, schema, overwrite_schema: bool = False) -> None:
        """Register an empty table by persisting its schema (no data
        files yet — the partitioned layout stays clean for appends).
        `overwrite_schema` re-persists the sidecar from the given
        schema (the update-schema / ALTER TABLE path)."""
        with self._table_lock(table):
            os.makedirs(self.path(table), exist_ok=True)
            if overwrite_schema or not os.path.isfile(self._schema_file(table)):
                with open(self._schema_file(table), "w") as f:
                    f.write(schema.json())

    def read(self, table: str) -> DataFrame:
        if not self._has_data(table):
            schema = self._sidecar(self.path(table))
            if schema is None:
                raise FileNotFoundError(f"no table {table!r} in {self.root}")
            return local_frame(self.spark, [], schema)
        df = self._scan(self.path(table))
        return df.drop(MONTH_COL) if MONTH_COL in df.columns else df

    def read_months(self, table: str, months: list[str]) -> DataFrame:
        """Read only the given 'yyyy-MM' partition directories: the scan
        is handed just the ones holding data, so both the file listing
        and the read are O(len(months)) regardless of table size, and
        the `_month` IN-list prunes at the directory level
        (PartitionFilters in .explain). The backbone of incremental MV
        refresh and of the watermark lookup."""
        if not self._has_data(table):
            return self.read(table)
        root = self.path(table)
        dirs = [os.path.join(root, f"{MONTH_COL}={m}") for m in months]
        df = self._scan(root, [d for d in dirs if _holds_parquet(d)] or None)
        if MONTH_COL in df.columns:
            df = df.filter(F.col(MONTH_COL).isin(months)).drop(MONTH_COL)
        return df

    def newest_month(self, table: str) -> str | None:
        """The newest `_month` partition ('yyyy-MM') that holds a data
        file, compared as (year, month); None when the table has no such
        partition (unpartitioned, or no data). Every write partitions by
        the month of `timestamp_ms` in the session zone, so with one zone
        this partition holds the table's largest `timestamp_ms`."""
        root = self.path(table)
        months = []
        for entry in os.scandir(root) if os.path.isdir(root) else ():
            key, _, month = entry.name.partition("=")
            ym = re.fullmatch(r"([+-]?\d+)-(\d+)", month)
            if key == MONTH_COL and ym and _holds_parquet(entry.path):
                months.append(((int(ym[1]), int(ym[2])), month))
        return max(months)[1] if months else None

    def read_join_months(self, table: str, months_df: DataFrame) -> DataFrame:
        """Runtime-pruned read: like `read_months`, but the month set is
        a DATAFRAME (computed — "months in this batch", "months failing
        an audit"), not a driver-side list. The broadcast inner join on
        the partition column triggers Spark *dynamic partition pruning*:
        the dim's month set becomes a directory-level PartitionFilter
        (``dynamicpruningexpression`` in .explain), evaluated at runtime
        from the reused broadcast — the fact scan opens only the joined
        months and the driver never ``collect()``s the list. At 100 TB
        this turns "backfill the affected months" from a full-table scan
        (or a driver round-trip) into an O(affected months) scan.

        `months_df`'s first column is taken as the 'yyyy-MM' key; pass a
        FILTERED frame — DPP inserts the pruning subquery only when the
        dim side carries a predicate Spark's isLikelySelective()
        recognizes (comparison / IN / LIKE; a bare boolean attribute
        does not count)."""
        if not self._has_data(table):
            return self.read(table)
        df = self._scan(self.path(table))
        if MONTH_COL not in df.columns:
            return df
        dim = months_df.select(
            F.col(months_df.columns[0]).alias(MONTH_COL)
        ).distinct()
        return df.join(F.broadcast(dim), MONTH_COL).drop(MONTH_COL)

    def read_range(self, table: str, lo_ms: int, hi_ms: int) -> DataFrame:
        """Time-bounded read with *partition* pruning: the `_month`
        predicate eliminates whole partition directories before any file
        is opened (check PartitionFilters in .explain), then the
        `timestamp_ms` predicate prunes row groups via parquet stats.
        This is what makes the idempotent-append anti-join O(batch
        months), not O(table), on a 100 TB table."""
        if not self._has_data(table):
            return self.read(table)
        df = self._scan(self.path(table))
        if MONTH_COL in df.columns:
            lo_m = F.date_format(F.timestamp_millis(F.lit(lo_ms)), "yyyy-MM")
            hi_m = F.date_format(F.timestamp_millis(F.lit(hi_ms)), "yyyy-MM")
            df = df.filter(F.col(MONTH_COL).between(lo_m, hi_m)).drop(MONTH_COL)
        if "timestamp_ms" in df.columns:
            df = df.filter(F.col("timestamp_ms").between(F.lit(lo_ms), F.lit(hi_ms)))
        return df

    def _with_month(self, df: DataFrame) -> DataFrame:
        if "timestamp_ms" in df.columns:
            return df.withColumn(
                MONTH_COL,
                F.date_format(F.timestamp_millis(F.col("timestamp_ms")), "yyyy-MM"),
            )
        return df

    def append(self, table: str, df: DataFrame) -> None:
        with self._table_lock(table):
            self._sync_sidecar(self.path(table), df.schema)
            df = self._with_month(df)
            writer = self._month_clustered(df).write.mode("append")
            if MONTH_COL in df.columns:
                writer = writer.partitionBy(MONTH_COL)
            writer.parquet(self.path(table))

    @staticmethod
    def _month_clustered(df: DataFrame) -> DataFrame:
        """Cluster rows by the month partition column before a
        partitionBy write. Without this, every upstream task writes a
        file into EVERY month directory it touches — up to
        shuffle.partitions files per month per write (guide §6: output
        file sizing) — and each subsequent read pays the listing/open
        cost. The AQE REBALANCE hint is the scale-adaptive form of
        repartition(month): it coalesces small month partitions AND
        splits months larger than the advisory partition size, so
        locally each month lands in one file while a 100 TB month still
        writes from many tasks."""
        if MONTH_COL in df.columns:
            return df.hint("rebalance", MONTH_COL)
        return df

    def _swap_in(
        self,
        table: str,
        tmp: str,
        force_archive: bool = False,
        schema: T.StructType | None = None,
    ) -> None:
        """Complete a tmp-dir rewrite: give ``tmp`` the table's schema
        sidecar unless it brought its own (a restored version's), sync
        it to the ``schema`` of the rows written, atomically replace the
        table dir, and drop cached plans. Losing the sidecar would make
        reads infer the schema again and a later truncate re-derive it
        from a parquet read — all-nullable, drifting from the setup-time
        DDL. The single swap protocol shared by every overwrite-based
        maintenance path (overwrite / compact / cluster / restore), so
        crash-safety fixes land once."""
        sidecar = self._schema_file(table)
        if os.path.exists(sidecar) and not os.path.exists(
            os.path.join(tmp, SCHEMA_FILE)
        ):
            shutil.copyfile(sidecar, os.path.join(tmp, SCHEMA_FILE))
        if schema is not None:
            self._sync_sidecar(tmp, schema)
        final = self.path(table)
        if os.path.isdir(final):
            # Archive only states that hold data: a schema-sidecar-only
            # dir (create() before any write) has nothing to time-travel
            # back to, and read_version can't parquet-scan it anyway.
            if (self.versioned or force_archive) and self._has_data(table):
                vdir = self._versions_dir(table)
                os.makedirs(vdir, exist_ok=True)
                nxt = max(self.versions(table), default=0) + 1
                os.replace(final, os.path.join(vdir, f"v{nxt}"))
            else:
                shutil.rmtree(final)
        os.replace(tmp, final)
        # Invalidate cached plans/file listings for THIS path only.
        # clearCache() here was a sledgehammer: it dropped every cached
        # relation in the session (including persisted lineage cuts and
        # memoized index products belonging to unrelated queries), so a
        # single MV overwrite silently forced session-wide recomputes.
        self.spark.catalog.refreshByPath(final)

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Replace table contents atomically-enough for local use: write
        to a unique temp location, then swap under the table lock — two
        contending overwrites serialize into two distinct archived
        versions instead of a torn tmp dir. (On a real deployment this
        is a Delta/Iceberg `REPLACE` — parquet has no transaction log.)"""
        with self._table_lock(table):
            tmp = self._tmp_path(table)
            schema = df.schema
            df = self._with_month(df)
            writer = self._month_clustered(df).write.mode("overwrite")
            if MONTH_COL in df.columns:
                writer = writer.partitionBy(MONTH_COL)
            writer.parquet(tmp)
            self._swap_in(table, tmp, schema=schema)

    def truncate(
        self, table: str, rows: Callable[[DataFrame], DataFrame] | None = None
    ) -> int:
        """S11: destructive clear with pre-count
        (reference src/database.py:910-935). ``rows`` maps the stored
        rows to the ones to count, for a table whose readers resolve
        it (an append-only log); the count runs under the table lock.

        Like the reference's TRUNCATE/DELETE, the emptied table still
        *exists*: data files go, the `_schema.json` sidecar is
        re-persisted so `exists()`/`read()` keep working on the empty
        table."""
        with self._table_lock(table):
            schema_json = None
            n = 0
            if self.exists(table):
                stored = self.read(table)
                n = (rows(stored) if rows else stored).count()
                # Preserve the setup-time sidecar verbatim: re-deriving the
                # schema from a parquet read would drop non-null flags
                # (parquet reads come back all-nullable) and silently drift
                # a truncated table from a freshly created one.
                sidecar = self._schema_file(table)
                if os.path.exists(sidecar):
                    with open(sidecar) as f:
                        schema_json = f.read()
                else:
                    schema_json = stored.schema.json()
            p = self.path(table)
            if os.path.isdir(p):
                shutil.rmtree(p)
            if schema_json is not None:
                os.makedirs(p, exist_ok=True)
                with open(self._schema_file(table), "w") as f:
                    f.write(schema_json)
            return n

    def delete_where(self, table: str, condition) -> int:
        """Targeted DELETE (GDPR erasure / retention enforcement):
        atomically rewrite the table WITHOUT the rows where
        ``condition`` (a Column predicate) is TRUE — NULL predicates
        KEEP their row, SQL DELETE semantics — archiving the pre-delete
        snapshot first when the store is versioned (the erasure audit
        trail; `vacuum` is the actual forget step). Returns the number
        of rows deleted; 0 leaves the table untouched (no rewrite, no
        new version).

        Scale notes: expressed as one filtered scan + rewrite — on the
        monthly layout the read is partition-pruned by whatever
        predicate bounds the condition, and a real deployment carries
        untouched partitions by reference (Delta/Iceberg DELETE);
        the parquet stand-in rewrites the table under the per-table
        lock like every other mutating path. Prefer a pure-expression
        predicate (hash buckets, key ranges); for tombstone-LIST
        erasure join the list in and pass the match flag as the
        condition."""
        with self._table_lock(table):
            if not self._has_data(table):
                return 0
            cur = self.read(table)
            hit = F.coalesce(condition, F.lit(False))
            n_del = cur.where(hit).count()
            if n_del == 0:
                return 0
            self.overwrite(table, cur.where(~hit))
            return n_del

    def count(self, table: str) -> int:
        return self.read(table).count() if self.exists(table) else 0

    def file_count(self, table: str) -> int:
        n = 0
        for _dir, _sub, files in os.walk(self.path(table)):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def compact(self, table: str, target_file_mb: int = 128) -> tuple[int, int]:
        """Rewrite the table so each partition holds ~target-sized files.

        Every incremental append adds files; at 100 TB the small-files
        tax (per-file open cost, tiny row groups breaking min/max
        pruning) dominates scan time, so periodic compaction is part of
        operating a parquet warehouse (Delta/Iceberg's OPTIMIZE).
        Files-per-partition is sized from actual on-disk bytes; the
        rewrite goes through the atomic `overwrite` swap, preserving the
        `_month` partition layout. Returns (files_before, files_after).
        """
        with self._table_lock(table):
            before = self.file_count(table)
            if before == 0:
                return 0, 0
            total_bytes = 0
            for _dir, _sub, files in os.walk(self.path(table)):
                for f in files:
                    if f.endswith(".parquet"):
                        total_bytes += os.path.getsize(os.path.join(_dir, f))
            n_files = max(1, -(-total_bytes // (target_file_mb << 20)))  # ceil-div
            df = self._scan(self.path(table))
            if MONTH_COL in df.columns:
                # repartition by the partition column: each output task holds
                # whole months → one file per (task, month) pair, no shuffle
                # fan-out across partitions.
                df = df.repartition(int(n_files), MONTH_COL).drop(MONTH_COL)
            else:
                df = df.repartition(int(n_files))
            self.overwrite(table, df)
            return before, self.file_count(table)

    def cluster(
        self,
        table: str,
        sort_cols: list[str],
        target_file_mb: int = 128,
        zorder: bool = False,
        n_files: int | None = None,
        zorder_equidepth: bool = False,
    ) -> tuple[int, int]:
        """Compact + physically reorganize the table for data skipping
        — the parquet equivalent of the reference's covering composite
        B-tree indexes (e.g. `(plant, timestamp)`,
        schema/entsoe_generation.sql:49-75).

        Lexicographic mode (default): range-repartition + sort by
        `sort_cols`, so each output file owns a DISJOINT range of the
        leading column(s) and a filter on a sort-column prefix skips
        whole files via parquet min/max stats. (A round-robin
        repartition would sort within files but give every file the
        full value range — zero file-level skipping.)

        ``zorder=True``: sort by a Morton interleave key over ALL the
        given (numeric) columns instead of lexicographically — each
        file owns a compact hyper-rectangle, so selective filters on
        ANY of the columns skip files, at the cost of slightly weaker
        skipping on the leading column (the OPTIMIZE ... ZORDER
        trade-off). Keys are min/max-normalized to 16 bits per column
        from one stats pass; ≤3 columns (48 key bits).

        Like `compact`, rewrites through the atomic overwrite swap and
        returns (files_before, files_after). Periodic re-clustering is
        the OPTIMIZE analog for append-heavy tables (appends land
        unsorted until the next run)."""
        with self._table_lock(table):
            return self._cluster_locked(
                table, sort_cols, target_file_mb, zorder, n_files,
                zorder_equidepth,
            )

    def _cluster_locked(
        self,
        table: str,
        sort_cols: list[str],
        target_file_mb: int,
        zorder: bool,
        n_files: int | None,
        zorder_equidepth: bool,
    ) -> tuple[int, int]:
        before = self.file_count(table)
        if before == 0:
            return 0, 0
        df = self._scan(self.path(table))
        missing = [
            c for c in sort_cols if c not in df.columns or c == MONTH_COL
        ]
        if missing:
            raise ValueError(f"unknown sort column(s): {', '.join(missing)}")
        if zorder and not 2 <= len(sort_cols) <= 3:
            raise ValueError("zorder needs 2-3 numeric columns")
        if n_files is None:
            total_bytes = 0
            for _dir, _sub, files in os.walk(self.path(table)):
                for f in files:
                    if f.endswith(".parquet"):
                        total_bytes += os.path.getsize(os.path.join(_dir, f))
            n_files = max(1, -(-total_bytes // (target_file_mb << 20)))
        # The sort must be the LAST operator before the write: routing
        # through overwrite() would recompute _month and let the dynamic-
        # partition writer insert its own (non-stable) sort on the
        # partition column, destroying the secondary order. With
        # sortWithinPartitions(MONTH_COL, ...) the child ordering already
        # satisfies the writer's required partition-column ordering, so
        # no extra sort is inserted and files come out sorted.
        tmp = self._tmp_path(table)
        out_cols = df.columns
        if zorder:
            df = df.withColumn(
                "_zkey", morton_key(df, sort_cols, equidepth=zorder_equidepth)
            )
            order_cols = ["_zkey"]
        else:
            order_cols = list(sort_cols)
        # repartitionByRange gives files DISJOINT key ranges (sampled
        # range boundaries); sortWithinPartitions orders inside each.
        # The final select drops helper columns — a projection preserves
        # the sort order, so the writer inserts no extra sort.
        if MONTH_COL in out_cols:
            (
                df.repartitionByRange(int(n_files), MONTH_COL, *order_cols)
                .sortWithinPartitions(MONTH_COL, *order_cols)
                .select(*out_cols)
                .write.mode("overwrite")
                .partitionBy(MONTH_COL)
                .parquet(tmp)
            )
        else:
            (
                df.repartitionByRange(int(n_files), *order_cols)
                .sortWithinPartitions(*order_cols)
                .select(*out_cols)
                .write.mode("overwrite")
                .parquet(tmp)
            )
        self._swap_in(table, tmp)
        return before, self.file_count(table)

    def partition_stats(self, table: str) -> list[dict]:
        """Per-`_month`-partition physical stats (rows, files, bytes) —
        the ops view for retention, compaction, and skew decisions
        (small-file partitions → `compact`, oversized months →
        re-cluster). Rows come from ONE partition-grouped count over
        the parquet footers (metadata-only scan); files/bytes from a
        driver-side directory walk. Unpartitioned tables report a
        single `(all)` row."""
        root = self.path(table)
        if not self._has_data(table):
            return []
        df = self._scan(root)
        if MONTH_COL in df.columns:
            counts = {
                r["m"]: r["n"]
                for r in df.groupBy(F.col(MONTH_COL).alias("m"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        else:
            counts = {"(all)": df.count()}
        phys: dict[str, list[int]] = {}
        for d, _sub, files in os.walk(root):
            part = "(all)"
            for seg in os.path.relpath(d, root).split(os.sep):
                if seg.startswith(f"{MONTH_COL}="):
                    part = seg.split("=", 1)[1]
            for f in files:
                if f.endswith(".parquet"):
                    ent = phys.setdefault(part, [0, 0])
                    ent[0] += 1
                    ent[1] += os.path.getsize(os.path.join(d, f))
        return [
            {
                "partition": str(p),
                "rows": int(counts.get(p, 0)),
                "files": phys.get(str(p), [0, 0])[0],
                "bytes": phys.get(str(p), [0, 0])[1],
            }
            for p in sorted(str(k) for k in counts)
        ]

    # -- Bloom file-skipping index ---------------------------------------

    def _bloom_file(self, table: str, column: str) -> str:
        # Leading underscore → invisible to Spark's file listing.
        return os.path.join(self.path(table), f"_bloom_{column}.json")

    def _parquet_files(self, table: str) -> list[str]:
        """All data files, as paths relative to the table root."""
        root = self.path(table)
        out = []
        for d, _sub, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(
                        os.path.relpath(os.path.join(d, f), root)
                    )
        return sorted(out)

    def build_bloom_index(
        self, table: str, column: str, *, m: int = 3072, k: int = 3
    ) -> int:
        """Build a per-file Bloom filter over ``column`` and persist it
        as a `_bloom_<column>.json` sidecar — point-lookup file skipping
        for columns the physical sort DOESN'T cover (min/max stats and
        `cluster()` skip on the sort key; a high-cardinality secondary
        column gets near-zero skipping from ranges but near-perfect
        skipping from per-file membership bits). The parquet-native
        analog is the column bloom index; this one is engine-portable
        and probeable on the driver with zero Spark jobs.

        Built distributed: one scan grouping set-bit positions by
        `_metadata.file_path`; only packed words (m/48 longs per file)
        reach the driver. Returns the number of files indexed. Files
        appended AFTER the build are absent from the sidecar and are
        always scanned (stale-safe, like the schema sidecars)."""
        from power_generation_etl_spark.operators import bloom as bl

        root = self.path(table)
        files = self._parquet_files(table)
        if not files:
            return 0
        df = self._scan(root)
        key = F.col(column)
        pos = (
            df.select(F.col("_metadata.file_path").alias("f"), key.alias("key"))
            .where(F.col("key").isNotNull())
            .select(
                "f",
                F.explode(
                    F.array(
                        *[
                            bl.bloom_position(F.col("key"), i, m)
                            for i in range(k)
                        ]
                    )
                ).alias("p"),
            )
            .distinct()
        )
        packed = (
            pos.groupBy(
                "f", (F.col("p") / bl.WORD_BITS).cast("bigint").alias("w")
            )
            .agg(
                F.sum(
                    F.element_at(
                        bl._pow2(), (F.col("p") % bl.WORD_BITS).cast("int") + F.lit(1)
                    )
                ).alias("mask")
            )
            .collect()
        )
        n_words = m // bl.WORD_BITS
        per_file: dict[str, list[int]] = {}
        for row in packed:
            rel = os.path.relpath(row["f"].removeprefix("file:"), root)
            per_file.setdefault(rel, [0] * n_words)[int(row["w"])] = int(
                row["mask"]
            )
        # Files with zero non-null rows still get an (all-zero) entry so
        # a probe can skip them — absence means "not indexed", not empty.
        index = {
            "column": column,
            "m": m,
            "k": k,
            "files": {f: per_file.get(f, [0] * n_words) for f in files},
        }
        import json

        tmp = self._bloom_file(table, column) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(index, fh)
        os.replace(tmp, self._bloom_file(table, column))
        return len(files)

    def bloom_prune_paths(
        self, table: str, column: str, value
    ) -> tuple[list[str], int]:
        """Files that may contain ``value`` (absolute paths) + the total
        file count. Driver-only: no Spark job. Unindexed files (no
        sidecar entry — appended after the build) are always kept."""
        import json

        from power_generation_etl_spark.operators import bloom as bl

        root = self.path(table)
        files = self._parquet_files(table)
        sidecar = self._bloom_file(table, column)
        if not os.path.exists(sidecar):
            return [os.path.join(root, f) for f in files], len(files)
        with open(sidecar) as fh:
            index = json.load(fh)
        positions = bl.bloom_positions_py(value, index["m"], index["k"])
        kept = [
            os.path.join(root, f)
            for f in files
            if f not in index["files"]
            or bl.words_contain(index["files"][f], positions)
        ]
        return kept, len(files)

    def read_bloom_pruned(self, table: str, column: str, value) -> DataFrame:
        """Read only the files whose Bloom entry may contain ``value``
        (callers still apply the exact filter — the index is a
        may-contain screen, never a truth source)."""
        kept, _total = self.bloom_prune_paths(table, column, value)
        if not kept:
            return self.read(table).where(F.lit(False))
        df = self._scan(self.path(table), kept)
        return df.drop(MONTH_COL) if MONTH_COL in df.columns else df

    # -- time travel (opt-in versioned snapshots) ------------------------

    def _versions_dir(self, table: str) -> str:
        return os.path.join(self.root, ".versions", table)

    def versions(self, table: str) -> list[int]:
        """Archived version numbers for `table`, oldest first (empty
        when versioning is off or no rewrite has happened yet)."""
        vdir = self._versions_dir(table)
        if not os.path.isdir(vdir):
            return []
        out = []
        for name in os.listdir(vdir):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time-travel read of an archived snapshot (the state the
        table had BEFORE the (version)th rewrite replaced it)."""
        p = os.path.join(self._versions_dir(table), f"v{version}")
        if not os.path.isdir(p):
            raise ValueError(f"no version {version} for table {table}")
        df = self._scan(p)
        return df.drop(MONTH_COL) if MONTH_COL in df.columns else df

    def restore(self, table: str, version: int) -> None:
        """Roll `table` back to an archived snapshot. The current state
        is itself archived first — UNCONDITIONALLY, even on a store
        opened without `versioned=True` (snapshots on disk prove the
        user wants history; forgetting the flag on the restore call
        must not destroy the only copy of the current state). Nothing
        is ever destroyed until `vacuum`."""
        with self._table_lock(table):
            src = os.path.join(self._versions_dir(table), f"v{version}")
            if not os.path.isdir(src):
                raise ValueError(f"no version {version} for table {table}")
            tmp = self._tmp_path(table)
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)
            shutil.copytree(src, tmp)
            self._swap_in(table, tmp, force_archive=True)

    def vacuum(self, table: str, keep: int = 1) -> int:
        """Delete all but the newest `keep` archived versions; returns
        how many were removed. The retention knob that bounds the
        storage cost of time travel."""
        if keep < 0:
            raise ValueError("keep must be >= 0")
        with self._table_lock(table):
            vs = self.versions(table)
            drop = vs[: max(0, len(vs) - keep)]
            for v in drop:
                shutil.rmtree(os.path.join(self._versions_dir(table), f"v{v}"))
            return len(drop)

    def diff_versions(
        self,
        table: str,
        version: int,
        rows: Callable[[DataFrame], DataFrame] | None = None,
    ) -> DataFrame:
        """Change-data-feed between an archived snapshot and the
        current table: rows only in the current state tagged
        ``_change='insert'``, rows only in the snapshot tagged
        ``_change='delete'`` (an updated row appears as one of each).
        Multiset semantics via exceptAll, so duplicate rows diff by
        count, not presence. ``rows`` maps both states' stored rows to
        the ones to compare, as in `truncate`."""
        cur, old = self.read(table), self.read_version(table, version)
        if rows:
            cur, old = rows(cur), rows(old)
        old = old.select(*cur.columns)
        return cur.exceptAll(old).withColumn(
            "_change", F.lit("insert")
        ).unionByName(
            old.exceptAll(cur).withColumn("_change", F.lit("delete"))
        )

    # -- MERGE-style keyed upsert ----------------------------------------

    def merge_upsert(
        self,
        table: str,
        changes: DataFrame,
        keys: list[str],
        order_col: str,
    ) -> None:
        """MERGE equivalent for a log-less parquet warehouse: union the
        change set with the current table and keep, per key, the row
        with the greatest `order_col` — change rows win ties, so
        re-applying the same batch is idempotent. One window shuffle on
        the keys + one atomic overwrite (archived when versioning is
        on). At a 100 TB table the production form partition-prunes the
        rewrite to touched partitions (see refresh_views_incremental
        for the month-pruned pattern).

        Concurrency: the whole read→merge→overwrite runs under the
        table's writer lock — two contending merge_upserts serialize,
        the second re-reading the first's result, so both change sets
        land (each archiving its own version when versioning is on)
        and an interleaved read-modify-write can never lose an update."""
        if not keys:
            raise ValueError("keys must be non-empty")
        with self._table_lock(table):
            self._merge_upsert_locked(table, changes, keys, order_col)

    def _merge_upsert_locked(
        self,
        table: str,
        changes: DataFrame,
        keys: list[str],
        order_col: str,
    ) -> None:
        current = self.read(table).withColumn("_src", F.lit(0))
        incoming = changes.withColumn("_src", F.lit(1))
        combined = current.unionByName(incoming)
        from pyspark.sql.window import Window

        # Final tiebreak: a change batch may itself carry duplicate keys
        # with equal order_col; without a content-stable last key the
        # row_number winner is partition-order-dependent and a crash
        # replay could flip the stored value. Hash of the full row value
        # makes the pick deterministic (and replay a true no-op).
        row_hash = F.md5(
            F.to_json(
                F.struct(*[F.col(c) for c in changes.columns])
            )
        )
        w = Window.partitionBy(*keys).orderBy(
            F.col(order_col).desc(), F.col("_src").desc(), row_hash
        )
        merged = (
            combined.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        # Materialize before the overwrite: the plan reads the table
        # being replaced, and a lazy write-while-reading would race the
        # directory swap.
        merged = merged.localCheckpoint()
        self.overwrite(table, merged)

    # -- bucketed (co-located) tables ------------------------------------

    def write_bucketed(
        self,
        table: str,
        df: DataFrame,
        bucket_cols: list[str],
        n_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Write `table` as a BUCKETED parquet table: rows are hashed
        into `n_buckets` files per partition on `bucket_cols`, and each
        bucket is sorted on `sort_cols` (default: the bucket columns).

        This is the shuffle-elimination path for repeated big-to-big
        joins: two tables bucketed on the same key with the same bucket
        count join with NO Exchange on either side — at 100 TB that
        turns the nightly fact⋈fact join from a full-network shuffle
        into a per-bucket local merge. (Equivalent of the reference's
        PostgreSQL B-tree-indexed join columns, re-expressed as
        physical layout; Spark bucketing survives restarts only via a
        persistent metastore, so on this local session the catalog
        entry is session-scoped while the files live in the store
        root.)"""
        if not bucket_cols:
            raise ValueError("bucket_cols must be non-empty")
        sort_cols = sort_cols or list(bucket_cols)
        # Same writer lock as the rewrite/merge paths: the drop +
        # directory rewrite below would otherwise race a concurrent
        # write_bucketed on the same table.
        with self._table_lock(table):
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            path = self.path(table + "__bucketed")
            if os.path.isdir(path):
                shutil.rmtree(path)
            (
                df.write.mode("overwrite")
                .bucketBy(n_buckets, *bucket_cols)
                .sortBy(*sort_cols)
                .option("path", path)
                .format("parquet")
                .saveAsTable(table)
            )

    def read_bucketed(self, table: str) -> DataFrame:
        """Catalog-backed read of a bucketed table — required (vs a
        plain parquet path read) for the scan to carry the bucket spec
        that lets the planner drop the join Exchange."""
        return self.spark.table(table)


def morton_key(
    df: DataFrame, cols: list[str], bits: int = 16, equidepth: bool = False
):
    """Morton (Z-order) interleave key over 2-3 numeric columns.

    Each column is normalized to ``bits`` bits (one stats job; the
    scalars become expression literals), then bit-interleaved so rows
    close in EVERY dimension get close keys. Range-partitioning +
    sorting by this key packs each output file into a compact
    hyper-rectangle of the value space — the layout behind
    OPTIMIZE ... ZORDER in lakehouse table formats.

    Default normalization is equi-width min/max — pure shift/mask
    codegen, right for roughly uniform columns. ``equidepth=True``
    rank-buckets instead: 2^min(bits,8) approx_percentile boundaries
    per column (t-digest sketch, same single stats job), so a heavily
    skewed column still spreads across all buckets and keeps its
    skipping power; bucket lookup is a sorted-boundary count (array
    HOF — fine for a maintenance rewrite, not a hot path)."""
    n = len(cols)
    if equidepth:
        b = min(bits, 8)  # 256 boundaries/col keeps the sketch + expr sane
        nb = 1 << b
        qs = [i / nb for i in range(1, nb)]
        stats = df.agg(
            *[
                F.approx_percentile(
                    F.col(c).cast("double"),
                    F.array(*[F.lit(q) for q in qs]),
                    F.lit(10_000),
                ).alias(f"q_{i}")
                for i, c in enumerate(cols)
            ]
        ).head()
        key = F.lit(0).cast("bigint")
        for j, c in enumerate(cols):
            bounds = stats[f"q_{j}"]
            if not bounds:
                norm = F.lit(0).cast("bigint")
            else:
                arr = F.array(*[F.lit(float(x)) for x in bounds])
                norm = F.size(
                    F.filter(arr, lambda x: x <= F.col(c).cast("double"))
                ).cast("bigint")
            for i in range(b):
                bit = F.shiftright(norm, i).bitwiseAND(F.lit(1))
                key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
        return key
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).head()
    key = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        mn, mx = stats[f"mn_{j}"], stats[f"mx_{j}"]
        if mn is None or mx is None or mx <= mn:
            norm = F.lit(0).cast("bigint")
        else:
            scaled = (F.col(c).cast("double") - F.lit(float(mn))) * (
                (1 << bits) / (mx - mn)
            )
            norm = F.least(
                F.floor(scaled).cast("bigint"), F.lit((1 << bits) - 1)
            )
        for i in range(bits):
            bit = F.shiftright(norm, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key

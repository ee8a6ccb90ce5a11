"""Concurrent-writer safety for the versioned TableStore (r10).

The reference gets multi-writer safety from PostgreSQL transactions
(reference src/database.py:222-302 — every load runs inside a session
transaction). The parquet TableStore has no transaction log, so it
serializes mutating paths with a per-table advisory flock: two
contending merge_upserts must BOTH land (the second re-reads the
first's result under the lock), two overwrites must produce two intact
archived versions (never a torn tmp dir or a lost archive slot), and a
crashed writer must never deadlock the store (flock dies with its
holder; timeouts raise rather than hang).
"""

from __future__ import annotations

import threading

import pytest

from power_generation_etl_spark.store import TableStore


def _mk_base(spark, n=60):
    return spark.createDataFrame(
        [(i, "A", 0) for i in range(n)], "k long, v string, ver long"
    )


class TestConcurrentMergeUpsert:
    def test_contending_merges_both_land(self, spark, tmp_path):
        """Two threads merge disjoint key sets at once: with the lock
        each sees the other's committed rows (or commits first), so the
        final table holds BOTH change sets — an unlocked interleaving
        would let the later overwrite clobber the earlier merge
        (classic lost update)."""
        store = TableStore(spark, str(tmp_path / "wh"), versioned=True)
        store.overwrite("t", _mk_base(spark))

        errs = []

        def work(tag: str, keys: range) -> None:
            try:
                changes = spark.createDataFrame(
                    [(k, tag, 1) for k in keys], "k long, v string, ver long"
                )
                store.merge_upsert("t", changes, ["k"], "ver")
            except Exception as e:  # surfaced below — a thread must not die
                errs.append(e)

        t1 = threading.Thread(target=work, args=("B", range(0, 10)))
        t2 = threading.Thread(target=work, args=("C", range(30, 40)))
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs, errs

        final = {r["k"]: r["v"] for r in store.read("t").collect()}
        assert len(final) == 60
        assert all(final[k] == "B" for k in range(0, 10))
        assert all(final[k] == "C" for k in range(30, 40))
        assert all(final[k] == "A" for k in range(10, 30))
        # each merge archived the state it replaced: base + first result
        assert store.versions("t") == [1, 2]

    def test_contending_overwrites_never_tear(self, spark, tmp_path):
        """Two concurrent overwrites serialize: the final table equals
        exactly ONE writer's full content (never a mix), and both prior
        states are archived as distinct versions."""
        store = TableStore(spark, str(tmp_path / "wh2"), versioned=True)
        store.overwrite("t", _mk_base(spark, 20))

        def content(tag):
            return spark.createDataFrame(
                [(i, tag, 1) for i in range(20)], "k long, v string, ver long"
            )

        errs = []

        def work(tag):
            try:
                store.overwrite("t", content(tag))
            except Exception as e:
                errs.append(e)

        t1 = threading.Thread(target=work, args=("X",))
        t2 = threading.Thread(target=work, args=("Y",))
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs, errs

        vals = {r["v"] for r in store.read("t").collect()}
        assert vals in ({"X"}, {"Y"})  # one complete table, never a blend
        assert store.versions("t") == [1, 2]


class TestWriterLock:
    def test_lock_is_reentrant_per_thread(self, spark, tmp_path):
        """merge_upsert holds the table lock and calls overwrite(),
        which re-acquires it — same-thread reentry must not deadlock."""
        store = TableStore(spark, str(tmp_path / "wh3"))
        store.overwrite("t", _mk_base(spark, 5))
        with store._table_lock("t"):
            with store._table_lock("t"):
                store.overwrite("t", _mk_base(spark, 5))
        assert store.count("t") == 5

    def test_contender_times_out_rather_than_hangs(self, spark, tmp_path):
        store = TableStore(spark, str(tmp_path / "wh4"))
        store.overwrite("t", _mk_base(spark, 3))
        acquired = threading.Event()
        release = threading.Event()

        def holder():
            with store._table_lock("t"):
                acquired.set()
                release.wait(10)

        t = threading.Thread(target=holder)
        t.start()
        assert acquired.wait(10)
        with pytest.raises(TimeoutError, match="writer lock"):
            with store._table_lock("t", timeout=0.3):
                pass
        release.set()
        t.join()

    @pytest.mark.parametrize("value", ["abc", "nan", "inf", "-1"])
    def test_malformed_lock_timeout_env_raises(self, spark, tmp_path, monkeypatch, value):
        """A bad wait is reported by name when a writer takes a lock;
        nan would otherwise wait forever and -1 time out at once."""
        monkeypatch.setenv("SPARK_ETL_STORE_LOCK_TIMEOUT_S", value)
        store = TableStore(spark, str(tmp_path / "wh6"))
        with pytest.raises(ValueError, match=f"SPARK_ETL_STORE_LOCK_TIMEOUT_S={value!r}"):
            with store._table_lock("t"):
                pass
        monkeypatch.setenv("SPARK_ETL_STORE_LOCK_TIMEOUT_S", "0.5")
        with store._table_lock("t"):
            pass

    def test_crashed_holder_releases_lock(self, spark, tmp_path):
        """flock dies with its holder: after a writer process exits
        without unlocking (simulated by a child that locks and _exits),
        a new writer acquires immediately — no stale-lockfile deadlock,
        the failure mode O_EXCL lockfiles are famous for."""
        import os

        store = TableStore(spark, str(tmp_path / "wh5"))
        store.overwrite("t", _mk_base(spark, 3))
        lock_file = store._lock_file("t")

        pid = os.fork()
        if pid == 0:  # child: take the flock and die holding it
            import fcntl

            fd = os.open(lock_file, os.O_CREAT | os.O_RDWR)
            fcntl.flock(fd, fcntl.LOCK_EX)
            os._exit(0)
        os.waitpid(pid, 0)
        with store._table_lock("t", timeout=2.0):
            pass  # acquiring proves the dead holder's lock evaporated


class TestMetadataUpsertRace:
    """`Engine.upsert_metadata` from several engines on one warehouse:
    no upsert may drop another's run."""

    def test_run_appended_during_a_conflict_upsert_survives(self, spark, tmp_path):
        """Engine A upserts run A again (a conflict) while engine B
        appends run B just before A's write takes the table lock. A
        read-then-rewrite upsert that read before B's append writes the
        table back without run B."""
        import contextlib

        from power_generation_etl_spark.engine import Engine

        wh = str(tmp_path / "wh_meta")
        a, b = Engine(spark, wh), Engine(spark, wh)
        a.upsert_metadata({"extraction_run_id": "run-a", "source": "entsoe", "total_records": 1})
        take_lock = a.store._table_lock
        interleaved = []

        @contextlib.contextmanager
        def b_appends_first(table, timeout=None):
            if table == "extraction_metadata" and not interleaved:
                interleaved.append(table)
                b.upsert_metadata({"extraction_run_id": "run-b", "source": "npp", "total_records": 7})
            with take_lock(table, timeout):
                yield

        a.store._table_lock = b_appends_first
        a.upsert_metadata({"extraction_run_id": "run-a", "source": "entsoe", "total_records": 2})
        assert interleaved
        rows = [(r["extraction_run_id"], r["source"], r["total_records"])
                for r in a.table("extraction_metadata").collect()]
        assert sorted(rows) == [("run-a", "entsoe", 2), ("run-b", "npp", 7)]

    def test_threads_upserting_new_and_conflicting_runs_all_land(self, spark, tmp_path):
        from collections import Counter

        from power_generation_etl_spark.engine import Engine

        wh = str(tmp_path / "wh_meta_threads")
        n_threads, n_runs = 4, 3
        start = threading.Barrier(n_threads)
        errs = []

        def work(i: int) -> None:
            try:
                eng = Engine(spark, wh)
                start.wait(30)
                for j in range(n_runs):
                    run = f"run-{i}-{j}"
                    eng.upsert_metadata({"extraction_run_id": run, "source": "npp", "total_records": 0})
                    eng.upsert_metadata(
                        {"extraction_run_id": run, "source": "npp", "total_records": 10 * i + j,
                         "success": j % 2 == 0}
                    )
            except Exception as e:  # surfaced below — a thread must not die
                errs.append(e)

        threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs
        rows = Engine(spark, wh).table("extraction_metadata").collect()
        assert Counter(r["extraction_run_id"] for r in rows) == Counter(
            f"run-{i}-{j}" for i in range(n_threads) for j in range(n_runs)
        )
        assert {(r["extraction_run_id"], r["total_records"], r["success"]) for r in rows} == {
            (f"run-{i}-{j}", 10 * i + j, j % 2 == 0) for i in range(n_threads) for j in range(n_runs)
        }


_CHILD_MERGE = """
import sys
from pyspark.sql import SparkSession

wh, ready, go = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from power_generation_etl_spark.store import TableStore

store = TableStore(spark, wh, versioned=True)
changes = spark.createDataFrame(
    [(k, "CHILD", 1) for k in range(30, 40)], "k long, v string, ver long"
)
import os, time
open(ready, "w").close()          # JVM is up, change set built
while not os.path.exists(go):     # fire together with the parent
    time.sleep(0.02)
store.merge_upsert("t", changes, ["k"], "ver")
spark.stop()
"""


@pytest.mark.slow
class TestTwoProcessContention:
    def test_contending_merge_from_second_process(self, spark, tmp_path):
        """r11: the r10 suite proved thread contention and fork-based
        lock release; this runs a REAL second engine process (own JVM,
        own TableStore on the same warehouse) merging concurrently with
        the parent. flock is kernel-scoped, so both merges must land —
        the later one re-reading the earlier's committed result under
        the lock — and each must archive its own distinct version."""
        import os
        import subprocess
        import sys

        wh = str(tmp_path / "wh_2proc")
        store = TableStore(spark, wh, versioned=True)
        store.overwrite("t", _mk_base(spark))
        ready = str(tmp_path / "child_ready")
        go = str(tmp_path / "go")

        env = dict(os.environ)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        child = subprocess.Popen(
            [sys.executable, "-c", _CHILD_MERGE, wh, ready, go],
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        try:
            deadline = 120
            import time

            t0 = time.monotonic()
            while not os.path.exists(ready):
                assert child.poll() is None, "child died before ready"
                assert time.monotonic() - t0 < deadline, "child never ready"
                time.sleep(0.1)
            open(go, "w").close()
            parent_changes = spark.createDataFrame(
                [(k, "PARENT", 1) for k in range(0, 10)],
                "k long, v string, ver long",
            )
            store.merge_upsert("t", parent_changes, ["k"], "ver")
            assert child.wait(timeout=180) == 0
        finally:
            if child.poll() is None:
                child.kill()

        final = {r["k"]: r["v"] for r in store.read("t").collect()}
        assert len(final) == 60
        assert all(final[k] == "PARENT" for k in range(0, 10))
        assert all(final[k] == "CHILD" for k in range(30, 40))
        assert all(final[k] == "A" for k in range(10, 30))
        # base + each merge's pre-state: two distinct archived versions
        assert store.versions("t") == [1, 2]

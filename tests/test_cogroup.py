"""cogroup_activity (cogrouped-map Pandas kernel) edge semantics the
oracle exercises only statistically: events-only keys, orders-only
keys, and the STRICT after-last-order boundary — plus bucket-count
invariance of the r11 vectorized bucketed kernels (results must not
depend on how keys hash into kernel invocations)."""

from __future__ import annotations

import pytest

from power_generation_etl_spark.operators.grouped import (
    cogroup_activity,
    sequence_profile,
)


def _frames(spark):
    o = spark.createDataFrame(
        [(1, 100, 500), (1, 200, 700), (3, 50, 1000)],
        "k long, oday long, cents long",
    )
    e = spark.createDataFrame(
        [(1, 200), (1, 201), (1, 199), (2, 10), (2, 11)],
        "ke long, eday long",
    )
    return o, e


def test_outer_edges_and_strict_boundary(spark):
    o, e = _frames(spark)
    got = {
        r["user_id"]: (
            r["n_orders"], r["cents_spent"], r["n_events"],
            r["events_after_last_order"],
        )
        for r in cogroup_activity(o, e, "k", "ke", "oday", "eday", "cents").collect()
    }
    # key 1: last order day 200; events on 199/200/201 → only 201 is
    # strictly after (the ==200 event must NOT count)
    assert got[1] == (2, 1200, 3, 1)
    # key 2: events only → all events count as after
    assert got[2] == (0, 0, 2, 2)
    # key 3: orders only → zero events
    assert got[3] == (1, 1000, 0, 0)


def test_bucket_count_invariance(spark):
    """Bucketing keys into kernel calls is an execution detail: every
    n_buckets must produce the identical per-key rows (n_buckets=1 puts
    ALL keys through one vectorized call; 7 scatters them)."""
    o, e = _frames(spark)

    def run(nb):
        return sorted(
            tuple(r) for r in cogroup_activity(
                o, e, "k", "ke", "oday", "eday", "cents", n_buckets=nb
            ).collect()
        )

    assert run(1) == run(7)


def test_sequence_profile_bucket_invariance_and_runs(spark):
    """Vectorized run-length/median segments must not bleed across key
    boundaries within a bucket: two keys with adjacent rows in the
    sorted bucket frame keep independent runs and medians."""
    rows = [
        # key 10: cents 1,2,3 ascending → run 3, median2x = 4
        (10, 1, 0, 1), (10, 2, 0, 2), (10, 3, 0, 3),
        # key 11: cents 9,1 → run 1, even n: median2x = 1+9 = 10
        (11, 1, 0, 9), (11, 2, 0, 1),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, cents long"
    )

    def run(nb):
        return {
            r["user_id"]: (
                r["n_events"], r["sum_cents"],
                r["median2x_cents"], r["longest_up_run"],
            )
            for r in sequence_profile(
                df, "user_id", ["ts_us", "event_id"], "cents", n_buckets=nb
            ).collect()
        }

    for nb in (1, 5):
        got = run(nb)
        assert got[10] == (3, 6, 4, 3)
        assert got[11] == (2, 10, 10, 1)


def _seq_corpus(spark, seed=7, n_users=12, n_rows=400):
    import random

    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(n_users),
            rng.randrange(10_000),
            i,
            rng.randrange(-50, 200),
        )
        for i in range(n_rows)
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, cents long"
    )


def test_hot_key_routing_identical_sequence_profile(spark):
    """Hot-key routing (r12): keys above the threshold run through the
    JVM gaps-and-islands twin instead of the pandas kernel — the
    emitted rows must be IDENTICAL for every threshold (disabled /
    everything-hot / mixed split)."""
    df = _seq_corpus(spark)

    def run(thr):
        return sorted(
            tuple(r)
            for r in sequence_profile(
                df, "user_id", ["ts_us", "event_id"], "cents",
                hot_key_threshold=thr,
            ).collect()
        )

    base = run(0)  # routing disabled: pure kernel
    assert base == run(1)  # every key hot: pure JVM twin
    assert base == run(30)  # mixed: some keys route, some stay


def test_hot_key_routing_identical_cogroup(spark):
    o, e = _frames(spark)

    def run(thr):
        return sorted(
            tuple(r)
            for r in cogroup_activity(
                o, e, "k", "ke", "oday", "eday", "cents",
                hot_key_threshold=thr,
            ).collect()
        )

    base = run(0)
    assert base == run(1)  # every key hot (combined-rows counting)
    assert base == run(3)  # key 1 hot (2 orders + 3 events), others cold


@pytest.mark.parametrize("raw", ["abc", "inf", "-inf"])
def test_hot_key_threshold_env_rejects_non_finite(monkeypatch, raw):
    """A malformed or non-finite SPARK_ETL_HOTKEY_THRESHOLD fails with
    the descriptive ValueError, not a bare OverflowError from int()."""
    from power_generation_etl_spark.operators.grouped import _hot_threshold

    monkeypatch.setenv("SPARK_ETL_HOTKEY_THRESHOLD", raw)
    with pytest.raises(ValueError, match="SPARK_ETL_HOTKEY_THRESHOLD"):
        _hot_threshold(None)

"""Structured Streaming: file-drop ingest with exactly-once per file,
and event-time windowed rollup with watermark."""

from __future__ import annotations

import json
import time

import pytest

from power_generation_etl_spark.engine import Engine
from power_generation_etl_spark.streaming.ingest import stream_load, streaming_monthly_rollup

RUN_ID = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
NOW = int(time.time() * 1000)
JAN = 1704067200000


def _rec(ts, plant, mwh):
    return {
        "extraction_run_id": RUN_ID,
        "created_at_ms": NOW,
        "timestamp_ms": ts,
        "plant": plant,
        "plant_and_unit": f"{plant} U1",
        "generation_mwh": mwh,
    }


def test_stream_load_exactly_once_per_file(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    engine = Engine(spark, str(tmp_path / "wh"))

    with open(landing / "a.jsonl", "w") as f:
        f.write(json.dumps(_rec(JAN, "P1", 1.0)) + "\n")
        f.write(json.dumps(_rec(JAN, "P2", 2.0)) + "\n")

    q = stream_load(engine, "npp", str(landing), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert engine.store.count("npp_generation") == 2

    # Drop a second file (one new record + one cross-file duplicate).
    with open(landing / "b.jsonl", "w") as f:
        f.write(json.dumps(_rec(JAN, "P2", 999.0)) + "\n")
        f.write(json.dumps(_rec(JAN, "P3", 3.0)) + "\n")

    q2 = stream_load(engine, "npp", str(landing), str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    rows = {
        r["plant"]: r["generation_mwh"]
        for r in engine.table("npp_generation").collect()
    }
    # a.jsonl was NOT reprocessed (checkpoint), P2 dedup held (D2).
    assert rows == {"P1": 1.0, "P2": 2.0, "P3": 3.0}


def test_stream_load_multifile_burst_single_pass(spark, tmp_path):
    """A 3-file burst is loaded by ONE load_jsonl call (one Spark job
    pipeline per micro-batch), with cross-file first-wins dedup in
    lexicographic path order."""
    landing = tmp_path / "landing"
    landing.mkdir()
    engine = Engine(spark, str(tmp_path / "wh"))

    calls = []
    orig = engine.load_jsonl

    def counting_load(source, path, **kw):
        calls.append(path)
        return orig(source, path, **kw)

    engine.load_jsonl = counting_load

    # c.jsonl carries a duplicate of a.jsonl's P1 key — a.jsonl wins.
    with open(landing / "a.jsonl", "w") as f:
        f.write(json.dumps(_rec(JAN, "P1", 1.0)) + "\n")
    with open(landing / "b.jsonl", "w") as f:
        f.write(json.dumps(_rec(JAN, "P2", 2.0)) + "\n")
    with open(landing / "c.jsonl", "w") as f:
        f.write(json.dumps(_rec(JAN, "P1", 999.0)) + "\n")
        f.write(json.dumps(_rec(JAN, "P3", 3.0)) + "\n")

    q = stream_load(engine, "npp", str(landing), str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert len(calls) == 1 and isinstance(calls[0], list) and len(calls[0]) == 3
    assert [p.split("/")[-1] for p in sorted(calls[0])] == [
        "a.jsonl", "b.jsonl", "c.jsonl",
    ]
    rows = {
        r["plant"]: r["generation_mwh"]
        for r in engine.table("npp_generation").collect()
    }
    assert rows == {"P1": 1.0, "P2": 2.0, "P3": 3.0}  # a.jsonl won the P1 key


def test_streaming_monthly_rollup(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"timestamp_ms": JAN, "fuel_type": "Solar", "generation_mwh": 1.0},
        {"timestamp_ms": JAN + 3600_000, "fuel_type": "Solar", "generation_mwh": 2.0},
        {"timestamp_ms": JAN, "fuel_type": "Wind", "generation_mwh": 5.0},
    ]
    with open(src / "e.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema(
            "timestamp_ms long, fuel_type string, generation_mwh double"
        )
        .json(str(src))
    )
    rollup = streaming_monthly_rollup(spark, stream)
    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")  # append emits only closed windows…
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    # …so assert via complete-mode semantics instead: run a second pass
    # in update mode to a new sink to observe the aggregates.
    q2 = (
        rollup.writeStream.format("memory")
        .queryName("rollup_test_upd")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q2.awaitTermination(120)
    got = {
        (r["window_start"], r["fuel_type"]): r["generation_mwh"]
        for r in spark.sql("select * from rollup_test_upd").collect()
    }
    assert got[(list(got)[0][0], "Solar")] == pytest.approx(3.0)
    assert got[(list(got)[0][0], "Wind")] == pytest.approx(5.0)


def test_stream_document_filter(spark, tmp_path):
    """Quality filter + cross-batch exact dedup at intake: low-quality
    docs dropped, duplicate content emitted once."""
    from datetime import datetime, timezone

    from power_generation_etl_spark.streaming.ingest import stream_document_filter

    landing = tmp_path / "docs"
    landing.mkdir()
    good = ("the quick brown fox jumps over the lazy dog and keeps going " * 3).strip()
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc).isoformat()
    rows = [
        {"doc_id": 1, "ingested_at": ts, "lang": "en", "source": "s", "text": good},
        {"doc_id": 2, "ingested_at": ts, "lang": "en", "source": "s", "text": "too short"},
        {"doc_id": 3, "ingested_at": ts, "lang": "en", "source": "s", "text": good},  # dup of 1
        {"doc_id": 4, "ingested_at": ts, "lang": "en", "source": "s", "text": good + " extra tail"},
    ]
    with open(landing / "drop1.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    q = stream_document_filter(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    kept = sorted(r["doc_id"] for r in out.collect())
    # doc 2 fails quality; exactly one of {1,3} survives the dedup
    assert len(kept) == 2 and 4 in kept and 2 not in kept
    assert set(kept) - {4} <= {1, 3}


def test_stream_neardup_intake(spark, tmp_path):
    """MinHash near-dup dedup at intake: within-batch near-dups keep the
    lowest id; docs near-duplicating the persisted store are dropped in
    later batches; distinct docs always survive."""
    from power_generation_etl_spark.streaming.ingest import stream_neardup_intake

    landing = tmp_path / "docs"
    landing.mkdir()
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango")
    other = ("one two three four five six seven eight nine ten eleven twelve "
             "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty")
    ts = "2024-01-01T00:00:00Z"

    def doc(i, text):
        return {"doc_id": i, "ingested_at": ts, "lang": "en", "source": "s",
                "text": text}

    # batch 1: doc 1 and its near-dup doc 2 (one word changed), doc 3 distinct
    with open(landing / "drop1.jsonl", "w") as f:
        for r in [doc(1, base), doc(2, base.replace("tango", "zulu")),
                  doc(3, other)]:
            f.write(json.dumps(r) + "\n")

    args = (str(landing), str(tmp_path / "out"), str(tmp_path / "ck"),
            str(tmp_path / "store"))
    q = stream_neardup_intake(spark, *args)
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in
                  spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1, 3]  # 2 is a within-batch near-dup of 1

    # batch 2: doc 4 near-dups the STORED doc 1; doc 5 is new
    with open(landing / "drop2.jsonl", "w") as f:
        for r in [doc(4, base.replace("alpha", "omega")),
                  doc(5, "completely different words about spark shuffles and "
                         "partitions and codegen and catalyst and tungsten rows")]:
            f.write(json.dumps(r) + "\n")

    q2 = stream_neardup_intake(spark, *args)
    q2.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in
                  spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1, 3, 5]  # 4 dropped against the signature store

def test_stream_document_filter_redacts_pii(spark, tmp_path):
    """PII redaction at intake: the written shard carries placeholders,
    and the dedup fingerprint is computed on the ORIGINAL text."""
    from datetime import datetime, timezone

    from power_generation_etl_spark.streaming.ingest import stream_document_filter

    landing = tmp_path / "docs"
    landing.mkdir()
    base = "write to alice@example.com about the quick brown fox story " * 3
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc).isoformat()
    rows = [
        {"doc_id": 1, "ingested_at": ts, "lang": "en", "source": "s", "text": base},
        {"doc_id": 2, "ingested_at": ts, "lang": "en", "source": "s", "text": base},
    ]
    with open(landing / "drop1.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    q = stream_document_filter(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(out) == 1  # exact dup dropped despite redaction
    assert "[EMAIL]" in out[0]["text"]
    assert "alice@example.com" not in out[0]["text"]

def test_stream_parallelism_scope_serializes_and_restores(spark, tmp_path):
    """The scope mutates session conf (shuffle partitions) with a
    try/finally restore — safe only single-holder-at-a-time. The r12
    RLock makes concurrent entries serialize instead of clobbering each
    other's value / restoring a stale one."""
    import threading
    import time

    from power_generation_etl_spark.plans.queries import (
        stream_parallelism_scope,
    )

    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    trace: list[str] = []

    def enter(tag: str) -> None:
        with stream_parallelism_scope(spark, str(tmp_path)):
            trace.append(tag)
            time.sleep(0.2)
            trace.append(tag)

    threads = [threading.Thread(target=enter, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert trace in (["a", "a", "b", "b"], ["b", "b", "a", "a"])
    assert spark.conf.get(key) == orig


def test_lazy_signatures_match_shingle_table_pipeline(spark):
    """The intake kernel's lazy distinct-free signature builder
    (minhash_signatures_from_docs, r12) must emit row-identical
    signatures to the batch pipeline (shingle_table →
    minhash_signature_table): min() is duplicate-insensitive, so
    skipping the set-dedup and the shingle materialization cannot
    change any component."""
    from power_generation_etl_spark.operators import minhash as mh

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g a b c"),        # internal duplicate shingles
            (2, "a b c d e f g a b c"),        # exact duplicate doc
            (3, "one two"),                     # shorter than n: no shingles
            (4, "x y z x y z x y z w"),
            (5, None),                          # null text
        ],
        "doc_id long, text string",
    )
    old = mh.minhash_signature_table(
        mh.shingle_table(docs, "doc_id", "text", 3), 16, 42
    )
    new = mh.minhash_signatures_from_docs(docs, "doc_id", "text", n=3, k=16, seed=42)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_neardup_intake_retry_is_idempotent(spark, tmp_path):
    """A retried micro-batch (same batch_id, store already holds the
    failed attempt's signatures) must reproduce its survivors — not
    match documents against their own stored signatures and drop the
    whole batch."""
    from power_generation_etl_spark.streaming.ingest import neardup_intake_batch

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "something completely different here "
                                             "with many other words inside")],
        "doc_id long, text string",
    )
    out, store = str(tmp_path / "out"), str(tmp_path / "store")

    neardup_intake_batch(spark, docs, 0, out, store, threshold=0.5)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert len(first) >= 1  # near-dups within the batch deduped

    # simulate the retry: checkpoint never committed, foreachBatch
    # re-runs with the SAME batch_id against the already-written store
    neardup_intake_batch(spark, docs, 0, out, store, threshold=0.5)
    second = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert second == first  # identical survivors, nothing lost

    # a LATER batch replaying the same doc ids IS deduped by the store
    neardup_intake_batch(spark, docs, 1, out, store, threshold=0.5)
    third = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert third == first  # replayed docs dropped, no duplicates added


def test_stream_interval_join(spark, tmp_path):
    from power_generation_etl_spark.streaming.ingest import stream_interval_join

    clicks_dir = tmp_path / "clicks"
    errors_dir = tmp_path / "errs"
    clicks_dir.mkdir()
    errors_dir.mkdir()
    t0 = "2024-01-01T10:00:00"
    with open(clicks_dir / "c.jsonl", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": t0}) + "\n")
        f.write(json.dumps({"user_id": 2, "ts": t0}) + "\n")
    with open(errors_dir / "e.jsonl", "w") as f:
        # user 1: one error inside the 30-min window, one far outside
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01T10:10:00"}) + "\n")
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01T14:00:00"}) + "\n")
        # user 3: error with no click
        f.write(json.dumps({"user_id": 3, "ts": "2024-01-01T10:05:00"}) + "\n")

    schema = "user_id long, ts timestamp"
    clicks = spark.readStream.schema(schema).json(str(clicks_dir))
    errors = spark.readStream.schema(schema).json(str(errors_dir))
    joined = stream_interval_join(clicks, errors)
    q = (
        joined.writeStream.format("memory")
        .queryName("sj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sj"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sj_test").collect()
    assert len(rows) == 1
    assert rows[0]["user_id"] == 1
    assert str(rows[0]["error_ts"]).startswith("2024-01-01 10:10")


def test_stream_document_filter_model_gate(spark, tmp_path):
    from power_generation_etl_spark.streaming.ingest import stream_document_filter

    landing = tmp_path / "landing_gate"
    landing.mkdir()
    good = "spark " * 40 + "query join window agg table"
    bad = "fail " * 30 + "error slow retry null skew and filler words here"
    rows = [
        {"doc_id": 1, "ingested_at": "2024-01-01T00:00:00", "lang": "en",
         "source": "s", "text": good},
        {"doc_id": 2, "ingested_at": "2024-01-01T00:00:01", "lang": "en",
         "source": "s", "text": bad},
    ]
    with open(landing / "d.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = tmp_path / "out_gate"
    q = stream_document_filter(
        spark, str(landing), str(out), str(tmp_path / "ckpt_gate"),
        min_logit=0,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    ids = {r["doc_id"] for r in got.collect()}
    assert ids == {1}


def test_stream_cdc_apply(spark, tmp_path):
    from power_generation_etl_spark.store import TableStore
    from power_generation_etl_spark.streaming.ingest import stream_cdc_apply

    landing = tmp_path / "cdc"
    landing.mkdir()
    store = TableStore(spark, str(tmp_path / "wh"), versioned=True)
    with open(landing / "b1.jsonl", "w") as f:
        f.write(json.dumps({"k": 1, "v": "a", "ord": 1}) + "\n")
        f.write(json.dumps({"k": 2, "v": "b", "ord": 1}) + "\n")
    q = stream_cdc_apply(
        spark, str(landing), store, "cdc_t", ["k"], "ord",
        "k long, v string, ord long", str(tmp_path / "ckpt_cdc"),
    )
    q.awaitTermination(120)
    # second drop: update k=2, insert k=3
    with open(landing / "b2.jsonl", "w") as f:
        f.write(json.dumps({"k": 2, "v": "b2", "ord": 2}) + "\n")
        f.write(json.dumps({"k": 3, "v": "c", "ord": 2}) + "\n")
    q = stream_cdc_apply(
        spark, str(landing), store, "cdc_t", ["k"], "ord",
        "k long, v string, ord long", str(tmp_path / "ckpt_cdc"),
    )
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in store.read("cdc_t").collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # versioned store archived the pre-merge states -> point-in-time read
    assert store.versions("cdc_t")
    v1 = store.read_version("cdc_t", max(store.versions("cdc_t")))
    assert {r["k"]: r["v"] for r in v1.collect()} == {1: "a", 2: "b"}


def test_stream_kmv_cardinality(spark, tmp_path):
    from power_generation_etl_spark.operators import sketch as sk
    from power_generation_etl_spark.streaming.ingest import (
        kmv_estimate_from_store,
        stream_kmv_cardinality,
    )

    landing = tmp_path / "kmv_in"
    landing.mkdir()
    store = tmp_path / "kmv_store"

    def drop(name, vals):
        with open(landing / name, "w") as f:
            for v in vals:
                f.write(json.dumps({"g": "g1", "v": v}) + "\n")

    drop("b1.jsonl", [f"v{i}" for i in range(300)])
    q = stream_kmv_cardinality(
        spark, str(landing), str(store), str(tmp_path / "ck"),
        "g", "v", "g string, v string", k=64,
    )
    q.awaitTermination(120)
    drop("b2.jsonl", [f"v{i}" for i in range(200, 500)])  # 200 overlap
    q = stream_kmv_cardinality(
        spark, str(landing), str(store), str(tmp_path / "ck"),
        "g", "v", "g string, v string", k=64,
    )
    q.awaitTermination(120)

    est = {
        r["grp"]: r["kmv_estimate"]
        for r in kmv_estimate_from_store(spark, str(store), k=64).collect()
    }
    # the streamed/merged estimate must equal the batch KMV over the
    # union of everything seen (mergeability), and the store is bounded
    batch = spark.createDataFrame(
        [("g1", f"v{i}") for i in range(500)], "g string, v string"
    )
    want = sk.kmv_distinct(batch, "g", "v", k=64).collect()[0]["kmv_estimate"]
    assert est["g1"] == want
    # the latest committed version stays bounded at k rows per group
    from power_generation_etl_spark.streaming.ingest import _store_versions

    versions = _store_versions(str(store), "kmv_v")
    assert versions, "no committed store version"
    latest = store / f"kmv_v{versions[-1]}"
    assert spark.read.parquet(str(latest)).count() <= 64


def test_kmv_store_ignores_partial_version(spark, tmp_path):
    from power_generation_etl_spark.streaming.ingest import (
        kmv_estimate_from_store,
        stream_kmv_cardinality,
    )

    landing = tmp_path / "kmv_in2"
    landing.mkdir()
    store = tmp_path / "kmv_store2"
    with open(landing / "b1.jsonl", "w") as f:
        for i in range(50):
            f.write(json.dumps({"g": "g1", "v": f"v{i}"}) + "\n")
    q = stream_kmv_cardinality(
        spark, str(landing), str(store), str(tmp_path / "ck2"),
        "g", "v", "g string, v string", k=64,
    )
    q.awaitTermination(120)
    # simulate a crash mid-write of the next batch: a partial version
    # dir WITHOUT the _SUCCESS marker must be invisible to the reader
    partial = store / "kmv_v99"
    partial.mkdir()
    (partial / "part-garbage.parquet").write_bytes(b"not parquet")
    est = {
        r["grp"]: r["kmv_estimate"]
        for r in kmv_estimate_from_store(spark, str(store), k=64).collect()
    }
    assert est["g1"] == 50  # small-set exact fallback from the committed state


def test_stream_heavy_hitters_misra_gries(spark, tmp_path):
    """MG guarantees across micro-batches: bounded store, est ≤ true ≤
    est + max_err, and every key with true count > max_err present."""
    from power_generation_etl_spark.streaming.ingest import (
        heavy_hitters_from_store,
        stream_heavy_hitters,
    )

    landing = tmp_path / "hh_in"
    landing.mkdir()
    store = tmp_path / "hh_store"
    CAP = 8

    # Zipf-ish truth across two batches + a long tail that overflows
    # the capacity and forces MG decrements.
    true: dict[str, int] = {}

    def drop(name, counts):
        with open(landing / name, "w") as f:
            for key, c in counts.items():
                true[key] = true.get(key, 0) + c
                for _ in range(c):
                    f.write(json.dumps({"k": key}) + "\n")

    drop("b1.jsonl", {"hot1": 60, "hot2": 40, **{f"t{i}": 2 for i in range(20)}})
    q = stream_heavy_hitters(
        spark, str(landing), str(store), str(tmp_path / "hh_ck"),
        "k", "k string", capacity=CAP,
    )
    q.awaitTermination(120)
    drop("b2.jsonl", {"hot1": 30, "hot3": 50, **{f"u{i}": 2 for i in range(20)}})
    q = stream_heavy_hitters(
        spark, str(landing), str(store), str(tmp_path / "hh_ck"),
        "k", "k string", capacity=CAP,
    )
    q.awaitTermination(120)

    rows = heavy_hitters_from_store(spark, str(store)).collect()
    assert 0 < len(rows) <= CAP  # bounded forever
    err = rows[0]["max_err"]
    for r in rows:
        assert r["max_err"] == err  # one global decrement total
        assert r["est_count"] <= true[r["key"]] <= r["est_count"] + err
    present = {r["key"] for r in rows}
    for key, c in true.items():
        if c > err:  # MG presence guarantee
            assert key in present, (key, c, err)
    assert {"hot1", "hot2", "hot3"} <= present


def test_stream_type_drift_monitor(spark, tmp_path):
    """Baseline seeds on batch 1 (no alert); a same-shaped batch 2
    reports near-zero drift; a skewed batch 3 reports the exact
    cross-multiplied L1 ppm."""
    from power_generation_etl_spark.streaming.ingest import (
        stream_type_drift,
        type_drift_alerts,
    )

    landing = tmp_path / "dr_in"
    landing.mkdir()
    store = tmp_path / "dr_store"

    def drop(name, counts):
        with open(landing / name, "w") as f:
            for key, c in counts.items():
                for _ in range(c):
                    f.write(json.dumps({"t": key}) + "\n")

    def run():
        q = stream_type_drift(
            spark, str(landing), str(store), str(tmp_path / "dr_ck"),
            "t", "t string",
        )
        q.awaitTermination(120)

    drop("b1.jsonl", {"a": 50, "b": 50})
    run()
    assert type_drift_alerts(spark, str(store)).count() == 0  # baseline seed

    drop("b2.jsonl", {"a": 25, "b": 25})  # identical shape → drift 0
    run()
    drop("b3.jsonl", {"a": 60, "b": 0})  # hard skew
    run()

    alerts = {
        r["batch_id"]: r["drift_ppm"]
        for r in type_drift_alerts(spark, str(store)).collect()
    }
    assert len(alerts) == 2
    ppm = sorted(alerts.values())
    assert ppm[0] == 0  # identical distribution
    # batch 3 vs baseline {a:75, b:75}: |60·150−75·60| + |0·150−75·60| =
    # 4500+4500 = 9000; 9000·1e6 // (150·60) = 1_000_000 (L1 = 1.0).
    assert ppm[1] == 1_000_000


def test_native_session_window(spark, tmp_path):
    """Native session_window sessionizer: two bursts 2h apart for one
    user become two sessions; session_end = last event + gap."""
    import datetime as dt

    from power_generation_etl_spark.streaming.stateful import sessionize_native

    landing = tmp_path / "sw_in"
    landing.mkdir()
    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def iso(minutes):
        return (base + dt.timedelta(minutes=minutes)).strftime(
            "%Y-%m-%dT%H:%M:%S"
        )

    rows = [
        {"ts": iso(0), "user_id": 1, "value": 1.0},
        {"ts": iso(10), "user_id": 1, "value": 2.0},
        {"ts": iso(130), "user_id": 1, "value": 4.0},  # > 30min gap
        {"ts": iso(500), "user_id": 99, "value": 0.0},  # watermark pusher
    ]
    with open(landing / "b1.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .json(str(landing))
    )
    out = sessionize_native(stream, gap="30 minutes", watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("native_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sw_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"].minute, r["n_events"]): r["total_value"]
        for r in spark.sql(
            "SELECT * FROM native_sessions WHERE user_id = 1"
        ).collect()
    }
    # burst 1: events at :00 and :10 → one session of 2, total 3.0
    # burst 2: single event at +130min (minute 10 of 14:xx) → 1 event
    assert got == {(1, 0, 2): 3.0, (1, 10, 1): 4.0}


def test_heavy_hitters_error_survives_emptied_summary(spark, tmp_path):
    """Regression: a truncation that zeroes every counter must still
    carry the cumulative decrement into the next batch (the NULL-key
    meta row) — otherwise the est<=true<=est+max_err bound silently
    resets."""
    from power_generation_etl_spark.streaming.ingest import (
        heavy_hitters_from_store,
        stream_heavy_hitters,
    )

    landing = tmp_path / "hh2_in"
    landing.mkdir()
    store = tmp_path / "hh2_store"
    true: dict[str, int] = {}

    def drop(name, counts):
        with open(landing / name, "w") as f:
            for key, c in counts.items():
                true[key] = true.get(key, 0) + c
                for _ in range(c):
                    f.write(json.dumps({"k": key}) + "\n")

    def run():
        q = stream_heavy_hitters(
            spark, str(landing), str(store), str(tmp_path / "hh2_ck"),
            "k", "k string", capacity=2,
        )
        q.awaitTermination(120)

    drop("b1.jsonl", {"a": 3, "b": 3, "c": 3})  # 3 tied keys, cap 2 → all cut
    run()
    drop("b2.jsonl", {"a": 2, "x": 1, "y": 1})
    run()

    rows = heavy_hitters_from_store(spark, str(store)).collect()
    assert rows, "summary must not be empty after batch 2"
    err = rows[0]["max_err"]
    assert err >= 3  # batch-1 decrement of 3 must survive, plus batch 2's
    for r in rows:
        assert r["est_count"] <= true[r["key"]] <= r["est_count"] + err
    # absent keys must be coverable by the bound: true(b)=3 <= err
    present = {r["key"] for r in rows}
    for key, c in true.items():
        if key not in present:
            assert c <= err, (key, c, err)


def test_stream_hll_cardinality_merges_as_batch(spark, tmp_path):
    from power_generation_etl_spark.operators import sketch as sk
    from power_generation_etl_spark.streaming.ingest import (
        _store_versions,
        hll_estimate_from_store,
        stream_hll_cardinality,
    )

    landing = tmp_path / "hll_in"
    landing.mkdir()
    store = tmp_path / "hll_store"

    def drop(name, vals):
        with open(landing / name, "w") as f:
            for v in vals:
                f.write(json.dumps({"g": "g1", "v": v}) + "\n")

    drop("b1.jsonl", [f"v{i}" for i in range(300)])
    q = stream_hll_cardinality(
        spark, str(landing), str(store), str(tmp_path / "ck"),
        "g", "v", "g string, v string",
    )
    q.awaitTermination(120)
    drop("b2.jsonl", [f"v{i}" for i in range(200, 500)])  # 100 overlap
    q = stream_hll_cardinality(
        spark, str(landing), str(store), str(tmp_path / "ck"),
        "g", "v", "g string, v string",
    )
    q.awaitTermination(120)

    est = {
        r["grp"]: (r["z_scaled"], r["hll_estimate"])
        for r in hll_estimate_from_store(spark, str(store)).collect()
    }
    # streamed/merged registers must equal the batch sketch over the
    # union of everything ever seen (mergeability), overlap included
    batch = spark.createDataFrame(
        [("g1", f"v{i}") for i in range(500)], "g string, v string"
    )
    want = sk.hll_distinct(batch, "g", "v").collect()[0]
    assert est["g1"] == (want["z_scaled"], want["hll_estimate"])
    # the committed store stays bounded at m rows per group
    versions = _store_versions(str(store), "hll_v")
    assert versions, "no committed store version"
    latest = store / f"hll_v{versions[-1]}"
    assert spark.read.parquet(str(latest)).count() <= 64


def _delete_last_commit(ckpt) -> int:
    """Crash injection: remove the newest `commits/<n>` marker so a
    restart believes batch n never committed and REPLAYS it from the
    surviving offsets log — the standard Structured Streaming
    crash-between-write-and-commit window."""
    import os

    commits = os.path.join(str(ckpt), "commits")
    ids = sorted(
        int(f) for f in os.listdir(commits) if f.isdigit()
    )
    assert ids, "no committed batches to attack"
    os.remove(os.path.join(commits, str(ids[-1])))
    # the checksum sidecar must die with its data file, or Spark 4's
    # ChecksumCheckpointFileManager reads the orphan as a concurrent
    # writer and refuses the restart
    crc = os.path.join(commits, f".{ids[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return ids[-1]


def test_kmv_store_survives_injected_replay(spark, tmp_path):
    """r11 crash/resume injection: after both rounds commit, delete the
    round-2 commit marker and restart from the same checkpoint. Spark
    replays batch 1 against a store that ALREADY holds kmv_v1 — the
    versioned protocol (rebuild v<batch> from the latest complete
    version with id < batch) must make the replay byte-idempotent."""
    import json as _json

    from power_generation_etl_spark.streaming.ingest import (
        kmv_estimate_from_store,
        stream_kmv_cardinality,
    )

    landing = tmp_path / "kmv_in"
    landing.mkdir()
    store = str(tmp_path / "kmv_store")
    ckpt = tmp_path / "ck"

    def drop(name, vals):
        with open(landing / name, "w") as f:
            for v in vals:
                f.write(_json.dumps({"g": "g1", "v": v}) + "\n")

    def run():
        q = stream_kmv_cardinality(
            spark, str(landing), store, str(ckpt),
            "g", "v", "g string, v string", k=64,
        )
        q.awaitTermination(120)

    drop("b1.jsonl", [f"v{i}" for i in range(300)])
    run()
    drop("b2.jsonl", [f"v{i}" for i in range(200, 500)])
    run()

    def snapshot():
        est = {
            r["grp"]: r["kmv_estimate"]
            for r in kmv_estimate_from_store(spark, store, k=64).collect()
        }
        from power_generation_etl_spark.streaming.ingest import (
            _store_versions,
        )

        v = _store_versions(store, "kmv_v")[-1]
        rows = sorted(
            map(tuple, spark.read.parquet(f"{store}/kmv_v{v}").collect())
        )
        return est, v, rows

    before = snapshot()
    replayed = _delete_last_commit(ckpt)
    assert replayed == 1
    run()  # restart: replays batch 1 from the offsets log
    assert snapshot() == before


def test_cdc_apply_survives_injected_replay(spark, tmp_path):
    """r11 crash/resume injection for the streamed CDC apply: replaying
    the second change batch through merge_upsert must leave the CURRENT
    table byte-identical (greatest-order_col-wins is idempotent under
    re-application of the same batch)."""
    from power_generation_etl_spark.store import TableStore
    from power_generation_etl_spark.streaming.ingest import stream_cdc_apply

    landing = tmp_path / "cdc"
    landing.mkdir()
    store = TableStore(spark, str(tmp_path / "wh"), versioned=True)
    ckpt = tmp_path / "ckpt_cdc"

    def run():
        q = stream_cdc_apply(
            spark, str(landing), store, "cdc_t", ["k"], "ord",
            "k long, v string, ord long", str(ckpt),
        )
        q.awaitTermination(120)

    with open(landing / "b1.jsonl", "w") as f:
        f.write(json.dumps({"k": 1, "v": "a", "ord": 1}) + "\n")
        f.write(json.dumps({"k": 2, "v": "b", "ord": 1}) + "\n")
    run()
    with open(landing / "b2.jsonl", "w") as f:
        f.write(json.dumps({"k": 2, "v": "b2", "ord": 2}) + "\n")
        f.write(json.dumps({"k": 3, "v": "c", "ord": 2}) + "\n")
    run()
    want = sorted(map(tuple, store.read("cdc_t").collect()))
    n_versions_before = len(store.versions("cdc_t"))

    replayed = _delete_last_commit(ckpt)
    assert replayed == 1
    run()  # replay batch 1's merge_upsert against the merged table
    got = sorted(map(tuple, store.read("cdc_t").collect()))
    assert got == want == sorted(
        [(1, "a", 1), (2, "b2", 2), (3, "c", 2)]
    )
    # the replay archives one more pre-merge version; the newest archive
    # equals the pre-replay CURRENT state (nothing was lost or doubled)
    vs = store.versions("cdc_t")
    assert len(vs) == n_versions_before + 1
    newest = sorted(map(tuple, store.read_version("cdc_t", vs[-1]).collect()))
    assert newest == want


def test_stream_bottomk_sample_quantiles(spark, tmp_path):
    """Streamed bottom-k sample store across two availableNow runs
    equals the batch sketch over the union (mergeability), and the
    committed store stays bounded at k rows per group."""
    from power_generation_etl_spark.operators import sketch as sk
    from power_generation_etl_spark.streaming.ingest import (
        _store_versions,
        quantiles_from_store,
        stream_bottomk_sample,
    )

    landing = tmp_path / "qs_in"
    landing.mkdir()
    store = tmp_path / "qs_store"
    schema = "g string, k long, v double"

    def drop(name, keys):
        with open(landing / name, "w") as f:
            for k in keys:
                f.write(json.dumps({"g": "g1", "k": k, "v": k * 0.5}) + "\n")

    def run():
        q = stream_bottomk_sample(
            spark, str(landing), str(store), str(tmp_path / "ck"),
            "g", "k", "v", schema, k=16,
        )
        q.awaitTermination(120)

    drop("b1.jsonl", range(0, 300))
    run()
    drop("b2.jsonl", range(200, 500))  # 100-key overlap with b1
    run()

    got = sorted(
        map(tuple, quantiles_from_store(spark, str(store), [50, 90]).collect())
    )
    batch = spark.createDataFrame(
        [("g1", k, k * 0.5) for k in range(500)], schema
    )
    want = sorted(
        map(
            tuple,
            sk.sample_quantiles(
                sk.bottomk_sample(batch, "g", "k", "v", k=16), [50, 90]
            ).collect(),
        )
    )
    assert got == want
    versions = _store_versions(str(store), "qs_v")
    assert versions, "no committed store version"
    latest = store / f"qs_v{versions[-1]}"
    assert spark.read.parquet(str(latest)).count() <= 16


def test_stream_ivf_ingest_postings(spark, tmp_path):
    """Streamed IVF postings across two availableNow runs equal the
    batch assignment over the union; a replayed shard (same batch dir
    rewritten) never double-counts."""
    from pyspark.sql import functions as F

    from power_generation_etl_spark.operators import similarity as sim
    from power_generation_etl_spark.streaming.ingest import (
        ivf_cells_from_store,
        stream_ivf_ingest,
    )

    dim = 4
    vecs = [(i, [float((i * 7 + j * 3) % 11) for j in range(dim)]) for i in range(40)]
    cents = [(c, v) for c, (_, v) in enumerate(vecs[:3])]
    landing = tmp_path / "ivf_in"
    landing.mkdir()
    store = tmp_path / "ivf_store"
    schema = "vec_id long, embedding array<double>"

    def drop(name, rows):
        with open(landing / name, "w") as f:
            for i, v in rows:
                f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")

    def run():
        q = stream_ivf_ingest(
            spark, str(landing), str(store), str(tmp_path / "ck"),
            "vec_id", "embedding", cents, schema,
        )
        q.awaitTermination(120)

    drop("b1.jsonl", vecs[:25])
    run()
    drop("b2.jsonl", vecs[25:])
    run()

    got = sorted(map(tuple, ivf_cells_from_store(spark, str(store)).collect()))
    batch = spark.createDataFrame(vecs, schema)
    want = sorted(
        map(
            tuple,
            batch.select(
                F.col("vec_id").alias("id"),
                sim.assign_cell(
                    sim.as_double_array(F.col("embedding")), cents
                ).alias("cell"),
            )
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.sum("id").cast("long").alias("vecid_sum"),
            )
            .collect(),
        )
    )
    assert got == want

    # simulate an at-least-once replay: duplicate one shard's postings
    # into a NEW committed shard id — the reader's id-dedup holds
    import shutil as _sh

    src = store / "ivf_b0"
    dup = store / "ivf_b7"
    _sh.copytree(str(src), str(dup))
    again = sorted(map(tuple, ivf_cells_from_store(spark, str(store)).collect()))
    assert again == want


def test_quantile_store_survives_injected_replay(spark, tmp_path):
    """r11 crash/resume injection for the bottom-k quantile store:
    replaying the last batch against a store that already holds its
    version must be byte-idempotent (the qs_v<batch> rebuild-from-
    older-version protocol, plus sample membership being a pure
    function of the key set)."""
    from power_generation_etl_spark.streaming.ingest import (
        _store_versions,
        quantiles_from_store,
        stream_bottomk_sample,
    )

    landing = tmp_path / "qs_in"
    landing.mkdir()
    store = str(tmp_path / "qs_store")
    ckpt = tmp_path / "ck"
    schema = "g string, k long, v double"

    def drop(name, keys):
        with open(landing / name, "w") as f:
            for k in keys:
                f.write(json.dumps({"g": "g1", "k": k, "v": k * 0.25}) + "\n")

    def run():
        q = stream_bottomk_sample(
            spark, str(landing), store, str(ckpt), "g", "k", "v", schema, k=16,
        )
        q.awaitTermination(120)

    drop("b1.jsonl", range(0, 200))
    run()
    drop("b2.jsonl", range(150, 400))
    run()

    def snapshot():
        v = _store_versions(store, "qs_v")[-1]
        rows = sorted(map(tuple, spark.read.parquet(f"{store}/qs_v{v}").collect()))
        qs = sorted(
            map(tuple, quantiles_from_store(spark, store, [50, 90]).collect())
        )
        return v, rows, qs

    before = snapshot()
    assert _delete_last_commit(ckpt) == 1
    run()  # restart: replays batch 1
    assert snapshot() == before


def test_ivf_ingest_survives_injected_replay(spark, tmp_path):
    """r11 crash/resume injection for the IVF postings store: a
    replayed batch rewrites its own deterministic ivf_b<batch> shard
    (overwrite mode) — the index must stay byte-identical."""
    from power_generation_etl_spark.streaming.ingest import (
        ivf_cells_from_store,
        stream_ivf_ingest,
    )

    dim = 4
    vecs = [(i, [float((i * 5 + j) % 13) for j in range(dim)]) for i in range(60)]
    cents = [(c, v) for c, (_, v) in enumerate(vecs[:3])]
    landing = tmp_path / "ivf_in"
    landing.mkdir()
    store = str(tmp_path / "ivf_store")
    ckpt = tmp_path / "ck"
    schema = "vec_id long, embedding array<double>"

    def drop(name, rows):
        with open(landing / name, "w") as f:
            for i, v in rows:
                f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")

    def run():
        q = stream_ivf_ingest(
            spark, str(landing), store, str(ckpt),
            "vec_id", "embedding", cents, schema,
        )
        q.awaitTermination(120)

    drop("b1.jsonl", vecs[:30])
    run()
    drop("b2.jsonl", vecs[30:])
    run()

    before = sorted(map(tuple, ivf_cells_from_store(spark, store).collect()))
    assert _delete_last_commit(ckpt) == 1
    run()
    after = sorted(map(tuple, ivf_cells_from_store(spark, store).collect()))
    assert after == before


def test_stream_expectations_monitor(spark, tmp_path):
    """Streamed expectations store across two availableNow runs equals
    the batch suite over the union; non-mergeable suites are rejected;
    a replayed batch is idempotent (commit-marker injection)."""
    from power_generation_etl_spark.operators.expectations import Suite
    from power_generation_etl_spark.streaming.ingest import (
        expectations_from_store,
        stream_expectations,
    )

    def suite():
        return (
            Suite()
            .size_at_least(10)
            .completeness("tag")
            .values_in("tag", ["a", "b"])
            .min_scaled_between("v", -100_000, 100_000, scale=100)
            .max_scaled_between("v", -100_000, 100_000, scale=100)
            .mean_scaled_between("v", -100_000, 100_000, scale=100)
        )

    landing = tmp_path / "qx_in"
    landing.mkdir()
    store = str(tmp_path / "qx_store")
    ckpt = tmp_path / "ck"
    schema = "id long, tag string, v double"

    def rows_for(rng):
        out = []
        for i in rng:
            out.append(
                {
                    "id": i,
                    "tag": ["a", "b", "zz", None][i % 4],
                    "v": (i - 20) * 1.37,
                }
            )
        return out

    def drop(name, rng):
        with open(landing / name, "w") as f:
            for r in rows_for(rng):
                f.write(json.dumps(r) + "\n")

    def run():
        q = stream_expectations(
            spark, str(landing), store, str(ckpt), suite(), schema
        )
        q.awaitTermination(120)

    drop("b1.jsonl", range(0, 25))
    run()
    drop("b2.jsonl", range(25, 60))
    run()

    got = sorted(
        map(tuple, expectations_from_store(spark, store, suite()).collect())
    )
    batch = spark.createDataFrame(
        [(r["id"], r["tag"], r["v"]) for r in rows_for(range(60))], schema
    )
    want = sorted(map(tuple, suite().run(batch).collect()))
    assert got == want

    # crash injection: replaying the last batch must not double-merge
    before = got
    assert _delete_last_commit(ckpt) == 1
    run()
    after = sorted(
        map(tuple, expectations_from_store(spark, store, suite()).collect())
    )
    assert after == before

    # batch-only checks are rejected up front
    bad = Suite().uniqueness("id")
    with pytest.raises(ValueError, match="not mergeable"):
        stream_expectations(
            spark, str(landing), store, str(tmp_path / "ck2"), bad, schema
        )


def test_stream_expectations_grouped_monitor(spark, tmp_path):
    """Per-group streaming expectations: merged per-shard metrics equal
    the batch run_grouped over the union; a group appearing only in
    round 2 still gets its row (merge must not inner-join groups)."""
    from power_generation_etl_spark.operators.expectations import Suite
    from power_generation_etl_spark.streaming.ingest import (
        grouped_expectations_from_store,
        stream_expectations,
    )

    def suite():
        return (
            Suite()
            .size_at_least(5)
            .completeness("tag")
            .mean_scaled_between("v", -1_000_000, 1_000_000, scale=100)
        )

    landing = tmp_path / "qg_in"
    landing.mkdir()
    store = str(tmp_path / "qg_store")
    schema = "id long, src string, tag string, v double"

    def rows_for(rng, srcs):
        return [
            {"id": i, "src": srcs[i % len(srcs)],
             "tag": None if i % 5 == 0 else "t", "v": (i - 7) * 0.93}
            for i in rng
        ]

    def drop(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run():
        q = stream_expectations(
            spark, str(landing), store, str(tmp_path / "ck"), suite(),
            schema, group_col="src",
        )
        q.awaitTermination(120)

    r1 = rows_for(range(0, 20), ["s1", "s2"])
    r2 = rows_for(range(20, 45), ["s1", "s2", "s3"])  # s3 is round-2-only
    drop("b1.jsonl", r1)
    run()
    drop("b2.jsonl", r2)
    run()

    got = sorted(
        map(tuple, grouped_expectations_from_store(spark, store, suite()).collect())
    )
    batch = spark.createDataFrame(
        [(r["id"], r["src"], r["tag"], r["v"]) for r in r1 + r2], schema
    )
    want = sorted(map(tuple, suite().run_grouped(batch, "src").collect()))
    assert got == want
    assert any(t[0] == "s3" for t in got)  # round-2-only group present


def test_stream_text_index_matches_batch_build(spark, tmp_path):
    """Streaming index shards, merged, must equal the BATCH inverted
    index (build_inverted_index) over the same docs — tokenizer parity
    between the two maintenance paths, per (term, doc_id, tf) row."""
    from power_generation_etl_spark.operators.textindex import (
        build_inverted_index,
    )
    from power_generation_etl_spark.streaming.ingest import (
        stream_text_index_ingest,
        term_stats_from_store,
    )

    docs = [
        (1, "The quick brown fox"),
        (2, "the  LAZY dog"),
        (3, "quick quick fox"),
        (4, None),
        (5, "dog"),
    ]
    landing = tmp_path / "ix_in"
    landing.mkdir()
    store = str(tmp_path / "ix_store")
    ckpt = tmp_path / "ck"

    def drop(name, rows):
        with open(landing / name, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    def run():
        q = stream_text_index_ingest(
            spark, str(landing), store, str(ckpt),
            "doc_id", "text", "doc_id long, text string",
        )
        q.awaitTermination(120)

    drop("b1.jsonl", docs[:2])
    run()
    drop("b2.jsonl", docs[2:])
    run()

    streamed = spark.read.parquet(
        f"{store}/ix_b0", f"{store}/ix_b1"
    ).select("term", "doc_id", "tf")
    df = spark.createDataFrame(docs, "doc_id long, text string")
    ix_dir = str(tmp_path / "batch_ix")
    build_inverted_index(df, "doc_id", "text", ix_dir, n_buckets=4)
    batch = spark.read.parquet(ix_dir).select("term", "doc_id", "tf")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    top = term_stats_from_store(spark, store, k=2).collect()
    # df ties (dog/fox/quick/the all df=2) break lexicographically
    assert [(r["term"], r["df"]) for r in top] == [("dog", 2), ("fox", 2)]


def test_text_index_survives_injected_replay(spark, tmp_path):
    """Crash/resume injection for the text-index store: deleting the
    last commit forces the batch to replay; the deterministic
    ix_b<batch> overwrite must leave merged stats byte-identical."""
    from power_generation_etl_spark.streaming.ingest import (
        stream_text_index_ingest,
        term_stats_from_store,
    )

    landing = tmp_path / "ix_in"
    landing.mkdir()
    store = str(tmp_path / "ix_store")
    ckpt = tmp_path / "ck"

    def drop(name, rows):
        with open(landing / name, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    def run():
        q = stream_text_index_ingest(
            spark, str(landing), store, str(ckpt),
            "doc_id", "text", "doc_id long, text string",
        )
        q.awaitTermination(120)

    drop("b1.jsonl", [(i, f"tok{i % 7} tok{i % 3}") for i in range(40)])
    run()
    drop("b2.jsonl", [(i, f"tok{i % 5}") for i in range(40, 80)])
    run()

    before = sorted(map(tuple, term_stats_from_store(spark, store).collect()))
    assert _delete_last_commit(ckpt) == 1
    run()
    after = sorted(map(tuple, term_stats_from_store(spark, store).collect()))
    assert after == before

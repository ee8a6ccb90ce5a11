"""Structured Streaming ingestion + incremental MV maintenance.

The reference is batch-only (SURVEY §2.11): its "streaming ingestion"
is bounded line-batch reading, and its incremental orchestration is a
watermark query + month-chunked re-extraction (src/incremental_extract.py).
This module is the Spark-native upgrade path for both:

- `stream_load`: a file-source stream over a landing directory of
  JSONL drops. Each micro-batch runs the SAME validation + idempotent
  append as the batch path (foreachBatch), so semantics are identical
  and exactly-once per file is inherited from the file source's
  checkpointed file tracking. `Trigger.AvailableNow` turns the same
  query into the reference's catch-up batch job.
- `streaming_monthly_rollup`: event-time tumbling-window aggregation
  with a watermark for late data — the incremental version of the
  monthly MVs (A1-A5): at 100 TB you don't recompute 47.5M-row months,
  you update only the open windows.

Every stream here runs through `run_to_end`: checkpointed, with
`Trigger.AvailableNow`, waited on and stopped, so one call processes
what has landed and returns the finished query. The mergeable sketch
stores (KMV, Misra-Gries, drift baseline, HLL registers, bottom-k
sample, expectations metrics) share one crash-safe version protocol,
`_commit_version`: micro-batch `n` writes the directory `<prefix><n>`,
built by merging the newest COMPLETE version (one carrying Spark's
`_SUCCESS` marker) with an id below `n`, then deletes the versions
older than that merge source. A crash mid-write leaves a version
without `_SUCCESS`, which no merge and no reader ever reads; a
replayed batch rebuilds its own version from the same older one; the
merge source is kept until the next batch commits. This is sound
because the stores are mergeable summaries (Agarwal et al., "Mergeable
Summaries", PODS 2012): merging a batch into the summary of everything
before it equals the summary of the union.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from power_generation_etl_spark.session import local_frame


_INTERVAL_UNITS_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def _interval_us(spec: str) -> int:
    """'30 minutes' -> 1_800_000_000 µs (the simple `N unit` interval
    forms the streaming operators accept)."""
    n, unit = spec.strip().split()
    return int(n) * _INTERVAL_UNITS_US[unit.lower()]


def run_to_end(writer, checkpoint_dir: str) -> StreamingQuery:
    """Run a configured `DataStreamWriter` as a catch-up run to its end:
    checkpointed at `checkpoint_dir`, `Trigger.AvailableNow` (process
    everything that has landed), waited on so that the query's own
    failure is raised here, and stopped also when it fails. Returns the
    finished query."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return q


def stream_load(
    engine,
    source: str,
    landing_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuously load JSONL files dropped into `landing_dir`.

    Uses wholetext file streaming so the per-file fixup/validation
    pipeline (first-record-gated injection, first-wins dedup) keeps its
    file-scoped semantics; foreachBatch routes discovered files through
    Engine.load_jsonl.

    An N-file burst loads in ONE load_jsonl pass — one Spark job
    pipeline per micro-batch instead of N sequential driver-side loads;
    first-wins dedup across the burst follows lexicographic path order
    and the batch shares one lineage row."""
    spark = engine.spark
    stream = (
        spark.readStream.format("text")
        .option("wholetext", True)
        .schema("value string")
        .load(landing_dir)
        .select(F.input_file_name().alias("path"))
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        paths = sorted(r["path"] for r in batch_df.select("path").distinct().collect())
        if paths:
            engine.load_jsonl(source, paths)

    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def streaming_monthly_rollup(
    spark: SparkSession,
    events: DataFrame,
    watermark: str = "1 day",
) -> DataFrame:
    """Event-time tumbling monthly rollup with late-data watermark —
    the incremental form of mv_<source>_monthly (A1/A3). `events` is a
    streaming DataFrame with (timestamp_ms, fuel_type, generation_mwh)."""
    ts = F.timestamp_millis(F.col("timestamp_ms")).alias("event_time")
    return (
        events.select(ts, "fuel_type", "generation_mwh")
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "30 days").alias("w"), "fuel_type")
        .agg(F.sum("generation_mwh").alias("generation_mwh"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("window_start"),
            "fuel_type",
            "generation_mwh",
        )
    )


DOC_STREAM_SCHEMA = (
    "doc_id long, ingested_at timestamp, lang string, source string, text string"
)


def stream_neardup_intake(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    threshold: float = 0.5,
    n: int = 3,
    k: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> StreamingQuery:
    """Streaming MinHash near-dup dedup at intake — the streaming twin
    of the batch `minhash_lsh_pairs` + `neardup_dedup_docs` pair: at
    100 TB you drop near-duplicates as documents ARRIVE instead of
    re-running pair-finding over the whole corpus.

    Per micro-batch (foreachBatch, so plain batch DataFrame ops):
      1. shingle + MinHash-sign the new documents (one codegen agg);
      2. candidates WITHIN the batch and AGAINST the persisted
         signature store meet only through shared LSH band keys — the
         same O(Σ bucket²) bound as the batch path; at scale the store
         is partitioned by `band` so the probe join prunes partitions;
      3. candidates are verified with the k-component signature-
         agreement estimator (no stored document bodies needed — the
         store carries only k longs + band keys per doc);
      4. survivors append to `out_dir`; their signatures and band keys
         append to the store.

    Dedup policy matches `neardup_dedup_docs`: within a batch the
    lowest doc_id of a verified pair wins; any new doc matching a
    stored doc is dropped. foreachBatch side effects are at-least-once,
    so every write lands in a DETERMINISTIC `batch=<id>` directory with
    overwrite mode — a retried batch replaces its own output instead of
    duplicating it (the standard idempotent-foreachBatch pattern).
    Store reads still dedup on doc_id as a second belt.
    """
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        neardup_intake_batch(
            spark, batch_df, batch_id, out_dir, store_dir,
            threshold=threshold, n=n, k=k, n_bands=n_bands, seed=seed,
            bucket_cap=bucket_cap,
        )

    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def neardup_intake_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    store_dir: str,
    threshold: float = 0.5,
    n: int = 3,
    k: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> None:
    """One micro-batch of the near-dup intake (exposed for direct
    testing of the retry contract). Retry safety: the store probe
    EXCLUDES the current batch's own partition — a retried batch wrote
    its signatures before the failed checkpoint commit, and matching a
    document against its own stored signature (agreement 1.0) would
    silently drop the entire batch on retry.

    `bucket_cap` is the counted volume guard every banded family in
    this engine carries (the r10 10× probe caught unguarded LSH going
    quadratic in near-dup cluster size): band buckets with more than
    `bucket_cap` members — counted over batch ∪ visible store rows —
    are excluded from candidate generation, bounding the pair join at
    O(buckets × cap²). Recall is lost only for pairs whose EVERY shared
    bucket is super-cap. None (default) keeps the plan exact — what the
    oracle-gated catalog entry pins; set it for always-on production
    intake."""
    from power_generation_etl_spark.operators import minhash as mh

    sig_path = os.path.join(store_dir, "sig")
    band_path = os.path.join(store_dir, "bands")
    sig_cols = [f"m{i}" for i in range(k)]

    new = batch_df.persist()
    try:
        if new.isEmpty():
            return
        # Signatures via the lazy distinct-free builder (r12): the
        # signature aggregation is the ONLY shingle consumer in this
        # kernel, so the batch path's materialized distinct-shingle
        # table (a localCheckpoint write+read of the widest
        # intermediate per micro-batch) is pure overhead here — min()
        # is duplicate-insensitive, so the output is identical
        # (pytest-pinned). The signature itself stays checkpointed: it
        # feeds both verification sides, the band table, and the store
        # append.
        sig = mh.minhash_signatures_from_docs(
            new, "doc_id", "text", n=n, k=k, seed=seed
        ).localCheckpoint()
        bands = mh.band_key_table(sig, k, n_bands).select(
            "doc_id", "bk.band", "bk.key"
        )
        # Counted bucket_cap guard over batch ∪ visible store buckets.
        # `bands` (unfiltered) is still what lands in the store below —
        # the guard shapes only THIS batch's candidate generation, so a
        # later batch with a higher cap sees the full index.
        bands_q = bands
        store_bucket_filter = None
        if bucket_cap is not None:
            vis = bands.select("band", "key")
            if os.path.isdir(band_path):
                vb = spark.read.parquet(band_path)
                if "batch" in vb.columns:
                    vb = vb.filter(F.col("batch") != batch_id)
                vis = vis.unionByName(
                    vb.dropDuplicates(["doc_id", "band"]).select("band", "key")
                )
            store_bucket_filter = (
                vis.groupBy("band", "key")
                .count()
                .filter(F.col("count") <= bucket_cap)
                .select("band", "key")
                .localCheckpoint()
            )
            bands_q = bands.join(
                F.broadcast(store_bucket_filter), ["band", "key"]
            )
        sig_l = sig.select(
            F.col("doc_id").alias("id_a"),
            *[F.col(c).alias(f"a{i}") for i, c in enumerate(sig_cols)],
        )
        sig_r = sig.select(
            F.col("doc_id").alias("id_b"),
            *[F.col(c).alias(f"b{i}") for i, c in enumerate(sig_cols)],
        )
        # within-batch: lowest id of a verified candidate pair wins
        ba = bands_q.select(F.col("doc_id").alias("id_a"), "band", "key")
        bb = bands_q.select(F.col("doc_id").alias("id_b"), "band", "key")
        in_cand = (
            ba.join(bb, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        est_in = mh.signature_agreement(k, "a", "b")
        drop = (
            in_cand.join(sig_l, "id_a")
            .join(sig_r, "id_b")
            .filter(est_in >= threshold)
            .select(F.col("id_b").alias("doc_id"))
        )
        # against the store: any verified match drops the new doc
        if os.path.isdir(sig_path):
            # batch=<id> dirs surface as a partition column; drop the
            # current batch's own rows so a RETRY never matches its
            # documents against the failed attempt's signatures.
            ssig_raw = spark.read.parquet(sig_path)
            sband_raw = spark.read.parquet(band_path)
            if "batch" in ssig_raw.columns:
                ssig_raw = ssig_raw.filter(F.col("batch") != batch_id)
            if "batch" in sband_raw.columns:
                sband_raw = sband_raw.filter(F.col("batch") != batch_id)
            ssig = (
                ssig_raw.dropDuplicates(["doc_id"])
                .select(
                    F.col("doc_id").alias("id_b"),
                    *[F.col(c).alias(f"b{i}") for i, c in enumerate(sig_cols)],
                )
            )
            sbands = (
                sband_raw.dropDuplicates(["doc_id", "band"])
                .select(F.col("doc_id").alias("id_b"), "band", "key")
            )
            if store_bucket_filter is not None:
                sbands = sbands.join(
                    F.broadcast(store_bucket_filter), ["band", "key"]
                )
            st_cand = (
                ba.join(sbands, ["band", "key"])
                .select("id_a", "id_b")
                .dropDuplicates(["id_a", "id_b"])
            )
            drop_st = (
                st_cand.join(sig_l, "id_a")
                .join(ssig, "id_b")
                .filter(est_in >= threshold)
                .select(F.col("id_a").alias("doc_id"))
            )
            drop = drop.unionByName(drop_st)
        # No distinct() on the drop side: LEFT ANTI semantics are
        # duplicate-insensitive on the right input, so the dedup was a
        # pure extra exchange+aggregate per micro-batch (r12).
        survivors = new.join(drop, "doc_id", "left_anti").persist()
        # deterministic per-batch dirs + overwrite = idempotent retry
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        # The signature-store and band-store appends both read only the
        # persisted survivors + checkpointed sig — independent jobs, so
        # they run overlapped (guide §2.6: fill one write's single-task
        # tail with the other's work).
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        def _write_sig() -> None:
            sig.join(survivors.select("doc_id"), "doc_id").write.mode(
                "overwrite"
            ).parquet(os.path.join(sig_path, f"batch={batch_id}"))

        def _write_bands() -> None:
            bands.join(survivors.select("doc_id"), "doc_id").write.mode(
                "overwrite"
            ).parquet(os.path.join(band_path, f"batch={batch_id}"))

        # Pool threads keep the caller's job group and session tags.
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(inherit(_write_sig)), pool.submit(inherit(_write_bands))]
        for f in futs:
            f.result()  # surface either write's failure
        survivors.unpersist()
    finally:
        new.unpersist()


def stream_document_filter(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    redact_pii: bool = True,
    min_logit: int | None = None,
    dedup_watermark: str = "1 hour",
) -> StreamingQuery:
    """Streaming training-data intake: JSONL document drops →
    quality-filter (Gopher-style Column expressions from
    operators/text.py — pure projections, so they compose into a
    stream unchanged) → optional model gate (`min_logit`: the linear
    classifier's expression form, a stateless per-row projection — the
    aggregation-shaped batch scorer would force watermark semantics) →
    cross-batch exact dedup on the content fingerprint with bounded
    state (dropDuplicatesWithinWatermark) → PII redaction (codegen
    regexp rewrite, stateless) → parquet sink.

    This is the streaming twin of the batch `doc_quality` +
    `exact_dedup_docs` (+ `pii_scan_docs` redaction) catalog queries:
    at 100 TB you filter/dedup/redact at intake instead of re-scanning
    the corpus. The dedup fingerprint is computed BEFORE redaction so
    an original and its redacted twin can never both pass.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from power_generation_etl_spark.operators import text as tx

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("ingested_at", TimestampType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(landing_dir)
    m = tx.quality_metrics(F.col("text"))
    gated = stream.withColumn("quality_pass", tx.quality_pass(m)).filter(
        F.col("quality_pass")
    )
    if min_logit is not None:
        from power_generation_etl_spark.operators import scoring as sc

        gated = gated.filter(sc.logit_expr(F.col("text")) > F.lit(min_logit))
    filtered = (
        gated
        .withColumn("fingerprint", tx.exact_dup_key(F.col("text")))
        # `dedup_watermark` bounds the dedup state's event-time TTL; a
        # corpus-span-sized value makes first-wins dedup GLOBAL (the
        # exact-oracle configuration), the default keeps state bounded
        # for true always-on intake.
        .withWatermark("ingested_at", dedup_watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("doc_id", "ingested_at", "lang", "source", "text", "fingerprint")
    )
    if redact_pii:
        from power_generation_etl_spark.operators import hygiene as hg

        filtered = filtered.withColumn("text", hg.redact_pii(F.col("text")))
    writer = (
        filtered.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
    )
    return run_to_end(writer, checkpoint_dir)


def stream_interval_join(
    clicks: DataFrame,
    errors: DataFrame,
    *,
    watermark: str = "10 minutes",
    window: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: every click paired with the errors
    the same user raised within `window` AFTER the click — the
    streaming twin of the batch `range_join_error_clicks` operator.

    Both sides carry a watermark and the join condition bounds
    error_ts to [click_ts, click_ts + window], so Spark can expire
    buffered rows once the watermark passes the window edge — state
    stays O(in-flight window), never unbounded. Inner-join matches
    emit as soon as both sides arrive (no watermark wait).

    Skew defense (r11, measured): with the equi-key on user_id alone, a
    hot user degenerates the per-key state probe to clicks × errors —
    the skew probe (hot user = 10% of rows at 4× sf0.1) measured 2.5×
    wall-clock. Like the batch `bucketed_range_join`, the equi-key here
    is (user_id, window-width time bucket): clicks explode into their
    bucket and the next (any error within [click, click+window] lands
    in exactly ONE of the two, so no pair duplicates), errors join on
    their own bucket — the hot user's state subdivides across the time
    axis and the probe drops to O(rows-per-bucket²) per task. Output is
    pair-identical to the unbucketed form (the exact oracle pins it).

    `clicks` and `errors` are streaming DataFrames with
    (user_id, ts timestamp, ...); output keeps click/error timestamps
    and the user id.
    """
    w_us = _interval_us(window)
    c = (
        clicks.select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
        .withColumn(
            "_cb",
            F.explode(
                F.array(
                    F.expr(f"unix_micros(click_ts) div {w_us}"),
                    F.expr(f"unix_micros(click_ts) div {w_us} + 1"),
                )
            ),
        )
    )
    e = (
        errors.select(
            F.col("user_id").alias("err_user_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
        .withColumn("_eb", F.expr(f"unix_micros(error_ts) div {w_us}"))
    )
    return c.join(
        e,
        F.expr(
            f"user_id = err_user_id AND _cb = _eb AND error_ts >= click_ts "
            f"AND error_ts <= click_ts + interval {window}"
        ),
    ).select("user_id", "click_ts", "error_ts")


def stream_cdc_apply(
    spark: SparkSession,
    landing_dir: str,
    store,
    table: str,
    keys: list[str],
    order_col: str,
    schema: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming CDC apply: JSON change batches land in `landing_dir`
    and merge into a warehouse table by key with
    greatest-`order_col`-wins semantics (`TableStore.merge_upsert`).

    Exactly-once effect without a transaction log: the file source
    checkpoints which files each batch consumed, and merge_upsert is
    idempotent for a replayed batch (change rows win order ties, so
    re-applying the same changes is a no-op). With a versioned store
    every applied batch is also an archived snapshot — CDC apply plus
    time travel gives point-in-time recovery of the table.
    """
    stream = spark.readStream.schema(schema).json(landing_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            if not store.exists(table):
                store.create(table, batch_df.schema)
            store.merge_upsert(table, batch_df, keys, order_col)

    return run_to_end(stream.writeStream.foreachBatch(apply_batch), checkpoint_dir)


def _store_versions(store_dir: str, prefix: str) -> list[int]:
    """COMPLETE (committed) sketch-store versions, ascending. A version
    is a `<prefix><batch_id>` directory carrying Spark's _SUCCESS
    marker — partial writes from a crashed batch never qualify."""
    out = []
    if os.path.isdir(store_dir):
        for name in os.listdir(store_dir):
            if name.startswith(prefix) and name[len(prefix):].isdigit() and os.path.exists(
                os.path.join(store_dir, name, "_SUCCESS")
            ):
                out.append(int(name[len(prefix):]))
    return sorted(out)


def _commit_version(
    spark: SparkSession,
    store_dir: str,
    prefix: str,
    batch_id: int,
    build: Callable[[DataFrame | None], DataFrame],
) -> None:
    """Commit micro-batch `batch_id` of a versioned sketch store: write
    `build(prev)` to `<prefix><batch_id>` in overwrite mode, where
    `prev` is the newest COMPLETE version with a smaller id (None when
    there is none), then delete the versions older than that merge
    source.

    Crash/retry rules: a version without `_SUCCESS` is never read (a
    crash mid-write leaves the merge source as the committed state — an
    in-place overwrite would destroy the accumulated summary); a
    replayed batch rebuilds its own version from the same older one,
    never from its own partial output; the merge source is kept until
    the next batch commits."""
    older = [v for v in _store_versions(store_dir, prefix) if v < batch_id]
    prev = (
        spark.read.parquet(os.path.join(store_dir, f"{prefix}{older[-1]}"))
        if older
        else None
    )
    build(prev).write.mode("overwrite").parquet(
        os.path.join(store_dir, f"{prefix}{batch_id}")
    )
    for v in older[:-1]:
        shutil.rmtree(os.path.join(store_dir, f"{prefix}{v}"), ignore_errors=True)


def _newest_version(
    spark: SparkSession, store_dir: str, prefix: str, what: str
) -> DataFrame:
    """The newest complete version of a versioned sketch store; raises
    ValueError naming `what` when none is committed yet."""
    versions = _store_versions(store_dir, prefix)
    if not versions:
        raise ValueError(f"no committed {what} under {store_dir}")
    return spark.read.parquet(os.path.join(store_dir, f"{prefix}{versions[-1]}"))


def stream_kmv_cardinality(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    schema: str,
    k: int = 64,
) -> StreamingQuery:
    """Streaming distinct-cardinality tracking via a MERGEABLE KMV
    sketch: each micro-batch hashes its values, merges them into the
    persisted per-group min-k hash store, and re-truncates to k rows
    per group — the store stays O(groups × k) forever while the
    estimate covers everything ever seen (sketch mergeability is the
    property HLL is loved for; KMV shares it and stays engine-exact).

    Each batch commits a `kmv_v<batch_id>` version through
    `_commit_version`. Query the current estimate with
    `kmv_estimate_from_store`.
    """
    from pyspark.sql.window import Window

    from power_generation_etl_spark.operators import sketch as sk

    stream = spark.readStream.schema(schema).json(landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new = batch_df.select(
            F.col(group_col).alias("grp"),
            sk.hash48(F.col(value_col)).alias("h"),
        ).where(F.col("h").isNotNull()).distinct()

        def build(prev: DataFrame | None) -> DataFrame:
            merged = new if prev is None else prev.unionByName(new).distinct()
            w = Window.partitionBy("grp").orderBy("h")
            return (
                merged.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k)
                .drop("_rn")
            )

        _commit_version(spark, store_dir, "kmv_v", batch_id, build)

    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def kmv_estimate_from_store(
    spark: SparkSession, store_dir: str, k: int = 64
) -> DataFrame:
    """(grp, kmv_estimate) from the latest committed min-k store
    version; groups that never filled k hashes report their exact
    count. Estimate expression shared with the batch sketch
    (sketch.kmv_estimate_expr) so the two can never drift."""
    from power_generation_etl_spark.operators import sketch as sk
    from pyspark.sql.window import Window

    df = _newest_version(spark, store_dir, "kmv_v", "kmv store")
    w = Window.partitionBy("grp").orderBy("h")
    ranked = df.withColumn("_rn", F.row_number().over(w))
    kth = ranked.where(F.col("_rn") == k).select(
        "grp", F.col("h").alias("h_k")
    )
    per_grp = df.groupBy("grp").agg(F.count(F.lit(1)).alias("n_hashes"))
    return (
        per_grp.join(kth, "grp", "left")
        .select("grp", sk.kmv_estimate_expr(k).alias("kmv_estimate"))
        .orderBy("grp")
    )


def stream_heavy_hitters(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    schema: str,
    capacity: int = 64,
) -> StreamingQuery:
    """Streaming heavy-hitter tracking via a MERGEABLE Misra-Gries
    summary bounded at ``capacity`` counters forever.

    Each micro-batch counts its keys exactly (one hash aggregation —
    an exact batch is itself a valid MG summary), merges counter-wise
    into the persisted summary, and when the merged key set exceeds
    capacity subtracts the (capacity+1)-th largest count from every
    counter and drops the non-positives — the classic MG merge
    (Agarwal et al., "Mergeable Summaries"). The cumulative subtracted
    total rides along as the error bound: for every key,
    ``est ≤ true ≤ est + max_err``, and any key whose true count
    exceeds max_err is GUARANTEED present in the summary. Each batch
    commits an `mg_v<batch_id>` version through `_commit_version`.
    """
    from pyspark.sql.window import Window

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new = (
            batch_df.where(F.col(key_col).isNotNull())
            .groupBy(F.col(key_col).alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

        def build(prev: DataFrame | None) -> DataFrame:
            prev_err = 0
            merged = new
            if prev is not None:
                # ONE read of the previous version serves both the
                # counter rows and the error scalar. max_err is a
                # summary-global scalar (same on every row, and carried
                # by the NULL-key meta row even when a truncation empties
                # the counters — a per-key or rows-only error would
                # silently reset the bound in exactly that case). A
                # per-key error would also under-state the bound for
                # keys evicted and re-inserted.
                prev_all = prev.localCheckpoint()
                prev_err = int(
                    prev_all.agg(F.max("max_err")).collect()[0][0] or 0
                )
                merged = (
                    prev_all.where(F.col("key").isNotNull())
                    .drop("max_err")
                    .unionByName(new)
                    .groupBy("key")
                    .agg(F.sum("cnt").cast("bigint").alias("cnt"))
                )
            # MG truncation: subtract the (capacity+1)-th largest count.
            # The summary is ≤ 2*capacity rows here (prev ≤ capacity,
            # new collapses to distinct batch keys merged on key) — tiny,
            # but computed distributed anyway (one window, deterministic
            # (cnt desc, key) order).
            ranked = merged.withColumn(
                "_rn", F.row_number().over(Window.orderBy(F.desc("cnt"), "key"))
            )
            # The (capacity+1)-th count enters the plan as a broadcast
            # 1-row aggregate (max-of-when, 0 when absent) instead of a
            # driver collect, and the NULL-key meta row is derived from
            # that same 1-row frame — the whole truncation + meta write
            # is ONE job (r12; previously a collect + a driver-built
            # createDataFrame per micro-batch). Identical rows: cut and
            # max_err are the same integers either way.
            cut_agg = ranked.agg(
                F.coalesce(
                    F.max(F.when(F.col("_rn") == capacity + 1, F.col("cnt"))),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("_cut")
            )
            kept = (
                ranked.crossJoin(F.broadcast(cut_agg))
                .where(F.col("_rn") <= capacity)
                .select(
                    "key",
                    (F.col("cnt") - F.col("_cut")).alias("cnt"),
                    (F.lit(prev_err) + F.col("_cut")).cast("bigint").alias("max_err"),
                )
                .where(F.col("cnt") > 0)
            )
            # NULL-key meta row: keeps the cumulative error even if the
            # truncation just emptied the counter set (all counts == cut).
            meta = cut_agg.select(
                F.lit(None).cast(dict(kept.dtypes)["key"]).alias("key"),
                F.lit(0).cast("bigint").alias("cnt"),
                (F.lit(prev_err) + F.col("_cut")).cast("bigint").alias("max_err"),
            )
            return kept.unionByName(meta)

        _commit_version(spark, store_dir, "mg_v", batch_id, build)

    stream = spark.readStream.schema(schema).json(landing_dir)
    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def heavy_hitters_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(key, est_count, max_err) from the latest committed summary,
    heaviest first. True counts satisfy est ≤ true ≤ est + max_err."""
    return (
        _newest_version(spark, store_dir, "mg_v", "heavy-hitter store")
        .where(F.col("key").isNotNull())  # drop the error-carrier meta row
        .select("key", F.col("cnt").alias("est_count"), "max_err")
        .orderBy(F.desc("est_count"), "key")
    )


def stream_type_drift(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    schema: str,
) -> StreamingQuery:
    """Streaming distribution-drift monitor — the streaming twin of the
    batch `lang_distribution_drift` query: each micro-batch's key
    distribution is compared against the cumulative baseline of all
    PRIOR batches with the exact cross-multiplied L1 metric
    (Σ|c_batch·N_base − c_base·N_batch|, ppm-scaled by integer
    division — no float shares anywhere), then merged into the
    baseline. State is O(distinct keys) counts forever; per-batch drift
    rows land in a deterministic `alerts/batch=<id>` directory so a
    replayed batch overwrites its own alert instead of duplicating it.

    The first batch seeds the baseline and reports no drift (there is
    nothing to compare against). The baseline is a `drift_v<batch_id>`
    version committed through `_commit_version`. Read results with
    `type_drift_alerts`."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new = (
            batch_df.where(F.col(key_col).isNotNull())
            .groupBy(F.col(key_col).alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

        def build(base: DataFrame | None) -> DataFrame:
            if base is None:
                return new
            j = (
                base.withColumnRenamed("cnt", "base_cnt")
                .join(new.withColumnRenamed("cnt", "batch_cnt"), "key", "full_outer")
                .select(
                    "key",
                    F.coalesce(F.col("base_cnt"), F.lit(0)).alias("base_cnt"),
                    F.coalesce(F.col("batch_cnt"), F.lit(0)).alias("batch_cnt"),
                )
            )
            # Σ|batch_share − base_share| in exact integers: the L1 sum
            # cross-multiplied by both totals, ppm-scaled at the end.
            # na/nb and the cross-multiplied sum all come from ONE
            # aggregation job over j (r12; previously three sequential
            # driver round-trips per batch): Σbase_cnt/Σbatch_cnt over
            # the full-outer join equal the per-side totals because the
            # coalesce(…, 0) padding adds zeros, and the L1 term is
            # computed against those same totals via a broadcast 1-row
            # cross join — identical integers, one job.
            tot = j.agg(
                F.sum("base_cnt").cast("bigint").alias("na"),
                F.sum("batch_cnt").cast("bigint").alias("nb"),
            )
            stats = (
                j.crossJoin(F.broadcast(tot))
                .agg(
                    F.sum(
                        F.abs(
                            F.col("batch_cnt") * F.col("na")
                            - F.col("base_cnt") * F.col("nb")
                        )
                    )
                    .cast("bigint")
                    .alias("x"),
                    F.first("na").alias("na"),
                    F.first("nb").alias("nb"),
                )
                .collect()[0]
            )
            na = int(stats["na"] or 0)
            nb = int(stats["nb"] or 0)
            drift_x = int(stats["x"] or 0)
            drift_ppm = (drift_x * 1_000_000) // (na * nb) if na and nb else 0
            alert = local_frame(
                spark,
                [(batch_id, int(nb), int(drift_ppm))],
                "batch_id long, n_rows long, drift_ppm long",
            )
            alert.write.mode("overwrite").parquet(
                os.path.join(store_dir, "alerts", f"batch={batch_id}")
            )
            return j.select(
                "key", (F.col("base_cnt") + F.col("batch_cnt")).alias("cnt")
            )

        _commit_version(spark, store_dir, "drift_v", batch_id, build)

    stream = spark.readStream.schema(schema).json(landing_dir)
    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def type_drift_alerts(spark: SparkSession, store_dir: str) -> DataFrame:
    """(batch_id, n_rows, drift_ppm) per monitored batch, in batch
    order. drift_ppm is Σ|share_batch − share_baseline| · 1e6 (L1
    distance ∈ [0, 2e6])."""
    path = os.path.join(store_dir, "alerts")
    if not os.path.isdir(path):
        return local_frame(spark, [], "batch_id long, n_rows long, drift_ppm long")
    # Explicit projection: the batch=<id> directory layout adds a
    # discovered partition column that must not leak into the contract.
    return (
        spark.read.parquet(path)
        .select("batch_id", "n_rows", "drift_ppm")
        .orderBy("batch_id")
    )


def stream_hll_cardinality(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    schema: str,
) -> StreamingQuery:
    """Streaming distinct-cardinality tracking via persisted HLL
    registers — the HLL twin of `stream_kmv_cardinality`: each
    micro-batch sketches its values (operators/sketch.py::
    hll_registers) and merges into the store by per-(grp, bucket)
    max(mj), the textbook HLL union. The store is bounded at
    O(groups × m=64) rows forever, and because max() is idempotent and
    commutative the merged state equals the batch sketch over
    everything ever seen regardless of arrival order or replays. Each
    batch commits an `hll_v<batch_id>` version through
    `_commit_version`."""
    from power_generation_etl_spark.operators import sketch as sk

    stream = spark.readStream.schema(schema).json(landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new = sk.hll_registers(batch_df, group_col, value_col)

        def build(prev: DataFrame | None) -> DataFrame:
            if prev is None:
                return new
            return (
                prev.unionByName(new)
                .groupBy("grp", "bucket")
                .agg(F.max("mj").alias("mj"))
            )

        _commit_version(spark, store_dir, "hll_v", batch_id, build)

    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def hll_estimate_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(grp, v_empty, z_scaled, hll_estimate) from the latest committed
    register-store version — the identical estimate expression as the
    batch sketch (sketch.hll_estimate_from_registers), so streamed and
    batch numbers can never drift."""
    from power_generation_etl_spark.operators import sketch as sk

    regs = _newest_version(spark, store_dir, "hll_v", "hll store").select(
        "grp", "bucket", "mj"
    )
    return sk.hll_estimate_from_registers(regs).orderBy("grp")


def stream_bottomk_sample(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    group_col: str,
    key_col: str,
    value_col: str,
    schema: str,
    k: int = 16,
) -> StreamingQuery:
    """Streaming quantile tracking via a MERGEABLE bottom-k hash
    sample (operators.sketch.bottomk_sample): each micro-batch keeps
    its k smallest-key-hash rows per group and merges them into the
    persisted store, which re-truncates to k — bottom-k of a union
    equals bottom-k of the union of bottom-ks, so the store equals the
    batch sketch over everything ever seen regardless of the feed
    split, and stays O(groups × k) forever. Each batch commits a
    `qs_v<batch_id>` version through `_commit_version`; sample
    membership is a pure function of the key set, so replays are
    idempotent. Read estimates with `quantiles_from_store`.
    """
    from pyspark.sql.window import Window

    from power_generation_etl_spark.operators import sketch as sk

    stream = spark.readStream.schema(schema).json(landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new = sk.bottomk_sample(batch_df, group_col, key_col, value_col, k=k)

        def build(prev: DataFrame | None) -> DataFrame:
            merged = new if prev is None else prev.unionByName(new).distinct()
            w = Window.partitionBy("grp").orderBy("h", "key", "v")
            return (
                merged.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k)
                .drop("_rn")
            )

        _commit_version(spark, store_dir, "qs_v", batch_id, build)

    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def quantiles_from_store(
    spark: SparkSession,
    store_dir: str,
    percents: list[int],
    *,
    value_scale: int = 1,
) -> DataFrame:
    """(grp, n_sample, p<percent>…) from the latest committed bottom-k
    sample store version — the identical quantile expression as the
    batch sketch (sketch.sample_quantiles), so streamed and batch
    numbers can never drift."""
    from power_generation_etl_spark.operators import sketch as sk

    df = _newest_version(
        spark, store_dir, "qs_v", "bottom-k sample store"
    ).select("grp", "key", "v", "h")
    return sk.sample_quantiles(df, percents, value_scale=value_scale)


def stream_ivf_ingest(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    schema: str,
) -> StreamingQuery:
    """Streaming vector ingestion into an IVF index: each micro-batch
    assigns its embeddings to the nearest fixed coarse centroid
    (operators.similarity.assign_cell — the exact sequential-fold
    kernel, so assignments are engine-portable) and appends (cell, id)
    postings to the store. Unlike the sketch stores the postings ARE
    the index (O(N) by design — at 100 TB they live partitioned by
    `cell`, which is what makes IVF probing a partition-pruned scan);
    what must survive batching is assignment determinism and
    exactly-once append.

    Retry safety: each batch writes a DETERMINISTIC `ivf_b<batch_id>`
    postings directory in overwrite mode — a replayed batch replaces
    its own output; readers additionally dedup on id. No cross-batch
    merge is needed (postings are disjoint unions), so batch dirs are
    never vacuumed — they're the index shards."""
    from power_generation_etl_spark.operators import similarity as sim

    stream = spark.readStream.schema(schema).json(landing_dir)
    cents = sorted((int(c), [float(x) for x in v]) for c, v in centroids)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        v = sim.as_double_array(F.col(vec_col))
        postings = batch_df.select(
            F.col(id_col).cast("long").alias("id"),
            sim.assign_cell(v, cents).alias("cell"),
        ).where(F.col("id").isNotNull())
        postings.write.mode("overwrite").parquet(
            os.path.join(store_dir, f"ivf_b{batch_id}")
        )

    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def ivf_cells_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """(cell, n_vectors, vecid_sum) over the union of all committed
    postings shards, deduplicated on id (replay belt-and-braces).
    The per-cell count/checksum pair is what the batch-built index
    must reproduce — any assignment drift or lost/duplicated posting
    breaks it."""
    batches = _store_versions(store_dir, "ivf_b")
    if not batches:
        raise ValueError(f"no committed ivf postings under {store_dir}")
    df = spark.read.parquet(
        *[os.path.join(store_dir, f"ivf_b{b}") for b in batches]
    ).select("id", "cell")
    return (
        df.dropDuplicates(["id"])
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("id").cast("long").alias("vecid_sum"),
        )
        .orderBy("cell")
    )


# The columns and types of every `ix_b<batch_id>` shard that
# `stream_text_index_ingest` writes.
TEXT_INDEX_SCHEMA = "term string, doc_id long, tf long"


def stream_text_index_ingest(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    schema: str,
) -> StreamingQuery:
    """Streaming inverted-index ingestion — the text twin of
    `stream_ivf_ingest`: each micro-batch tokenizes its documents with
    the SAME lowercase/whitespace tokenizer as the batch index build
    (operators/textindex.py::build_inverted_index), aggregates
    (term, doc_id, tf) postings, and appends a deterministic
    `ix_b<batch_id>` shard. The postings ARE the index (O(tokens) by
    design; at 100 TB each shard is hive-partitioned by term-hash
    bucket exactly as the batch build writes it, so lookups stay
    partition-pruned over the shard union). What must survive batching
    is tokenizer determinism and exactly-once append.

    Retry safety: a replayed batch rewrites its own shard in overwrite
    mode; readers additionally dedup on (term, doc_id). Shards are
    disjoint doc unions, so no cross-batch merge is needed — continuous
    index maintenance is append-only."""
    stream = spark.readStream.schema(schema).json(landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = (
            batch_df.where(F.col(text_col).isNotNull())
            .select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.explode(
                    F.split(F.lower(F.col(text_col)), r"\s+")
                ).alias("term"),
            )
            .where(F.col("term") != "")
        )
        postings = toks.groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf")
        )
        postings.write.mode("overwrite").parquet(
            os.path.join(store_dir, f"ix_b{batch_id}")
        )

    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def term_stats_from_store(
    spark: SparkSession, store_dir: str, k: int = 20
) -> DataFrame:
    """(term, df, total_tf) for the k terms with the highest document
    frequency (ties to the lexicographically smallest term) over the
    union of committed index shards, deduplicated on (term, doc_id)
    (replay belt-and-braces — a replayed shard carries identical
    postings). Because shards partition the document set, the merged
    stats must equal the batch tokenize+aggregate over every document
    ever ingested — the oracle's claim. The shards are read with the
    writer's schema, `TEXT_INDEX_SCHEMA`, so the read infers nothing."""
    batches = _store_versions(store_dir, "ix_b")
    if not batches:
        raise ValueError(f"no committed index shards under {store_dir}")
    df = spark.read.schema(TEXT_INDEX_SCHEMA).parquet(
        *[os.path.join(store_dir, f"ix_b{b}") for b in batches]
    )
    return (
        df.dropDuplicates(["term", "doc_id"])
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(k)
    )


def stream_expectations(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    suite,
    schema: str,
    group_col: str | None = None,
) -> StreamingQuery:
    """Streaming data-quality monitoring: each micro-batch reduces to
    ONE partial-aggregate row (one slot column per mergeable check —
    counts/sums merge by sum, extrema by min/max; see
    operators.expectations.Check) and merges it into the persisted
    one-row metrics store. The store is O(slots) forever, and because
    every slot op is commutative/associative the merged metrics equal
    the batch suite over everything ever seen, whatever the feed
    split — Deequ-style checks kept current over an unbounded stream
    for the cost of a map-side aggregate per batch.

    Each batch commits a `qx_v<batch_id>` version through
    `_commit_version`. Batch-only checks (uniqueness) are rejected at
    start. Read the report with `expectations_from_store`.

    `group_col` switches to the PER-GROUP monitor (the streaming twin
    of Suite.run_grouped): partials and merges key on the group, the
    store is O(groups × slots), and the report localizes which intake
    shard broke a constraint — read it with
    `grouped_expectations_from_store`."""
    suite.assert_mergeable()
    stream = spark.readStream.schema(schema).json(landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if group_col is None:
            new = batch_df.agg(*suite.partial_aggs())
        else:
            new = batch_df.groupBy(
                F.col(group_col).alias("grp")
            ).agg(*suite.partial_aggs())

        def build(prev: DataFrame | None) -> DataFrame:
            if prev is None:
                return new
            both = prev.unionByName(new)
            if group_col is None:
                return both.agg(*suite.merge_aggs())
            return both.groupBy("grp").agg(*suite.merge_aggs())

        _commit_version(spark, store_dir, "qx_v", batch_id, build)

    return run_to_end(stream.writeStream.foreachBatch(process), checkpoint_dir)


def expectations_from_store(spark: SparkSession, store_dir: str, suite) -> DataFrame:
    """(check_name, metric, passed) from the latest committed metrics
    store — finalized through the same Spark SQL integer arithmetic as
    the batch suite, so streamed and batch reports can never drift."""
    return suite.finalize(
        _newest_version(spark, store_dir, "qx_v", "expectations store")
    )


def grouped_expectations_from_store(
    spark: SparkSession, store_dir: str, suite
) -> DataFrame:
    """(grp, check_name, metric, passed) from the latest committed
    per-group metrics store."""
    return suite.finalize_grouped(
        _newest_version(spark, store_dir, "qx_v", "expectations store")
    )

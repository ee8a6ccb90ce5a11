"""Action-level timing of neardup_intake_batch (r12): stages the two
rounds as the catalog entry does, then replays the micro-batch kernel
OUTSIDE the streaming machinery with a timer around every Spark action,
isolating signature build vs candidate join vs the three sink writes
vs streaming overhead (= entry time minus this probe's batch time).

    python tools/intake_batch_probe.py [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from power_generation_etl_spark.operators import minhash as mh
    from power_generation_etl_spark.plans.intake_queries import _doc_rounds
    from power_generation_etl_spark.plans.queries import (
        stage_round,
        stream_dirs,
        stream_parallelism_scope,
    )
    from power_generation_etl_spark.session import get_spark
    from power_generation_etl_spark.streaming.ingest import DOC_STREAM_SCHEMA

    spark = get_spark("intake-batch-probe")
    spark.read.parquet(f"{args.sf}/documents.parquet").count()

    k, n, n_bands, seed, threshold = 64, 3, 16, 42, 0.5
    sig_cols = [f"m{i}" for i in range(k)]

    marks: list[tuple[str, float]] = []

    def timed(label: str, fn):
        t0 = time.perf_counter()
        r = fn()
        marks.append((label, time.perf_counter() - t0))
        return r

    with stream_parallelism_scope(spark, args.sf), stream_dirs("probe_nb") as d:
        stage = d.stage
        out_dir = os.path.join(d.store, "out")
        sig_path = os.path.join(d.store, "sig")
        band_path = os.path.join(d.store, "bands")
        r1, r2 = _doc_rounds(spark, args.sf)
        timed("stage_r1_json", lambda: stage_round(r1, f"{stage}/r1", "json"))
        timed("stage_r2_json", lambda: stage_round(r2, f"{stage}/r2", "json"))

        for batch_id, rdir in ((0, "r1"), (1, "r2")):
            tag = f"b{batch_id}"
            new = spark.read.schema(DOC_STREAM_SCHEMA).json(
                os.path.join(stage, rdir)
            ).persist()
            timed(f"{tag}_isEmpty", lambda: new.isEmpty())
            sh = timed(
                f"{tag}_shingle_cut",
                lambda: mh.shingle_table(new, "doc_id", "text", n),
            )
            sig = timed(
                f"{tag}_sig_ckpt",
                lambda: mh.minhash_signature_table(sh, k, seed).localCheckpoint(),
            )
            bands = mh.band_key_table(sig, k, n_bands).select(
                "doc_id", "bk.band", "bk.key"
            )
            sig_l = sig.select(
                F.col("doc_id").alias("id_a"),
                *[F.col(c).alias(f"a{i}") for i, c in enumerate(sig_cols)],
            )
            sig_r = sig.select(
                F.col("doc_id").alias("id_b"),
                *[F.col(c).alias(f"b{i}") for i, c in enumerate(sig_cols)],
            )
            ba = bands.select(F.col("doc_id").alias("id_a"), "band", "key")
            bb = bands.select(F.col("doc_id").alias("id_b"), "band", "key")
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
            if os.path.isdir(sig_path):
                ssig_raw = spark.read.parquet(sig_path)
                sband_raw = spark.read.parquet(band_path)
                if "batch" in ssig_raw.columns:
                    ssig_raw = ssig_raw.filter(F.col("batch") != batch_id)
                if "batch" in sband_raw.columns:
                    sband_raw = sband_raw.filter(F.col("batch") != batch_id)
                ssig = ssig_raw.dropDuplicates(["doc_id"]).select(
                    F.col("doc_id").alias("id_b"),
                    *[F.col(c).alias(f"b{i}") for i, c in enumerate(sig_cols)],
                )
                sbands = sband_raw.dropDuplicates(["doc_id", "band"]).select(
                    F.col("doc_id").alias("id_b"), "band", "key"
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
            survivors = new.join(drop.distinct(), "doc_id", "left_anti").persist()
            timed(
                f"{tag}_survivors_write",
                lambda: survivors.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"batch={batch_id}")
                ),
            )
            keep_sig = sig.join(survivors.select("doc_id"), "doc_id")
            timed(
                f"{tag}_keepsig_write",
                lambda: keep_sig.write.mode("overwrite").parquet(
                    os.path.join(sig_path, f"batch={batch_id}")
                ),
            )
            timed(
                f"{tag}_bands_write",
                lambda: bands.join(survivors.select("doc_id"), "doc_id")
                .write.mode("overwrite")
                .parquet(os.path.join(band_path, f"batch={batch_id}")),
            )
            survivors.unpersist()
            new.unpersist()
        n_out = timed(
            "final_read",
            lambda: spark.read.parquet(out_dir).select("doc_id").count(),
        )
    print(f"rows={n_out}")
    for label, dt in marks:
        print(f"{label:24s} {dt:7.3f}s")
    print(f"{'SUM':24s} {sum(dt for _, dt in marks):7.3f}s")


if __name__ == "__main__":
    main()

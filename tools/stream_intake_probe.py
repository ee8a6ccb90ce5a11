"""Phase-timing probe for the two-round streaming-intake entries:
runs stream_intake_neardup_docs' query through the shared two-round
scaffold (`plans/queries.py::overlap_two_rounds`) with timers around
each phase (staging, per-round stream run, final read) and per-phase
Spark job counts, so a fixed-cost attack targets the phase that
actually holds the time.

    python tools/stream_intake_probe.py [--sf DIR]
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

    from power_generation_etl_spark.plans.intake_queries import _doc_rounds
    from power_generation_etl_spark.plans.queries import (
        overlap_two_rounds,
        stream_dirs,
        stream_parallelism_scope,
    )
    from power_generation_etl_spark.session import get_spark
    from power_generation_etl_spark.streaming.ingest import stream_neardup_intake

    spark = get_spark("intake-probe")
    # warm-up: session + parquet footers
    spark.read.parquet(f"{args.sf}/documents.parquet").count()

    st = spark.sparkContext.statusTracker()

    def jobs() -> int:
        ids = st.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    marks: list[tuple[str, float, int]] = []
    clock = [time.perf_counter(), jobs()]

    def lap(label: str) -> None:
        """Close the phase open since the last lap under ``label``."""
        now, j = time.perf_counter(), jobs()
        marks.append((label, now - clock[0], j - clock[1]))
        clock[:] = [now, j]

    waits = iter(["stage_r1(+r2 bg)", "stage_r2_wait"])

    with stream_parallelism_scope(spark, args.sf):
        t_all, j_all = clock
        r1, r2 = _doc_rounds(spark, args.sf)
        with stream_dirs("probe_nd") as d:
            out = os.path.join(d.store, "out")

            def run(landing: str) -> None:
                lap(next(waits))  # staging (+ linking) before this round
                stream_neardup_intake(
                    spark, landing, out, d.ckpt, os.path.join(d.store, "sig"),
                    threshold=0.5, n=3, k=64, n_bands=16, seed=42,
                    bucket_cap=None,
                )
                lap(f"round{len(marks) // 2 + 1}_stream")

            overlap_two_rounds(d, r1, r2, "json", run)
            rows = sorted(
                r["doc_id"]
                for r in spark.read.parquet(out).select("doc_id").collect()
            )
            lap("final_read")
        total = time.perf_counter() - t_all
        totj = jobs() - j_all
    print(f"rows={len(rows)}")
    for label, dt, nj in marks:
        print(f"{label:20s} {dt:7.3f}s  ~{nj} jobs")
    print(f"{'TOTAL':20s} {total:7.3f}s  ~{totj} jobs")


if __name__ == "__main__":
    main()

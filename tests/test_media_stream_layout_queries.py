"""Unit tests for the r9 catalog additions: the encode→decode media
round-trip family (plans/media_queries.py), the Structured Streaming
entries (plans/streaming_queries.py), and the Z-order layout entry
(plans/layout_queries.py). The exact DuckDB oracles gate these in the
correctness battery; the tests here pin the pieces the oracle can't
see — that the synthesized bytes really are valid containers hitting
the REAL decode tiers (not the digest stub), and the landing-dir /
memory-sink plumbing."""

from __future__ import annotations

import hashlib
import os
import threading
import time
import warnings

import pytest
from pyspark.sql import functions as F

from power_generation_etl_spark.operators import multimodal as mm
from power_generation_etl_spark.plans import media_queries as mq
from power_generation_etl_spark.plans import queries
from power_generation_etl_spark.plans import streaming_queries as sq
from power_generation_etl_spark.plans.queries import (
    link_data_files,
    overlap_two_rounds,
    stream_dirs,
)


def _md5_bytes(text: str, suffix: str) -> bytes:
    return hashlib.md5((text + suffix).encode()).digest()


class TestSynthesizedContainers:
    """Drive the Spark-SQL blob constructors for ONE document and
    decode the collected bytes with the operator-layer decoders —
    proving the catalog entries exercise the real BMP / stdlib-wave /
    G.711 / AVI-demux tiers, not `_decode_image_stub`."""

    TEXT = "the quick brown fox"

    def _blob(self, spark, col):
        row = (
            spark.range(1)
            .select(F.lit(self.TEXT).alias("text"))
            .select(col.alias("b"))
            .head()
        )
        return bytes(row["b"])

    def test_bmp_blob_decodes_to_md5_pixels(self, spark):
        blob = self._blob(
            spark,
            F.concat(
                F.lit(mq._BMP_HDR),
                mq._digest_bytes_tripled(
                    F.col("text"), [f"i{j}" for j in range(4)]
                ),
            ),
        )
        assert blob[:2] == b"BM" and len(blob) == 246
        gray = mm._bmp_gray_pixels(blob)
        assert gray is not None and gray.shape == (8, 8)
        expect = b"".join(_md5_bytes(self.TEXT, f"i{j}") for j in range(4))
        # gray pixels equal the md5 bytes exactly (B=G=R → luma = v);
        # BMP rows are bottom-up, so compare as multisets + per-row.
        got = sorted(gray.astype(int).flatten().tolist())
        assert got == sorted(expect)
        assert int(gray.sum()) == sum(expect)

    def test_pcm_wav_blob_real_stdlib_decode(self, spark):
        blob = self._blob(
            spark,
            F.concat(
                F.lit(mq._WAV_PCM_HDR),
                mq._digest_bytes(F.col("text"), [f"a{j}" for j in range(4)]),
            ),
        )
        meta = mm._decode_wav(blob)
        assert meta is not None
        rate, nch, n_samples, duration_ms, _rms, peak = meta
        assert (rate, nch, n_samples, duration_ms) == (8000, 1, 32, 4)
        raw = b"".join(_md5_bytes(self.TEXT, f"a{j}") for j in range(4))
        expect_peak = max(
            abs(int.from_bytes(raw[2 * i : 2 * i + 2], "little", signed=True))
            for i in range(32)
        )
        assert round(peak * 32768) == expect_peak

    def test_ulaw_wav_blob_hits_g711_tier(self, spark):
        blob = self._blob(
            spark,
            F.concat(
                F.lit(mq._WAV_ULAW_HDR),
                mq._digest_bytes(F.col("text"), [f"u{j}" for j in range(2)]),
            ),
        )
        meta = mm._decode_wav(blob)
        assert meta is not None
        rate, nch, n_samples, duration_ms, _rms, peak = meta
        assert (rate, nch, n_samples, duration_ms) == (8000, 1, 32, 4)
        raw = b"".join(_md5_bytes(self.TEXT, f"u{j}") for j in range(2))

        def mag(u: int) -> int:
            c = (~u) & 0xFF
            return (((c & 0x0F) * 8 + 0x84) << ((c >> 4) & 7)) - 0x84

        assert round(peak * 32768) == max(mag(u) for u in raw)

    def test_avi_blob_demuxes_expected_frame_count(self, spark):
        for n in (1, 2, 3):
            chunks = [
                F.concat(
                    F.lit(mq._DB_CHUNK_HDR),
                    F.lit(mq._BMP_HDR),
                    mq._digest_bytes_tripled(
                        F.col("text"), [f"v{i}{j}" for j in range(4)]
                    ),
                )
                for i in range(n)
            ]
            blob = self._blob(
                spark, F.concat(F.lit(mq._avi_hdr(n)), *chunks)
            )
            frames = mm._avi_frames(blob)
            assert frames is not None and len(frames) == n
            for i, fb in enumerate(frames):
                assert len(fb) == 246
                gray = mm._bmp_gray_pixels(fb)
                expect = sum(
                    sum(_md5_bytes(self.TEXT, f"v{i}{j}")) for j in range(4)
                )
                assert int(gray.sum()) == expect


class TestResizeGray:
    def test_box_average_exact(self):
        import numpy as np

        g = np.arange(16, dtype=np.float64).reshape(4, 4)
        out = mm.resize_gray(g, 2, 2)
        # each cell = mean of its 2×2 block
        assert out.tolist() == [[2.5, 4.5], [10.5, 12.5]]

    def test_nearest_neighbor_on_non_divisible(self):
        import numpy as np

        g = np.arange(25, dtype=np.float64).reshape(5, 5)
        out = mm.resize_gray(g, 2, 2)
        # ys = xs = [0, 2] → corners of the coarse grid
        assert out.tolist() == [[0.0, 2.0], [10.0, 12.0]]

    def test_upscale_falls_back_to_nearest(self):
        import numpy as np

        g = np.array([[1.0, 2.0], [3.0, 4.0]])
        out = mm.resize_gray(g, 4, 4)
        assert out.shape == (4, 4)
        assert out[0, 0] == 1.0 and out[3, 3] == 4.0

    def test_thumbnail_null_for_undecodable(self, spark):
        media = spark.createDataFrame(
            [(1, "image", bytearray(b"not an image"))],
            "media_id long, kind string, content binary",
        )
        row = mm.extract_image_thumbnail(media, 4, 4).head()
        assert row["pixels"] is None
        assert (row["out_h"], row["out_w"]) == (4, 4)


class TestStreamingPlumbing:
    def test_landing_single_file(self, tmp_path):
        src = tmp_path / "one.parquet"
        src.write_bytes(b"x" * 10)
        landing = tmp_path / "landing"
        landing.mkdir()
        for tag in ("c0", "c1"):
            link_data_files(str(src), str(landing), tag)
        names = sorted(os.listdir(landing))
        assert names == ["c0_0.parquet", "c1_0.parquet"]
        assert all(os.path.getsize(landing / n) == 10 for n in names)

    def test_landing_directory_source_links_parts(self, tmp_path):
        src = tmp_path / "tbl.parquet"
        src.mkdir()
        (src / "part-0.parquet").write_bytes(b"a")
        (src / "part-1.parquet").write_bytes(b"bb")
        (src / "_SUCCESS").write_bytes(b"")  # must be skipped
        (src / ".part-0.parquet.crc").write_bytes(b"")  # must be skipped
        landing = tmp_path / "landing"
        landing.mkdir()
        for tag in ("c0", "c1"):
            link_data_files(str(src), str(landing), tag)
        names = sorted(os.listdir(landing))
        # 2 parts × 2 copies, no _SUCCESS / .crc
        assert names == [
            "c0_0.parquet", "c0_1.parquet", "c1_0.parquet", "c1_1.parquet"
        ]

    def test_dedup_counts_match_single_copy(self, spark, sf_dir):
        """The dedup entry's whole point: two linked copies stream in,
        dropDuplicates state keeps counts equal to ONE copy."""
        out = sq.stream_dedup_event_counts(spark, sf_dir)
        got = {r["event_type"]: r["n_unique_events"] for r in out.collect()}
        base = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("event_type")
            .count()
        )
        expect = {r["event_type"]: r["count"] for r in base.collect()}
        assert got == expect


class TestTwoRoundProtocol:
    """`overlap_two_rounds` with its staging write faked (module-global
    `queries.stage_round` patched) and a fake `run(landing)`: the
    protocol's ordering, error chaining, skip and thread context."""

    @staticmethod
    def _stage(events, fail=None, delay=()):
        def stage(df, out, fmt):
            rnd = os.path.basename(out)  # "r1" / "r2"
            if rnd in delay:
                time.sleep(0.5)
            if rnd == fail:
                raise RuntimeError(f"staging {rnd} failed")
            os.mkdir(out)
            for name in ("part-0.json", "_SUCCESS"):
                open(os.path.join(out, name), "w").close()
            events.append(("staged", rnd))
            return out

        return stage

    def test_round1_error_chains_round2_staging_error(self, spark, monkeypatch):
        monkeypatch.setattr(queries, "stage_round", self._stage([], fail="r2"))

        def run(landing):
            raise ValueError("round 1 failed")

        with stream_dirs("test_two_round") as d:
            with pytest.raises(ValueError) as ei:
                overlap_two_rounds(d, spark.range(1), spark.range(1), "json", run)
        assert isinstance(ei.value.__cause__, RuntimeError)
        assert "staging r2 failed" in str(ei.value.__cause__)

    @pytest.mark.parametrize("slow", ["stage_r2", "run_r1"])
    def test_round2_waits_for_round1_and_its_staging(
        self, spark, monkeypatch, slow
    ):
        events = []
        monkeypatch.setattr(
            queries, "stage_round",
            self._stage(events, delay=("r2",) if slow == "stage_r2" else ()),
        )

        def run(landing):
            if slow == "run_r1" and not any(e[0] == "run" for e in events):
                time.sleep(0.5)  # round-2 staging finishes meanwhile
            events.append(("run", sorted(os.listdir(landing))))

        with stream_dirs("test_two_round") as d:
            overlap_two_rounds(d, spark.range(1), spark.range(1), "json", run)
        runs = [e for e in events if e[0] == "run"]
        assert runs == [
            ("run", ["r1_0.json"]),
            ("run", ["r1_0.json", "r2_0.json"]),
        ]
        assert events.index(("staged", "r2")) < events.index(runs[1])

    def test_absent_round2_runs_exactly_one_round(self, spark, monkeypatch):
        events = []
        monkeypatch.setattr(queries, "stage_round", self._stage(events))
        with stream_dirs("test_two_round") as d:
            overlap_two_rounds(
                d, spark.range(1), None, "json",
                lambda landing: events.append(("run", os.listdir(landing))),
            )
        assert events == [("staged", "r1"), ("run", ["r1_0.json"])]

    def test_staging_thread_inherits_job_group_and_tags(
        self, spark, monkeypatch
    ):
        seen = {}
        stage = self._stage([])

        def spy(df, out, fmt):
            if out.endswith("r2"):
                seen["thread"] = threading.get_ident()
                seen["group"] = spark.sparkContext.getLocalProperty(
                    "spark.jobGroup.id"
                )
                seen["tags"] = spark.getTags()
            return stage(df, out, fmt)

        monkeypatch.setattr(queries, "stage_round", spy)
        spark.sparkContext.setJobGroup("two-round-group", "protocol test")
        spark.addTag("two-round-tag")
        try:
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                with stream_dirs("test_two_round") as d:
                    overlap_two_rounds(
                        d, spark.range(1), spark.range(1), "json",
                        lambda landing: None,
                    )
        finally:
            spark.removeTag("two-round-tag")
            spark.sparkContext._jsc.clearJobGroup()
        assert seen["thread"] != threading.get_ident()
        assert seen["group"] == "two-round-group"
        assert "two-round-tag" in seen["tags"]
        assert not [w for w in caught if issubclass(w.category, UserWarning)]

    def test_stream_dirs_removed_when_entry_raises(self):
        with pytest.raises(RuntimeError):
            with stream_dirs("test_two_round") as d:
                assert all(os.path.isdir(p) for p in d)
                raise RuntimeError("entry failed")
        assert not any(os.path.exists(p) for p in d)


class TestZorderEntry:
    def test_oracle_norm_guards_degenerate_column(self):
        """morton_key returns norm=0 when max<=min; the DuckDB mirror
        must do the same instead of NULL-dividing into least(NULL,
        65535)=65535 (top bucket)."""
        import duckdb

        from power_generation_etl_spark.plans.layout_queries import _NORM

        expr = _NORM.format(col="7", mn="7.0", mx="7.0")
        assert duckdb.connect().execute(f"SELECT {expr}").fetchone()[0] == 0


    def test_bucket_counts_cover_all_rows(self, spark, sf_dir):
        from power_generation_etl_spark.plans.layout_queries import (
            zorder_bucket_stats,
        )

        out = zorder_bucket_stats(spark, sf_dir).collect()
        total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
        assert sum(r["n_rows"] for r in out) == total
        # bucket ids are the key's top 6 bits — all within [0, 64)
        assert all(0 <= r["z_bucket"] < 64 for r in out)
        # per-bucket key ranges must sit inside the bucket's span
        for r in out:
            lo = r["z_bucket"] << (2 * 16 - 6)
            hi = (r["z_bucket"] + 1) << (2 * 16 - 6)
            assert lo <= r["min_key"] <= r["max_key"] < hi


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))


class TestLateDataWatermark:
    """r10 `stream_late_data_rollup`: the DuckDB oracle checks the
    exact counts; these assertions pin what the oracle can't see —
    that the two-round protocol is NON-DEGENERATE at the shipped SFs
    (the watermark really dropped some late rows, really admitted
    others, and some windows stayed open forever), so the entry can't
    silently rot into "all late rows survive" or "round 2 was empty"."""

    def test_two_round_feed_exercises_all_three_fates(self, spark, sf_dir):
        from power_generation_etl_spark.plans.queries import T, ntz_epoch_us

        res = sq.stream_late_data_rollup(spark, sf_dir)
        emitted = {
            (r["hour_us"], r["event_type"]): r["n_events"]
            for r in res.collect()
        }
        assert emitted, "no windows emitted at the shipped SF"

        H, D = sq._HOUR_US, sq._WM_US
        ev = T(spark, sf_dir, "events").select(
            ntz_epoch_us(F.col("ts")).alias("t_us"),
            "event_type",
            sq._late_flag().alias("hash_late"),
        )
        raw = ev.collect()
        m = max(r["t_us"] for r in raw)
        rows = [
            {
                "t_us": r["t_us"],
                "late": r["hash_late"] or r["t_us"] > m - sq._TAIL_US,
            }
            for r in raw
        ]
        m1 = max(r["t_us"] for r in rows if not r["late"])
        survives = lambda r: (not r["late"]) or (
            (r["t_us"] // H) * H + H > m1 - D
        )
        emits = lambda r: (r["t_us"] // H) * H + H <= m - D
        n_late_dropped = sum(1 for r in rows if r["late"] and not survives(r))
        n_late_kept_emitted = sum(
            1 for r in rows if r["late"] and survives(r) and emits(r)
        )
        n_never_emitted = sum(1 for r in rows if survives(r) and not emits(r))
        # all three fates occur — the scenario actually tests something
        assert n_late_dropped > 0
        assert n_never_emitted > 0
        # total conservation: emitted counts == surviving ∩ emitted rows
        expect = sum(1 for r in rows if survives(r) and emits(r))
        assert sum(emitted.values()) == expect
        # the late-kept path is exercised whenever any late row falls in
        # an emitted open window (true at sf0.001/0.01/0.1 by data)
        assert n_late_kept_emitted > 0


class TestSessionAndTransitionProtocols:
    """r11 sessionizer/transition entries: the DuckDB oracle checks the
    exact emitted sets; these assertions pin the protocol structure the
    oracle can't see — the two-round split really makes a session span
    the checkpoint boundary, and the transition TTL really exercises
    BOTH boundary fates (survived and timed-out)."""

    def test_session_split_straddles_checkpoint(self, spark, sf_dir):
        ev, cutoff, lo, hi = sq._session_round_split(spark, sf_dir)
        assert ev is not None and lo < cutoff < hi
        # both rounds non-empty
        assert ev.filter(F.col("t_us") <= cutoff).count() > 0
        assert ev.filter(F.col("t_us") > cutoff).count() > 0
        emitted = sq._run_session_rounds(spark, ev, cutoff, hi, native=False)
        assert emitted is not None, "no sessions emitted at the shipped SF"
        rows = [
            (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
            for r in emitted.collect()
        ]
        assert rows, "no sessions emitted at the shipped SF"
        # >=1 emitted session was assembled ACROSS the checkpoint:
        # events on both sides of the cutoff inside one session
        straddlers = [
            (u, s, e, n) for (u, s, e, n) in rows if s <= cutoff < e
        ]
        assert straddlers, "no emitted session spans the round boundary"
        # and the straddler really holds >=2 events
        assert any(n >= 2 for (_u, _s, _e, n) in straddlers)

    def test_transition_boundary_exercises_both_fates(self, spark, sf_dir):
        from power_generation_etl_spark.plans.queries import T, ntz_epoch_us

        ev = (
            T(spark, sf_dir, "events")
            .select(
                "event_id",
                ntz_epoch_us(F.col("ts")).alias("t"),
                "user_id",
                "event_type",
            )
            .collect()
        )
        assert ev
        lo = min(r["t"] for r in ev)
        hi = max(r["t"] for r in ev)
        cut = (lo + hi) // 2
        m1 = max(r["t"] for r in ev if r["t"] <= cut)
        by_user: dict = {}
        for r in ev:
            by_user.setdefault(r["user_id"], []).append(
                (r["t"], r["event_id"], r["event_type"])
            )
        n_straddle = n_survive = n_full = 0
        for seq in by_user.values():
            seq.sort()
            n_full += max(0, len(seq) - 1)
            for (pt, _pe, _pty), (t, _e, _ty) in zip(seq, seq[1:]):
                if pt <= cut < t:
                    n_straddle += 1
                    if pt // 1000 + sq._TR_TTL_MS >= m1 // 1000 - sq._TR_DELAY_MS:
                        n_survive += 1
        # both fates occur at the shipped SFs (probed 1/9/133 survive,
        # 14/141/1367 drop) — otherwise the TTL term tests nothing
        assert n_straddle > 0
        assert 0 < n_survive < n_straddle
        # conservation: the entry's total == all pairs minus dropped
        got = sq.stream_transition_totals(spark, sf_dir)
        total = sum(r["n_transitions"] for r in got.collect())
        assert total == n_full - (n_straddle - n_survive)


class TestIntakeProtocols:
    """r11 intake entries: the oracle checks exact survivor sets; these
    assertions pin that the injected-duplicate protocol really fires
    BOTH dedup paths at the shipped SF — a within-batch drop and a
    cross-checkpoint store drop — so the entries can't rot into
    'nothing was ever deduplicated'."""

    def test_neardup_intake_drops_both_paths(self, spark, sf_dir):
        from power_generation_etl_spark.plans import intake_queries as iq

        surv = {
            r["doc_id"]
            for r in iq.stream_intake_neardup_docs(spark, sf_dir).collect()
        }
        assert surv
        d = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id")
            .withColumn("h4", iq._h4())
        )
        h0 = {r["doc_id"] for r in d.filter(F.col("h4") == 0).collect()}
        h1 = {r["doc_id"] for r in d.filter(F.col("h4") == 1).collect()}
        assert h0 and h1
        # cross-round copies of SURVIVING round-1 docs must be dropped
        # by the restored signature store
        store_drops = [
            a for a in h0 if a in surv and (a + iq._OFF_CROSS) not in surv
        ]
        assert store_drops, "no cross-checkpoint store drop happened"
        # within-batch copies of surviving round-2 originals must be
        # dropped by in-batch candidate verification
        batch_drops = [
            b for b in h1 if b in surv and (b + iq._OFF_WITHIN) not in surv
        ]
        assert batch_drops, "no within-batch drop happened"
        # and no injected copy of a SURVIVING original may itself
        # survive (its twin is in the store / batch by construction)
        assert not [a for a in h0 if a in surv and (a + iq._OFF_CROSS) in surv]
        assert not [b for b in h1 if b in surv and (b + iq._OFF_WITHIN) in surv]

    def test_filter_intake_dedups_across_checkpoint(self, spark, sf_dir):
        from power_generation_etl_spark.plans import intake_queries as iq

        row = iq.stream_intake_filter_docs(spark, sf_dir).first()
        # survivors == distinct fingerprints of quality-passing text:
        # strictly fewer than the staged universe (originals + copies),
        # i.e. the dedup dropped every injected duplicate
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs = d.count()
        assert n_docs > 0
        n_universe = (
            n_docs
            + d.withColumn("h4", iq._h4()).filter(F.col("h4") <= 1).count()
        )
        assert 0 < row["n_docs"] < n_universe

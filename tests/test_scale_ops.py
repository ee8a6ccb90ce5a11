"""Tests for the scale-engineering operators: chunk-level dedup, KMV
sketch, linear classifier scoring, integer PageRank, spine gap-fill,
and rolling range windows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from power_generation_etl_spark.operators import corpus as cp
from power_generation_etl_spark.operators import graph as gr
from power_generation_etl_spark.operators import scoring as sc
from power_generation_etl_spark.operators import sketch as sk
from power_generation_etl_spark.plans import QUERIES


class TestChunkDedup:
    def test_repeated_chunk_across_docs_drops_later_copy(self, spark):
        seg = " ".join(f"w{i}" for i in range(20))
        docs = spark.createDataFrame(
            [
                (1, seg + " tail one"),
                (2, seg + " different suffix"),
                (3, "completely fresh words only here"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in cp.chunk_dedup_stats(docs, "doc_id", "text").collect()
        }
        # doc 1 owns the shared 20-word chunk; doc 2's first chunk is a dup
        assert rows[1]["n_chunks"] == 2 and rows[1]["n_dup"] == 0
        assert rows[2]["n_chunks"] == 2 and rows[2]["n_dup"] == 1
        assert rows[3]["n_dup"] == 0

    def test_within_doc_repeats_also_dedup(self, spark):
        seg = " ".join(f"x{i}" for i in range(20))
        docs = spark.createDataFrame(
            [(7, seg + " " + seg)], "doc_id long, text string"
        )
        r = cp.chunk_dedup_stats(docs, "doc_id", "text").collect()[0]
        assert r["n_chunks"] == 2 and r["n_kept"] == 1 and r["n_dup"] == 1

    def test_ragged_tail_chunk_counts(self, spark):
        docs = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(25)))], "doc_id long, text string"
        )
        r = cp.chunk_dedup_stats(docs, "doc_id", "text").collect()[0]
        assert r["n_chunks"] == 2  # 20 + ragged 5


class TestKMV:
    def test_small_group_reports_exact(self, spark):
        df = spark.createDataFrame(
            [("a", f"v{i}") for i in range(5)], "grp string, val string"
        )
        r = sk.kmv_distinct(df, "grp", "val", k=16).collect()[0]
        assert r["n_hashes"] == 5 and r["kmv_estimate"] == 5

    def test_estimate_within_bound(self, spark):
        # 500 distinct values, k=64 → relative error ~ 1/sqrt(k-1) ≈ 13%;
        # assert a generous 3-sigma bound (deterministic given md5).
        df = spark.createDataFrame(
            [("g", f"value-{i}") for i in range(500)], "grp string, val string"
        )
        r = sk.kmv_distinct(df, "grp", "val", k=64).collect()[0]
        assert 500 * 0.6 <= r["kmv_estimate"] <= 500 * 1.5

    def test_duplicates_do_not_inflate(self, spark):
        df = spark.createDataFrame(
            [("g", f"v{i % 10}") for i in range(200)], "grp string, val string"
        )
        r = sk.kmv_distinct(df, "grp", "val", k=16).collect()[0]
        assert r["n_rows"] == 200 and r["kmv_estimate"] == 10


class TestClassifier:
    def test_hand_computed_logit(self, spark):
        docs = spark.createDataFrame(
            [(1, "spark query slow"), (2, "nothing matches here at all")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in sc.score_documents(spark, docs, "doc_id", "text").collect()
        }
        # 900 + 600 - 700 - 1500 = -700 → drop
        assert rows[1]["logit"] == -700 and rows[1]["label"] == "drop"
        assert rows[2]["logit"] == sc.DEMO_BIAS and rows[2]["label"] == "drop"

    def test_keep_label_above_threshold(self, spark):
        docs = spark.createDataFrame(
            [(1, "spark spark query query join")], "doc_id long, text string"
        )
        r = sc.score_documents(spark, docs, "doc_id", "text").collect()[0]
        assert r["logit"] == 2 * 900 + 2 * 600 + 500 - 1500 == 2000
        assert r["label"] == "keep"


class TestPageRank:
    def test_star_graph_center_ranks_highest(self, spark):
        edges = spark.createDataFrame(
            [(i, 0, 1) for i in range(1, 5)], "src long, dst long, w long"
        )
        ranks = {
            r["id"]: r["rank_scaled"]
            for r in gr.pagerank(edges, "src", "dst", "w").collect()
        }
        assert ranks[0] > ranks[1] == ranks[2] == ranks[3] == ranks[4]

    def test_exact_integer_trajectory_two_nodes(self, spark):
        # 0→1 only. N=2, scale=1e12, base=(15*(scale//2))//100.
        edges = spark.createDataFrame([(0, 1, 1)], "src long, dst long, w long")
        scale = 1_000_000_000_000
        base = (15 * (scale // 2)) // 100
        r = scale // 2
        r0_exp, r1_exp = r, r
        for _ in range(3):
            contrib1 = (1 * r0_exp) // 1
            r1_exp = base + (85 * contrib1) // 100
            r0_exp = base
        got = {
            row["id"]: row["rank_scaled"]
            for row in gr.pagerank(edges, "src", "dst", "w", iters=3).collect()
        }
        assert got == {0: r0_exp, 1: r1_exp}

    def test_empty_edges(self, spark):
        edges = spark.createDataFrame([], "src long, dst long, w long")
        assert gr.pagerank(edges, "src", "dst", "w").count() == 0


class TestSpineAndRolling:
    def test_gapfill_zero_rows_present(self, spark, sf_dir):
        df = QUERIES["daily_spine_gapfill"](spark, sf_dir)
        days = df.select("day").distinct().count()
        types = df.select("event_type").distinct().count()
        assert df.count() == days * types  # dense grid
        assert df.where(F.col("n_events") == 0).count() >= 0

    def test_rolling_window_hand_case(self, spark):
        import datetime as dt

        rows = [
            # user 1: days 0, 3, 8 (day 8 outside day-3's 7-day window...
            # window is [d-6, d]: day 8 covers {3, 8}? 8-6=2 → includes 3)
            (1, dt.datetime(1970, 1, 1, 1, 0, 0), 1.00),
            (1, dt.datetime(1970, 1, 4, 1, 0, 0), 2.00),
            (1, dt.datetime(1970, 1, 9, 1, 0, 0), 4.00),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp_ntz, value double"
        )
        from power_generation_etl_spark.plans import scale_queries as sq

        # inline the rolling computation over a local frame
        ev = df.select(
            "user_id",
            (F.unix_date(F.col("ts").cast("date"))).cast("bigint").alias("d"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        daily = ev.groupBy("user_id", "d").agg(F.sum("cents").alias("day_cents"))
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("d").rangeBetween(-6, 0)
        out = {
            r["d"]: r["c7"]
            for r in daily.select(
                "d", F.sum("day_cents").over(w).alias("c7")
            ).collect()
        }
        assert out[0] == 100
        assert out[3] == 300  # day 0 within [−3..3]
        assert out[8] == 600  # day 3 within [2..8], day 0 not


class TestAnalyticsBreadth:
    def test_ohlc_invariants(self, spark, sf_dir):
        df = QUERIES["ohlc_5min_bars"](spark, sf_dir)
        rows = df.collect()
        assert rows, "no bars"
        for r in rows:
            assert r["low"] <= r["open"] <= r["high"]
            assert r["low"] <= r["close"] <= r["high"]
            assert r["n_events"] >= 1

    def test_gap_hist_total_matches(self, spark, sf_dir):
        df = QUERIES["event_gap_magnitude_hist"](spark, sf_dir)
        total_gaps = sum(r["n_gaps"] for r in df.collect())
        from power_generation_etl_spark.plans.temporal_queries import T_events_us

        ev = T_events_us(spark, sf_dir)
        n_events = ev.count()
        n_users = ev.select("user_id").distinct().count()
        assert total_gaps == n_events - n_users  # one lag-null per user

    def test_fuzzy_pairs_within_brand_and_bounded(self, spark, sf_dir):
        rows = QUERIES["fuzzy_part_name_pairs"](spark, sf_dir).collect()
        for r in rows:
            assert r["lev"] <= 2 and r["key_a"] < r["key_b"]

    def test_fuzzy_blocked_fallback_matches_cross_path(
        self, spark, sf_dir, monkeypatch
    ):
        """Forcing the distinct-name-domain guard below the actual
        domain size switches fuzzy_part_name_pairs to the brand ×
        length-band blocked equi-join; the results must be identical
        and the fallback plan must contain NO nested-loop join (the
        BNLJ allowlist entry covers only the under-threshold branch)."""
        primary = QUERIES["fuzzy_part_name_pairs"](spark, sf_dir).collect()
        monkeypatch.setenv("SPARK_ETL_FUZZY_NAME_DOMAIN_MAX", "1")
        fallback_df = QUERIES["fuzzy_part_name_pairs"](spark, sf_dir)
        plan = fallback_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert fallback_df.collect() == primary

    @pytest.mark.parametrize("value", ["abc", "0", "-1"])
    def test_fuzzy_name_domain_env_rejects_non_positive_integers(
        self, spark, sf_dir, monkeypatch, value
    ):
        monkeypatch.setenv("SPARK_ETL_FUZZY_NAME_DOMAIN_MAX", value)
        with pytest.raises(ValueError, match="SPARK_ETL_FUZZY_NAME_DOMAIN_MAX"):
            QUERIES["fuzzy_part_name_pairs"](spark, sf_dir)

    def test_latest_snapshot_one_row_per_customer(self, spark, sf_dir):
        df = QUERIES["latest_order_snapshot"](spark, sf_dir)
        assert df.count() == df.select("o_custkey").distinct().count()


class TestSplitAndMixture:
    def test_split_partitions_are_exhaustive_and_disjoint(self, spark, sf_dir):
        df = QUERIES["train_val_test_split"](spark, sf_dir)
        total = df.agg(F.sum("n_docs")).collect()[0][0]
        from power_generation_etl_spark.plans.queries import T

        assert total == T(spark, sf_dir, "documents").count()
        splits = {r["split"] for r in df.collect()}
        assert splits <= {"train", "val", "test"}

    def test_split_roughly_80_10_10(self, spark, sf_dir):
        df = QUERIES["train_val_test_split"](spark, sf_dir)
        by_split = {
            r["split"]: r["n"]
            for r in df.groupBy("split").agg(F.sum("n_docs").alias("n")).collect()
        }
        total = sum(by_split.values())
        assert by_split.get("train", 0) / total > 0.6

    def test_mixture_rates_capped_and_budget_respected(self, spark, sf_dir):
        rows = QUERIES["mixture_plan"](spark, sf_dir).collect()
        for r in rows:
            assert 0 <= r["sample_rate_bp"] <= 10000
            # rate * n_tokens / 10000 never exceeds the allocation
            assert (r["sample_rate_bp"] * r["n_tokens"]) // 10000 <= max(
                r["tokens_budgeted"], r["n_tokens"]
            )
        assert sum(r["target_pct"] for r in rows) == 100


class TestCumulativeAndPreflight:
    def test_cumulative_monotone_and_total(self, spark, sf_dir):
        rows = QUERIES["cumulative_unique_users"](spark, sf_dir).collect()
        cums = [r["cum_users"] for r in rows]
        assert cums == sorted(cums)
        from power_generation_etl_spark.plans.temporal_queries import T_events_us

        n_users = T_events_us(spark, sf_dir).select("user_id").distinct().count()
        assert cums[-1] == n_users and sum(r["n_new"] for r in rows) == n_users

    def test_preflight_matches_actual_join(self, spark, sf_dir):
        from power_generation_etl_spark.plans.queries import T

        r = QUERIES["join_size_preflight"](spark, sf_dir).collect()[0]
        o = T(spark, sf_dir, "orders")
        li = T(spark, sf_dir, "lineitem")
        actual = o.join(li, o.o_orderkey == li.l_orderkey).count()
        assert r["join_rows"] == actual


class TestStreaksAndPareto:
    def test_streaks_hand_case(self, spark):
        import datetime as dt

        mk = lambda day: dt.datetime(1970, 1, day, 12, 0, 0)
        rows = [(1, mk(1)), (1, mk(2)), (1, mk(3)), (1, mk(7)), (2, mk(5))]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
        days = df.select(
            "user_id", F.unix_date(F.col("ts").cast("date")).cast("bigint").alias("d")
        ).distinct()
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("d")
        isl = days.select(
            "user_id", (F.col("d") - F.row_number().over(w)).alias("island")
        )
        streaks = isl.groupBy("user_id", "island").count()
        s = {
            (r["user_id"], r["count"])
            for r in streaks.collect()
        }
        assert s == {(1, 3), (1, 1), (2, 1)}

    def test_pareto_no_dominated_rows(self, spark, sf_dir):
        rows = QUERIES["pareto_docs_frontier"](spark, sf_dir).collect()
        assert rows
        for a in rows:
            for b in rows:
                if b["n_chars"] < a["n_chars"]:
                    assert b["toks"] < a["toks"], (a, b)

    def test_streak_totals_bounded_by_days(self, spark, sf_dir):
        rows = QUERIES["user_activity_streaks"](spark, sf_dir).collect()
        for r in rows:
            assert r["longest_streak"] <= r["active_days"]
            assert r["n_streaks"] >= 1


class TestKMVTwoStage:
    def test_two_stage_equals_single_stage(self, spark):
        rows = [(f"g{i % 3}", f"val-{i % 700}") for i in range(5000)]
        df = spark.createDataFrame(rows, "grp string, val string").repartition(16)
        a = sk.kmv_distinct(df, "grp", "val", k=32).collect()
        b = sk.kmv_distinct(df, "grp", "val", k=32, two_stage=True).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestRollingDistinct:
    def test_matches_brute_force(self, spark, sf_dir):
        from power_generation_etl_spark.plans.temporal_queries import T_events_us

        got = {
            r["day"]: r["users_7d"]
            for r in QUERIES["rolling_7d_unique_users"](spark, sf_dir).collect()
        }
        ud = [
            (r["user_id"], r["d"])
            for r in T_events_us(spark, sf_dir)
            .select("user_id", (F.expr("ts_us div 86400000000")).alias("d"))
            .distinct()
            .collect()
        ]
        import datetime as dt

        days = sorted({d for _, d in ud})
        for d in days[:5] + days[-3:]:
            expect = len({u for u, dd in ud if d - 6 <= dd <= d})
            day_str = (
                dt.date(1970, 1, 1) + dt.timedelta(days=d)
            ).isoformat()
            assert got[day_str] == expect


class TestStatusHistory:
    def test_intervals_cover_all_orders_without_overlap_per_run(self, spark, sf_dir):
        from power_generation_etl_spark.plans.queries import T

        df = QUERIES["order_status_history"](spark, sf_dir)
        n_orders = T(spark, sf_dir, "orders").count()
        assert df.agg(F.sum("n_orders")).collect()[0][0] == n_orders
        for r in df.collect():
            assert r["valid_from"] <= r["valid_to"]

    def test_consecutive_identical_states_collapse(self, spark):
        rows = [
            (1, "A", "2024-01-01", 1),
            (1, "A", "2024-01-02", 2),
            (1, "B", "2024-01-03", 3),
            (1, "A", "2024-01-04", 4),
        ]
        df = spark.createDataFrame(
            rows, "o_custkey long, o_orderstatus string, od string, o_orderkey long"
        )
        from pyspark.sql.window import Window

        w_all = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
        w_st = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
            "od", "o_orderkey"
        )
        r = df.withColumn(
            "island", F.row_number().over(w_all) - F.row_number().over(w_st)
        )
        out = (
            r.groupBy("o_custkey", "o_orderstatus", "island")
            .agg(F.min("od").alias("f"), F.max("od").alias("t"))
            .collect()
        )
        spans = sorted((x["o_orderstatus"], x["f"], x["t"]) for x in out)
        assert spans == [
            ("A", "2024-01-01", "2024-01-02"),
            ("A", "2024-01-04", "2024-01-04"),
            ("B", "2024-01-03", "2024-01-03"),
        ]


class TestLogitExpr:
    def test_expression_form_equals_join_form(self, spark, sf_dir):
        from power_generation_etl_spark.plans.queries import T

        d = T(spark, sf_dir, "documents").limit(200)
        join_form = {
            r["doc_id"]: r["logit"]
            for r in sc.score_documents(spark, d, "doc_id", "text").collect()
        }
        expr_form = {
            r["doc_id"]: r["logit"]
            for r in d.select(
                "doc_id", sc.logit_expr(F.col("text")).alias("logit")
            ).collect()
        }
        assert join_form == expr_form


class TestNullInputRegressions:
    def test_kmv_null_values_do_not_shift_rank(self, spark):
        rows = [("g", f"v{i}") for i in range(20)] + [("g", None)] * 3
        df = spark.createDataFrame(rows, "grp string, val string")
        r = sk.kmv_distinct(df, "grp", "val", k=16).collect()[0]
        r2 = sk.kmv_distinct(
            df.where(F.col("val").isNotNull()), "grp", "val", k=16
        ).collect()[0]
        # NULLs count as rows but never as hashes, and never occupy a rank
        assert r["n_rows"] == 23 and r["n_hashes"] == 20
        assert r["kmv_estimate"] == r2["kmv_estimate"]

    def test_chunk_dedup_null_text_yields_no_chunks(self, spark):
        docs = spark.createDataFrame(
            [(1, None), (2, None), (3, "real words here")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in cp.chunk_dedup_stats(
            docs, "doc_id", "text"
        ).collect()}
        assert set(rows) == {3}  # null docs absent, like the SQL twin
        assert rows[3]["n_dup"] == 0

    def test_logit_expr_null_text_is_bias_only(self, spark):
        df = spark.createDataFrame([(1, None)], "doc_id long, text string")
        got = df.select(sc.logit_expr(F.col("text")).alias("l")).collect()[0]["l"]
        assert got == sc.DEMO_BIAS


class TestGoldenRecords:
    def test_transitive_merge_at_shipped_corpus(self, spark, sf_dir):
        """The ER entry only evidences transitive closure if some
        cluster chains ≥3 names that pairwise exceed the edit bound
        ('cold X'–'red X' is distance 3, linked only through 'old X')."""
        from power_generation_etl_spark.plans.scale_queries import (
            golden_part_records,
        )

        rows = golden_part_records(spark, sf_dir).collect()
        assert rows
        big = [r for r in rows if r["n_names"] >= 3]
        assert big, "no transitive cluster — fixture degenerated"
        # survivorship: canonical is the longest name in its cluster
        by_cluster = {r["cluster_name"]: r for r in rows}
        for r in big:
            assert len(r["canonical_name"]) >= len(r["cluster_name"])


class TestFifoAllocation:
    def test_hand_computed_fifo(self, spark, tmp_path):
        """Supplies [5, 10], demands [3, 3, 9, 2] (one part):
        FIFO matches (s1,d1)=3, (s1,d2)=2, (s2,d2)=1, (s2,d3)=9 →
        wait: cumS = [5, 15], cumD = [3, 6, 15, 17]; overlap algebra:
        (s1,d1): min(5,3)-max(0,0)=3; (s1,d2): min(5,6)-max(0,3)=2;
        (s2,d2): min(15,6)-max(5,3)=1; (s2,d3): min(15,15)-max(5,6)=9;
        d4 (prev 15) overlaps nothing (sprev<17 but dprev=15 !< scum=15
        fails for s2) → unmatched. Total matched = 15 = min(ΣS, ΣD)."""
        from power_generation_etl_spark.plans.scale_queries import (
            fifo_allocation_parts,
        )

        rows = []
        # part 1; supplies on even orderkeys, demands on odd; ship order
        # by (date, orderkey)
        for ok, qty, day in [(2, 5, 1), (4, 10, 2),
                             (1, 3, 1), (3, 3, 2), (5, 9, 3), (7, 2, 4)]:
            rows.append((ok, 1, float(qty), f"1995-01-0{day} 00:00:00"))
        li = spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long, l_quantity double, sd string"
        ).selectExpr(
            "l_orderkey", "l_partkey", "l_quantity",
            "CAST(sd AS TIMESTAMP_NTZ) AS l_shipdate",
        )
        sf = tmp_path / "sf"
        sf.mkdir()
        li.write.parquet(str(sf / "lineitem.parquet"))
        got = fifo_allocation_parts(spark, str(sf)).collect()
        assert len(got) == 1
        r = got[0]
        # checksum: 3·(1+1) + 2·(1+2) + 1·(2+2) + 9·(2+3) = 6+6+4+45 = 61
        assert (r["n_matches"], r["matched_qty"], r["fifo_checksum"]) == (4, 15, 61)

"""Tests for the LLM-data-pipeline operators: near-dup recall,
similarity search consistency, text analysis, multimodal plumbing."""

from __future__ import annotations

import ast
import os
import random

import pytest
from pyspark.sql import functions as F

from power_generation_etl_spark.operators import minhash as mh
from power_generation_etl_spark.operators import multimodal as mm
from power_generation_etl_spark.operators import similarity as sim
from power_generation_etl_spark.session import local_frame


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


class TestNearDup:
    def test_minhash_lsh_recall_against_exact(self, docs):
        exact = {
            (r["id_a"], r["id_b"])
            for r in mh.exact_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in mh.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        }
        assert exact, "synthetic corpus should contain planted near-dups"
        # Verified candidates ⊆ exact; recall high on ~0.99-jaccard dups.
        assert lsh <= exact
        assert len(lsh) >= 0.9 * len(exact)

    def test_simhash_pairs_overlap_exact(self, docs):
        exact = {
            (r["id_a"], r["id_b"])
            for r in mh.exact_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        }
        sh = {
            (r["id_a"], r["id_b"])
            for r in mh.simhash_pairs(docs, "doc_id", "text", max_hamming=8).collect()
        }
        # SimHash at hamming≤8 should find most planted dups.
        assert len(sh & exact) >= 0.7 * len(exact)

    def test_lsh_verification_has_no_forced_broadcast(self, docs):
        """The candidate/count verification joins must not carry a
        broadcast hint: on a dup-heavy corpus the candidate set is
        O(pairs) and a forced broadcast OOMs. AQE may still promote at
        runtime — the guard is against *forcing* it in the plan."""
        pairs = mh.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
        analyzed = pairs._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed

    def test_prefix_filtering_equals_full_index(self, docs):
        """AllPairs prefix filtering is an optimization, not a
        semantics change: identical output to the full inverted index
        at multiple thresholds (the lemma's zero-recall-loss claim)."""
        for t in (0.3, 0.5, 0.7):
            exact = sorted(
                tuple(r)
                for r in mh.exact_jaccard_pairs(
                    docs, "doc_id", "text", threshold=t
                ).collect()
            )
            pref = sorted(
                tuple(r)
                for r in mh.prefix_jaccard_pairs(
                    docs, "doc_id", "text", threshold=t
                ).collect()
            )
            assert pref == exact, f"divergence at threshold {t}"

    def test_prefix_df_cap_rarity_knob(self, spark):
        """The df_cap rarity knob (added after the derived-corpus probe
        measured quadratic candidate growth on uniform corpora —
        SCALING_MEASURED.md): a generous cap changes nothing; a tight
        cap still finds pairs whose prefixes contain ANY shingle at or
        under the cap (rarest-first ordering makes that the common
        case) and only drops pairs whose entire prefixes are
        boilerplate — the documented recall contract."""
        boiler = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [
                # near-dup pair sharing a RARE tail (unique shingles)
                (1, boiler + " zebra quartz umbrella"),
                (2, boiler + " zebra quartz umbrella extra"),
                # boilerplate-only docs: every shingle df == 4
                (3, boiler),
                (4, boiler),
            ],
            "doc_id bigint, text string",
        )
        uncapped = sorted(
            tuple(r)
            for r in mh.prefix_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5
            ).collect()
        )
        generous = sorted(
            tuple(r)
            for r in mh.prefix_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5, df_cap=1000
            ).collect()
        )
        assert generous == uncapped and len(uncapped) >= 2
        capped = {
            (r["id_a"], r["id_b"])
            for r in mh.prefix_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5, df_cap=3
            ).collect()
        }
        # the rare-tail pair survives (its prefix holds df<=2 shingles);
        # the boilerplate-only (3,4) pair is the documented miss
        assert (1, 2) in capped
        assert (3, 4) not in capped
        # reported similarity stays EXACT (verification is uncapped)
        sim12_uncapped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in mh.prefix_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5
            ).collect()
        }[(1, 2)]
        sim12_capped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in mh.prefix_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5, df_cap=3
            ).collect()
        }[(1, 2)]
        assert sim12_capped == sim12_uncapped

    def test_allpairs_guard_exact_below_bound(self, docs):
        """The r9 runtime guard: with a generous bound the plan is the
        untouched zero-recall-loss exact AllPairs output, and no
        warning fires."""
        import warnings as w

        exact = sorted(
            tuple(r)
            for r in mh.exact_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5
            ).collect()
        )
        with w.catch_warnings():
            w.simplefilter("error")  # any UserWarning → test failure
            guarded = sorted(
                tuple(r)
                for r in mh.prefix_jaccard_pairs(
                    docs, "doc_id", "text", threshold=0.5,
                    max_candidates=10**9,
                ).collect()
            )
        assert guarded == exact

    def test_allpairs_guard_engages_on_uniform_corpus(self, spark):
        """Forcing a tiny bound on a uniform corpus (every shingle
        frequent — the measured-quadratic shape) must auto-engage a
        df_cap with a UserWarning, and the result must equal the
        explicit-df_cap run at the cap the pure chooser picks."""
        import pytest as pt

        # uniform: 8 docs, all sharing heavy boilerplate + tiny tails
        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [(i, f"{base} tail{i % 4} t{i % 2}") for i in range(8)],
            "doc_id bigint, text string",
        )
        with pt.warns(UserWarning, match="auto-engaging df_cap"):
            guarded = sorted(
                tuple(r)
                for r in mh.prefix_jaccard_pairs(
                    docs, "doc_id", "text", threshold=0.5, max_candidates=3
                ).collect()
            )
        # reconstruct the cap the guard chose and check equivalence
        # with the explicit knob (the guard is exactly "auto df_cap")
        sh = mh.shingle_table(docs, "doc_id", "text", 3)
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        t_eff = 0.5 - 1e-4
        wdw = Window.partitionBy("doc_id").orderBy("df", "s")
        pref = (
            sh.join(dfreq, "s")
            .withColumn("r", F.row_number().over(wdw))
            .join(counts, "doc_id")
            .where(
                F.col("r")
                <= F.col("n_sh") - F.ceil(F.lit(t_eff) * F.col("n_sh")) + 1
            )
        )
        rows = [
            (r["df"], int(r["vol"]))
            for r in pref.groupBy("s", "df")
            .agg(F.count(F.lit(1)).alias("p"))
            .groupBy("df")
            .agg(F.sum(F.col("p") * (F.col("p") - 1)).alias("vol"))
            .collect()
        ]
        cap = mh._choose_df_cap(rows, 3)
        assert cap is not None  # the bound genuinely binds here
        explicit = sorted(
            tuple(r)
            for r in mh.prefix_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5, df_cap=cap
            ).collect()
        )
        assert guarded == explicit

    def test_fullindex_guard_exact_below_bound(self, docs):
        """The guard on the FULL inverted index: generous bound →
        untouched exact output, no warning."""
        import warnings as w

        baseline = sorted(
            tuple(r)
            for r in mh.exact_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5, max_candidates=0
            ).collect()
        )
        with w.catch_warnings():
            w.simplefilter("error")
            guarded = sorted(
                tuple(r)
                for r in mh.exact_jaccard_pairs(
                    docs, "doc_id", "text", threshold=0.5,
                    max_candidates=10**9,
                ).collect()
            )
        assert guarded == baseline

    def test_fullindex_guard_engages_with_stop_shingle_semantics(self, spark):
        """A bound that lands MID-ladder (cap > 1, some pairs survive):
        the guard must warn, equal the explicit doc_freq_cap at the
        chosen cap, and still FIND the rare-shingle pair — i.e. the
        engaged semantics are exercised non-trivially, not via an
        everything-empty degenerate case."""
        import pytest as pt

        boiler = "alpha beta gamma delta epsilon"  # shared by ALL docs
        rare = " ".join(f"u{i}" for i in range(12))  # shared by docs 1,2 only
        rows_data = [(1, f"{boiler} {rare}"), (2, f"{boiler} {rare}")]
        rows_data += [
            (i, f"{boiler} junk{i}a junk{i}b junk{i}c") for i in range(3, 9)
        ]
        docs = spark.createDataFrame(rows_data, "doc_id bigint, text string")

        # derive a bound that keeps every df=2 bucket but busts on the
        # df=8 boilerplate bucket → cap lands strictly between
        sh = mh.shingle_table(docs, "doc_id", "text", 3)
        from pyspark.sql import functions as F

        buckets = {
            int(r["df"]): int(r["ns"]) * int(r["df"]) * (int(r["df"]) - 1)
            for r in sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .groupBy("df")
            .agg(F.count(F.lit(1)).alias("ns"))
            .collect()
        }
        assert 2 in buckets and max(buckets) > 2  # the shape we built
        bound = sum(v for d, v in buckets.items() if d <= 2)
        cap = mh._choose_df_cap(sorted(buckets.items()), bound)
        assert cap == 2  # mid-ladder, not the floor

        with pt.warns(UserWarning, match="auto-engaging doc_freq_cap"):
            guarded = sorted(
                tuple(r)
                for r in mh.exact_jaccard_pairs(
                    docs, "doc_id", "text", threshold=0.3,
                    max_candidates=bound,
                ).collect()
            )
        explicit = sorted(
            tuple(r)
            for r in mh.exact_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.3, doc_freq_cap=cap
            ).collect()
        )
        assert guarded == explicit
        assert guarded, "the rare-shingle pair must survive the cap"
        assert (1, 2) in {(r[0], r[1]) for r in guarded}

    def test_fullindex_guard_floor_warns_empty(self, spark):
        """At the cap=1 floor the full index can never produce a pair —
        the warning must say so explicitly."""
        import pytest as pt

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [(i, f"{base} tail{i % 4} t{i % 2}") for i in range(8)],
            "doc_id bigint, text string",
        )
        with pt.warns(UserWarning, match="result will be EMPTY"):
            out = mh.exact_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5, max_candidates=3
            ).collect()
        assert out == []

    def test_catalog_entries_immune_to_guard_env(self, spark, sf_dir, monkeypatch):
        """Oracle-gated catalog entries pin max_candidates explicitly,
        so a hostile SPARK_ETL_ALLPAIRS_MAX_CANDIDATES can never change
        their output out from under the registered exact oracles."""
        from power_generation_etl_spark.plans import QUERIES

        baseline = sorted(
            tuple(r) for r in QUERIES["ngram_jaccard_pairs"](spark, sf_dir).collect()
        )
        monkeypatch.setenv("SPARK_ETL_ALLPAIRS_MAX_CANDIDATES", "1")
        import warnings as w

        with w.catch_warnings():
            w.simplefilter("error")  # and no guard warning fires either
            hostile = sorted(
                tuple(r)
                for r in QUERIES["ngram_jaccard_pairs"](spark, sf_dir).collect()
            )
            prefix = sorted(
                tuple(r)
                for r in QUERIES["prefix_jaccard_pairs"](spark, sf_dir).collect()
            )
        assert hostile == baseline
        assert prefix == baseline  # same truth, both env-immune

    def test_allpairs_cap_chooser(self):
        """_choose_df_cap: largest cap whose cumulative rarest-first
        volume fits; None when the total fits; floor at 1."""
        per_df = [(1, 0), (2, 10), (3, 30), (7, 100)]
        assert mh._choose_df_cap(per_df, 1000) is None  # total fits
        assert mh._choose_df_cap(per_df, 40) == 3  # 0+10+30 <= 40
        assert mh._choose_df_cap(per_df, 39) == 2  # 3-bucket busts it
        assert mh._choose_df_cap(per_df, 5) == 1  # only df=1 fits
        assert mh._choose_df_cap([(2, 99)], 5) == 1  # floor

    def test_allpairs_cap_chooser_properties(self):
        """Property sweep of the pure chooser: when a cap is chosen it
        is (a) within budget for the buckets it keeps (or the floor),
        (b) MAXIMAL — the next-larger present df would bust the bound —
        and (c) None exactly when the whole volume fits."""
        from hypothesis import given
        from hypothesis import strategies as st

        bucket = st.tuples(
            st.integers(min_value=1, max_value=50),
            st.integers(min_value=0, max_value=10_000),
        )

        @given(
            st.lists(bucket, max_size=12, unique_by=lambda b: b[0]),
            st.integers(min_value=0, max_value=50_000),
        )
        def check(per_df, bound):
            cap = mh._choose_df_cap(per_df, bound)
            total = sum(v for _, v in per_df)
            if cap is None:
                assert total <= bound
                return
            assert total > bound
            kept = sum(v for d, v in per_df if d <= cap)
            larger = sorted(d for d, _ in per_df if d > cap)
            if kept > bound:
                assert cap == 1  # only via the floor
            if larger:
                nxt = sum(v for d, v in per_df if d <= larger[0])
                assert nxt > bound or cap == 1  # maximality

        check()

    def test_shingles_edgecases(self, spark):
        df = spark.createDataFrame(
            [(1, "one two"), (2, "a b c d"), (3, "")], ["id", "t"]
        )
        rows = df.select(
            "id", F.size(mh.word_shingles(F.col("t"), 3)).alias("n")
        ).collect()
        got = {r["id"]: r["n"] for r in rows}
        assert got[1] == 0  # shorter than n
        assert got[2] == 2  # 'a b c', 'b c d'


class TestSimilarity:
    def test_lsh_topk_subset_of_bruteforce(self, embeddings):
        qv = [
            float(x)
            for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        bf = sim.brute_force_topk(
            embeddings.filter(F.col("vec_id") != 0), "vec_id", "embedding", qv, k=10
        ).collect()
        assert len(bf) == 10
        assert bf[0]["cosine_sim"] >= bf[-1]["cosine_sim"]

    def test_lsh_neardup_precision_is_exact(self, embeddings):
        exact = {
            (r["id_a"], r["id_b"])
            for r in sim.all_pairs_neardup(
                embeddings, "vec_id", "embedding", threshold=0.4
            ).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in sim.lsh_bucketed_neardup(
                embeddings, "vec_id", "embedding", threshold=0.4
            ).collect()
        }
        assert lsh <= exact  # exact verification ⇒ precision 1

    def test_ivf_index_partition_pruning(self, spark, embeddings, tmp_path):
        """write_ivf_index + ivf_probe_index: the probe's parquet scan
        must prune at the partition level (PartitionFilters on cell),
        mirroring the store's month-pruning guarantee."""
        path = str(tmp_path / "ivf_index")
        cents = sim.write_ivf_index(
            embeddings, "vec_id", "embedding", path, n_cells=8
        )
        assert len(cents) >= 2
        qv = [
            float(x)
            for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        probed = sim.ivf_probe_index(
            spark, path, cents, qv, k=10, n_probe_fraction=0.25
        )
        plan = probed._jdf.queryExecution().executedPlan().toString()
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "PartitionFilters: [cell" in scan  # pruned, not post-filtered
        # full probe over the index == brute force over the source table
        full = sim.ivf_probe_index(spark, path, cents, qv, k=10, n_probe_fraction=1.0)
        bf = sim.brute_force_topk(embeddings, "vec_id", "embedding", qv, k=10)
        assert [r["vec_id"] for r in full.collect()] == [
            r["vec_id"] for r in bf.collect()
        ]

    def test_all_pairs_guard_refuses_large_input(self, embeddings):
        """The O(n²) exact twin refuses inputs above max_rows so a
        catalog run at a large sf can't silently go quadratic."""
        with pytest.raises(ValueError, match="O\\(n²\\)|max_rows"):
            sim.all_pairs_neardup(
                embeddings, "vec_id", "embedding", threshold=0.4, max_rows=10
            ).collect()
        # and max_rows=0 disables the guard
        sim.all_pairs_neardup(
            embeddings.limit(20), "vec_id", "embedding", threshold=0.4, max_rows=0
        ).collect()

    def test_ivf_overlaps_bruteforce(self, embeddings):
        qv = [
            float(x)
            for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        bf = [
            r["vec_id"]
            for r in sim.brute_force_topk(embeddings, "vec_id", "embedding", qv, k=10).collect()
        ]
        ivf = [
            r["vec_id"]
            for r in sim.ivf_topk(
                embeddings, "vec_id", "embedding", qv, k=10,
                n_probe_fraction=0.5, label_col="label",
            ).collect()
        ]
        assert len(set(bf) & set(ivf)) >= 5  # probing half the cells

    def test_ivf_kmeans_full_probe_equals_bruteforce(self, embeddings):
        """With n_probe_fraction=1.0, IVF over trained k-means cells is
        an exact search — must equal brute-force top-k exactly."""
        qv = [
            float(x)
            for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        bf = [
            (r["vec_id"], r["cosine_sim"])
            for r in sim.brute_force_topk(embeddings, "vec_id", "embedding", qv, k=10).collect()
        ]
        ivf = [
            (r["vec_id"], r["cosine_sim"])
            for r in sim.ivf_topk(
                embeddings, "vec_id", "embedding", qv, k=10,
                n_probe_fraction=1.0, label_col=None,
            ).collect()
        ]
        assert ivf == bf

    def test_kmeans_train_deterministic(self, embeddings):
        c1 = sim.kmeans_train(embeddings, "vec_id", "embedding", k=4, iters=2)
        c2 = sim.kmeans_train(embeddings, "vec_id", "embedding", k=4, iters=2)
        assert c1 == c2
        assert 1 <= len(c1) <= 4
        # every centroid has the embedding dim and the rounding contract
        for _, cent in c1:
            assert len(cent) == 64
            assert all(abs(x - round(x, 6)) < 1e-12 for x in cent)


def _null_vectors(spark):
    """12 seeded 8-dim vectors, id 6 holding a NULL element, plus a
    whole-NULL vector at the lowest id (a k-means seed candidate)."""
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(1, 13)]
    rows[5] = (6, [1.0, None, 0.5, 0.2, -0.3, 0.1, 0.4, -0.2])
    return local_frame(
        spark, [(0, None)] + rows, "vec_id bigint, embedding array<double>"
    )


def _expr_pairs(pairs, a_col, b_col, out_col):
    """Reference twin of `cosine_pairs_seq`: the `cosine()` expression
    over the same pair rows."""
    keep = [c for c in pairs.columns if c not in (a_col, b_col)]
    return pairs.select(*keep, sim.cosine(F.col(a_col), F.col(b_col)).alias(out_col))


class TestNullVectors:
    @pytest.mark.parametrize("op", [
        "all_pairs_neardup", "lsh_bucketed_neardup", "semdedup",
        "semantic_decontam",
    ])
    def test_null_element_pairs_match_the_expression(self, spark, monkeypatch, op):
        """A vector holding a NULL element gets a NULL pair cosine, as
        `cosine()` gives it, instead of failing the Arrow kernel."""
        e = _null_vectors(spark)
        bench = e.where("vec_id IN (0, 1, 2, 6)").toDF("bid", "bv")
        run = {
            "all_pairs_neardup": lambda: sim.all_pairs_neardup(
                e, "vec_id", "embedding", threshold=-1.0
            ),
            "lsh_bucketed_neardup": lambda: sim.lsh_bucketed_neardup(
                e, "vec_id", "embedding", threshold=-1.0
            ),
            "semdedup": lambda: sim.semdedup(
                e, "vec_id", "embedding", k=2, iters=2, threshold=0.0
            ),
            "semantic_decontam": lambda: sim.semantic_decontam(
                e, "vec_id", "embedding", bench, "bid", "bv", threshold=-1.0
            ),
        }[op]
        got = run().collect()
        assert got
        monkeypatch.setattr(sim, "cosine_pairs_seq", _expr_pairs)
        assert got == run().collect()

    def test_kmeans_skips_null_vectors(self, spark):
        e = _null_vectors(spark)
        cents = sim.kmeans_train(e, "vec_id", "embedding", k=2, iters=2)
        assert cents == sim.kmeans_train(
            e.where("vec_id != 0"), "vec_id", "embedding", k=2, iters=2
        )
        assert sim.ivf_topk(
            e, "vec_id", "embedding", [0.1] * 8, k=5, n_cells=2, label_col=None
        ).collect()
        assert sim.semdedup(e, "vec_id", "embedding", k=2, iters=2).collect()


def test_one_exact_kernel_per_vector_job():
    """No function in the package takes a `kernel` option, and the
    similarity module keeps one scalar pandas UDF: the Lloyd's training
    assigner."""
    pkg = os.path.dirname(os.path.dirname(sim.__file__))
    takes_kernel = []
    for d, _sub, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(d, name)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                takes_kernel += [
                    f"{os.path.relpath(path, pkg)}:{n.lineno}"
                    for n in ast.walk(tree)
                    if isinstance(n, (ast.FunctionDef, ast.Lambda))
                    and any(
                        a.arg == "kernel"
                        for a in n.args.posonlyargs + n.args.args + n.args.kwonlyargs
                    )
                ]
    assert takes_kernel == []
    with open(sim.__file__) as f:
        tree = ast.parse(f.read())
    udfs = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "pandas_udf"
    ]
    assert len(udfs) == 1


class TestPQ:
    def test_adc_ranks_close_to_exact(self, spark, embeddings, sf_dir):
        """PQ/ADC is approximate; with 4x8 codebooks on the synthetic
        corpus its top-10 must still overlap the exact euclidean top-10
        substantially (compressed-domain rank quality floor)."""
        from pyspark.sql import functions as F

        qv = [
            float(x)
            for x in embeddings.filter(F.col("vec_id") == 0)
            .select("embedding")
            .head()[0]
        ]
        pq_top = [
            r["vec_id"]
            for r in sim.pq_topk(
                embeddings, "vec_id", "embedding", qv, k=10
            ).collect()
        ]
        v = sim.as_double_array(F.col("embedding"))
        exact = [
            r["vec_id"]
            for r in embeddings.select(
                "vec_id", sim.squared_dist(v, qv).alias("d2")
            )
            .orderBy("d2", "vec_id")
            .limit(10)
            .collect()
        ]
        # Uniform-random 64-dim vectors are PQ's worst case (no cluster
        # structure for the codebooks to exploit); require a non-trivial
        # overlap floor rather than production recall, plus the query
        # vector itself surfacing.
        assert len(set(pq_top) & set(exact)) >= 2
        assert 0 in pq_top

    def test_pq_batched_training_equals_sequential(self, spark, sf_dir):
        """r9: the batched trainer (one exploded groupBy(j, cell) job
        per Lloyd round for all m subspaces) must reproduce the
        per-subspace sequential trajectory EXACTLY — same seeds, same
        assignments, same 6-dp rounded centroids — on a real corpus
        and at multiple (m, k_sub, iters) shapes."""
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
            F.col("embedding").isNotNull()
        )
        src = e.select(
            F.col("vec_id").alias("_id"),
            sim.as_double_array(F.col("embedding")).alias("_enc"),
        )
        for m, k_sub, iters in ((4, 8, 2), (2, 4, 3), (8, 3, 1)):
            batched = sim._pq_train_impl(src, m, k_sub, iters)
            sequential = sim._pq_train_sequential_impl(src, m, k_sub, iters)
            assert batched == sequential, (m, k_sub, iters)

    def test_pq_empty_corpus(self, spark):
        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        out = sim.pq_topk(empty, "vec_id", "embedding", [0.0] * 64, k=5)
        assert out.collect() == []
        assert out.columns == ["vec_id", "adc_d2"]

    def test_pq_dim_not_divisible(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0] * 10)], "vec_id long, embedding array<double>"
        )
        import pytest as _pt

        with _pt.raises(ValueError):
            sim.pq_train(df, "vec_id", "embedding", m=4)


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [
            (1, "image", "image/png", b"\x89PNG fakebytes 1", 64, 64, None),
            (2, "image", "image/png", b"\x89PNG fakebytes 22", 32, 32, None),
            (3, "video", "video/mp4", b"\x00mp4 " * 100, 640, 480, 10_000),
            (4, "audio", "audio/wav", b"RIFF" * 50, None, None, 5_000),
        ]
        return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)

    def test_image_features_deterministic(self, media):
        feats = {r["media_id"]: r for r in mm.extract_image_features(media).collect()}
        assert set(feats) == {1, 2}
        again = {r["media_id"]: r for r in mm.extract_image_features(media).collect()}
        assert feats[1]["feat_mean"] == again[1]["feat_mean"]
        assert feats[1]["content_sha256"] != feats[2]["content_sha256"]
        assert feats[1]["n_bytes"] == 16

    def test_frame_sampling_shape(self, media):
        frames = mm.sample_video_frames(media, n_frames=4).collect()
        assert len(frames) == 4
        assert sorted(f["frame_index"] for f in frames) == [0, 1, 2, 3]
        total = sum(len(f["frame_bytes"]) for f in frames)
        assert total <= 500 and total >= 400  # chunks of the 500-byte blob

    def test_media_stats_prunes_binary(self, media):
        stats = {r["kind"]: r for r in mm.media_stats(media).collect()}
        assert stats["image"]["n_items"] == 2
        assert stats["video"]["total_bytes"] == 500


def _encode_png(arr, color_type, filters):
    """Minimal PNG writer for fixtures: 8-bit, non-interlaced, one
    chosen scanline filter per row (exercises the decoder's unfilter)."""
    import struct
    import zlib

    import numpy as np

    h, w, c = arr.shape

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))

    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int64)
    for y in range(h):
        line = arr[y].reshape(-1).astype(np.int64)
        f = filters[y % len(filters)]
        raw.append(f)
        out = line.copy()
        for x in range(w * c):
            left = line[x - c] if x >= c else 0
            up, upleft = prev[x], (prev[x - c] if x >= c else 0)
            if f == 1:
                out[x] = (line[x] - left) & 0xFF
            elif f == 2:
                out[x] = (line[x] - up) & 0xFF
            elif f == 3:
                out[x] = (line[x] - ((left + up) >> 1)) & 0xFF
            elif f == 4:
                p = left + up - upleft
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else upleft)
                out[x] = (line[x] - pred) & 0xFF
        raw.extend(out.astype(np.uint8).tobytes())
        prev = line
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _encode_bmp24(arr):
    """Minimal bottom-up 24-bit BI_RGB BMP writer (arr is H x W x 3 RGB)."""
    import struct

    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            r, g, b = arr[y, x]
            row += bytes((int(b), int(g), int(r)))  # BGR on disk
        row += b"\x00" * (stride - len(row))
        body += row
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return header + bytes(body)


class TestRealImageDecode:
    """The pure-python PNG/BMP tier must return TRUE pixel statistics
    (vs numpy on the source array), not digest-derived stub values."""

    @pytest.fixture(scope="class")
    def pixels(self):
        import numpy as np

        rng = np.random.default_rng(7)
        return rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)

    def _expected(self, arr):
        gray = (
            arr[..., 0] * 299.0 + arr[..., 1] * 587.0 + arr[..., 2] * 114.0
        ) / 1000.0
        return round(float(gray.mean()), 4), round(float(gray.std()), 4)

    def test_png_all_filter_types(self, spark, pixels):
        mean, std = self._expected(pixels)
        png = _encode_png(pixels, color_type=2, filters=[0, 1, 2, 3, 4])
        df = spark.createDataFrame(
            [(1, "image", "image/png", png, 17, 13, None)], mm.MEDIA_SCHEMA
        )
        feat = mm.extract_image_features(df).collect()[0]
        assert feat["feat_mean"] == pytest.approx(mean, abs=1e-4)
        assert feat["feat_std"] == pytest.approx(std, abs=1e-4)

    def test_png_grayscale_and_rgba(self, spark, pixels):
        import numpy as np

        gray = pixels[..., :1]
        g_mean = round(float(gray.astype(np.float64).mean()), 4)
        rgba = np.concatenate(
            [pixels, np.full(pixels.shape[:2] + (1,), 200, np.uint8)], axis=2
        )
        mean, _ = self._expected(pixels)  # alpha ignored
        df = spark.createDataFrame(
            [
                (1, "image", "image/png", _encode_png(gray, 0, [0, 2]), 17, 13, None),
                (2, "image", "image/png", _encode_png(rgba, 6, [4]), 17, 13, None),
            ],
            mm.MEDIA_SCHEMA,
        )
        feats = {r["media_id"]: r for r in mm.extract_image_features(df).collect()}
        assert feats[1]["feat_mean"] == pytest.approx(g_mean, abs=1e-4)
        assert feats[2]["feat_mean"] == pytest.approx(mean, abs=1e-4)

    def test_bmp_true_stats(self, spark, pixels):
        mean, std = self._expected(pixels)
        df = spark.createDataFrame(
            [(1, "image", "image/bmp", _encode_bmp24(pixels), 17, 13, None)],
            mm.MEDIA_SCHEMA,
        )
        feat = mm.extract_image_features(df).collect()[0]
        assert feat["feat_mean"] == pytest.approx(mean, abs=1e-4)
        assert feat["feat_std"] == pytest.approx(std, abs=1e-4)

    def test_corrupt_recognized_format_nulls_features(self, spark, pixels):
        corrupt = _encode_png(pixels, 2, [0])[:40]  # truncated mid-IHDR/IDAT
        df = spark.createDataFrame(
            [(1, "image", "image/png", corrupt, None, None, None)], mm.MEDIA_SCHEMA
        )
        feat = mm.extract_image_features(df).collect()[0]
        assert feat["feat_mean"] is None and feat["feat_std"] is None
        assert feat["n_bytes"] == 40  # digest/len still computed


class TestLanguageID:
    """Mixed-language fixture the round-2 6-stopword scorer could not
    handle: ten languages incl. unsegmented Chinese/Japanese (caught by
    the char-class evidence) and Cyrillic Russian."""

    FIXTURE = [
        ("en", "the cat sat on the mat and it was happy that the sun was out"),
        ("de", "der hund ist nicht mit der katze auf dem sofa und sie sind müde"),
        ("fr", "le chien est dans la maison avec le chat pour la nuit et il dort"),
        ("es", "el perro es muy grande pero el gato no es pequeño para su casa"),
        ("it", "il cane è nel giardino con il gatto e non sono mai stanchi"),
        ("pt", "o cachorro é grande e o gato não é pequeno mas ele já dorme"),
        ("nl", "de hond is niet met de kat op de bank maar hij is wel moe"),
        ("ru", "я не знаю что он сказал но это было все так странно и смешно"),
        ("zh", "我们在这里有一个很大的中国地图他说这是不可以的"),
        ("ja", "これはとてもおもしろい本ですから私はまた読みたいです"),
    ]

    def test_all_ten_languages_classified(self, spark):
        from power_generation_etl_spark.operators import text as tx

        df = spark.createDataFrame(self.FIXTURE, ["lang", "text"])
        got = {
            r["lang"]: r["pred"]
            for r in df.select(
                "lang", tx.predicted_lang(F.col("text")).alias("pred")
            ).collect()
        }
        assert got == {lang: lang for lang, _ in self.FIXTURE}

    def test_kana_outweighs_shared_kanji(self, spark):
        from power_generation_etl_spark.operators import text as tx

        # kanji-heavy Japanese: han chars vote zh, kana weight must win
        df = spark.createDataFrame(
            [("日本の文化は中国から来ましたが独自です",)], ["text"]
        )
        assert (
            df.select(tx.predicted_lang(F.col("text")).alias("p")).head()["p"] == "ja"
        )

    def test_score_langs_matches_projection_form(self, spark, docs):
        """Differential: the exploded codegen-IN aggregation form must
        agree with the per-row projection form on every document."""
        from power_generation_etl_spark.operators import text as tx

        fixture = spark.createDataFrame(
            [(i, t) for i, (_, t) in enumerate(self.FIXTURE)], ["doc_id", "text"]
        )
        for frame in (fixture, docs.select("doc_id", "text")):
            proj = {
                r["doc_id"]: r["p"]
                for r in frame.select(
                    "doc_id", tx.predicted_lang(F.col("text")).alias("p")
                ).collect()
            }
            agg = {
                r["doc_id"]: r["predicted_lang"]
                for r in tx.score_langs(frame, "doc_id", "text").collect()
            }
            assert agg == proj

    def test_no_evidence_is_und(self, spark):
        from power_generation_etl_spark.operators import text as tx

        df = spark.createDataFrame([("12345 67890 !!!",)], ["text"])
        assert (
            df.select(tx.predicted_lang(F.col("text")).alias("p")).head()["p"] == "und"
        )


def test_shingle_table_matches_array_form(spark):
    """Differential: the codegen posexplode+lead shingle_table must
    produce exactly the distinct shingle set of the array-HOF
    word_shingles, including whitespace edge cases (split on \\s+ keeps
    empty tokens at string edges)."""
    texts = [
        (0, "a b c d e"),
        (1, "  leading spaces a b c"),
        (2, "trailing b c d   "),
        (3, "tab\tand\nnewline mix a b"),
        (4, "double  space a b c"),
        (5, "x y"),               # shorter than n
        (6, ""),                  # empty
        (7, "r r r r r"),         # repeated shingles collapse (distinct)
        (8, "UPPER Case MiXeD a b"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    tbl = {
        (r["doc_id"], r["s"])
        for r in mh.shingle_table(df, "doc_id", "text", 3).collect()
    }
    arr = {
        (r["doc_id"], r["s"])
        for r in df.select(
            "doc_id", F.explode(mh.word_shingles(F.col("text"), 3)).alias("s")
        ).collect()
    }
    assert tbl == arr


def _encode_wav(samples_i16, rate=8000, channels=1):
    """In-memory 16-bit PCM WAV via the stdlib writer."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples_i16, dtype="<i2").tobytes())
    return buf.getvalue()


class TestRealAudioDecode:
    """The stdlib WAV tier must return TRUE signal statistics."""

    def test_square_wave_exact_rms(self, spark):
        import numpy as np

        # +/-16384 square wave: normalized amplitude exactly 0.5
        samples = np.tile([16384, -16384], 4000)  # 8000 samples @ 8 kHz = 1 s
        df = spark.createDataFrame(
            [(1, "audio", "audio/wav", _encode_wav(samples), None, None, None)],
            mm.MEDIA_SCHEMA,
        )
        feat = mm.extract_audio_features(df).collect()[0]
        assert feat["sample_rate"] == 8000
        assert feat["n_channels"] == 1
        assert feat["n_samples"] == 8000
        assert feat["duration_ms"] == 1000
        assert feat["rms"] == 0.5
        assert feat["peak"] == 0.5

    def test_stereo_and_8bit(self, spark):
        import io
        import wave

        import numpy as np

        stereo = _encode_wav(np.tile([8192, -8192], 1000), rate=4000, channels=2)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(1000)
            w.writeframes(bytes([128 + 64, 128 - 64] * 500))  # 8-bit +/-0.5
        df = spark.createDataFrame(
            [
                (1, "audio", "audio/wav", stereo, None, None, None),
                (2, "audio", "audio/wav", buf.getvalue(), None, None, None),
            ],
            mm.MEDIA_SCHEMA,
        )
        feats = {r["media_id"]: r for r in mm.extract_audio_features(df).collect()}
        assert feats[1]["n_channels"] == 2
        assert feats[1]["n_samples"] == 1000  # frames, not interleaved samples
        assert feats[1]["duration_ms"] == 250
        assert feats[2]["rms"] == 0.5 and feats[2]["sample_rate"] == 1000

    def test_non_wav_audio_nulls_features(self, spark):
        df = spark.createDataFrame(
            [(1, "audio", "audio/mpeg", b"ID3\x03\x00fakempeg", None, None, None)],
            mm.MEDIA_SCHEMA,
        )
        feat = mm.extract_audio_features(df).collect()[0]
        assert feat["rms"] is None and feat["sample_rate"] is None
        assert feat["n_bytes"] == len(b"ID3\x03\x00fakempeg")


def _encode_avi(frame_payloads):
    """Minimal RIFF/AVI: LIST movi with one 00dc chunk per frame."""
    import struct

    def chunk(ck_id, data):
        pad = b"\x00" if len(data) % 2 else b""
        return ck_id + struct.pack("<I", len(data)) + data + pad

    movi = b"movi" + b"".join(chunk(b"00dc", f) for f in frame_payloads)
    body = b"AVI " + chunk(b"LIST", movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body


class TestRealAviDemux:
    """AVI frame sampling must return the container's true frame
    payloads, evenly spaced, not byte slices."""

    def test_demux_exact_payloads(self, spark):
        frames = [b"JPEGDATA%d" % i for i in range(8)]
        avi = _encode_avi(frames)
        df = spark.createDataFrame(
            [(1, "video", "video/avi", avi, 640, 480, 1000)], mm.MEDIA_SCHEMA
        )
        out = sorted(
            mm.sample_video_frames(df, n_frames=4).collect(),
            key=lambda r: r["frame_index"],
        )
        assert len(out) == 4
        # evenly spaced: indices 0, 2, 4, 6 of the 8 frames
        assert [bytes(r["frame_bytes"]) for r in out] == [
            frames[0], frames[2], frames[4], frames[6]
        ]

    def test_fewer_frames_than_requested(self, spark):
        avi = _encode_avi([b"only", b"two"])
        df = spark.createDataFrame(
            [(1, "video", "video/avi", avi, None, None, None)], mm.MEDIA_SCHEMA
        )
        out = mm.sample_video_frames(df, n_frames=4).collect()
        assert len(out) == 2
        assert {bytes(r["frame_bytes"]) for r in out} == {b"only", b"two"}

    def test_non_avi_falls_back_to_stub(self, spark):
        df = spark.createDataFrame(
            [(1, "video", "video/mp4", b"\x00mp4 " * 100, None, None, None)],
            mm.MEDIA_SCHEMA,
        )
        out = mm.sample_video_frames(df, n_frames=4).collect()
        assert len(out) == 4  # stub shape preserved


class TestY4mMjpegDemux:
    """The two codec-less real demux tiers beyond AVI: YUV4MPEG2's
    fixed-size frame split and raw MJPEG's SOI/EOI marker split must
    return true per-frame payloads, evenly sampled."""

    @staticmethod
    def _encode_y4m(n_frames, w=4, h=2, fill=0x40):
        fsize = w * h * 3 // 2  # C420
        header = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\n".encode()
        frames = [bytes([fill + i]) * fsize for i in range(n_frames)]
        return header + b"".join(b"FRAME\n" + f for f in frames), frames

    @staticmethod
    def _encode_mjpeg(payloads):
        # back-to-back minimal JPEGs: SOI + payload + EOI
        frames = [b"\xff\xd8" + p + b"\xff\xd9" for p in payloads]
        return b"".join(frames), frames

    def test_y4m_exact_payloads(self, spark):
        blob, frames = self._encode_y4m(6)
        df = spark.createDataFrame(
            [(1, "video", "video/x-yuv4mpeg", blob, 4, 2, None)],
            mm.MEDIA_SCHEMA,
        )
        out = sorted(
            mm.sample_video_frames(df, n_frames=3).collect(),
            key=lambda r: r["frame_index"],
        )
        assert [bytes(r["frame_bytes"]) for r in out] == [
            frames[0], frames[2], frames[4]
        ]

    def test_y4m_truncated_tail_frame_dropped(self, spark):
        blob, frames = self._encode_y4m(3)
        df = spark.createDataFrame(
            [(1, "video", "video/x-yuv4mpeg", blob[:-1], 4, 2, None)],
            mm.MEDIA_SCHEMA,
        )
        out = mm.sample_video_frames(df, n_frames=8).collect()
        assert len(out) == 2  # the truncated final frame is not emitted
        assert {bytes(r["frame_bytes"]) for r in out} == set(frames[:2])

    def test_mjpeg_exact_payloads(self, spark):
        blob, frames = self._encode_mjpeg([b"alpha", b"beta", b"gamma", b"delta"])
        df = spark.createDataFrame(
            [(1, "video", "video/x-motion-jpeg", blob, None, None, None)],
            mm.MEDIA_SCHEMA,
        )
        out = sorted(
            mm.sample_video_frames(df, n_frames=2).collect(),
            key=lambda r: r["frame_index"],
        )
        assert [bytes(r["frame_bytes"]) for r in out] == [frames[0], frames[2]]


class TestVideoFrameRealDecode:
    """r9: demux → REAL pixel decode end-to-end. MJPEG / AVI-MJPEG
    frames are complete JPEGs, so `extract_video_frame_features` must
    emit the SAME luma statistics the stills decoder produces on the
    identical JPEG bytes — the codec stub is confined to inter-frame
    codecs."""

    @staticmethod
    def _three_jpegs():
        import numpy as np

        from tests.test_jpeg_decode import encode_gray_jpeg

        imgs = []
        for k in range(3):
            y, x = np.mgrid[0:16, 0:16]
            imgs.append(((x * (k + 3) + y * (11 - k)) % 256).astype(np.float64))
        return [encode_gray_jpeg(img) for img in imgs]

    def _expected(self, jpeg_bytes):
        gray = mm._gray_image(jpeg_bytes)
        assert gray is not None
        return round(float(gray.mean()), 4), round(float(gray.std()), 4)

    def test_mjpeg_frames_match_stills_decoder(self, spark):
        jpegs = self._three_jpegs()
        blob = b"".join(jpegs)
        df = spark.createDataFrame(
            [(7, "video", "video/x-motion-jpeg", blob, None, None, None)],
            mm.MEDIA_SCHEMA,
        )
        out = sorted(
            mm.extract_video_frame_features(df, n_frames=3).collect(),
            key=lambda r: r["frame_index"],
        )
        assert len(out) == 3
        for r, jb in zip(out, jpegs):
            exp_mean, exp_std = self._expected(jb)
            assert r["luma_mean"] == exp_mean
            assert r["luma_std"] == exp_std
            assert r["luma_std"] > 0  # real pixels, not a digest stub
            assert r["n_bytes"] == len(jb)

    def test_avi_mjpeg_frames_match_stills_decoder(self, spark):
        jpegs = self._three_jpegs()
        avi = _encode_avi(jpegs)
        df = spark.createDataFrame(
            [(8, "video", "video/avi", avi, None, None, None)], mm.MEDIA_SCHEMA
        )
        out = sorted(
            mm.extract_video_frame_features(df, n_frames=3).collect(),
            key=lambda r: r["frame_index"],
        )
        assert [
            (r["luma_mean"], r["luma_std"]) for r in out
        ] == [self._expected(jb) for jb in jpegs]

    def test_interframe_codec_yields_null_features(self, spark):
        # unknown payloads (the byte-slicing fallback) → null features,
        # never fabricated stats
        df = spark.createDataFrame(
            [(9, "video", "video/mp4", b"\x00mp4 " * 100, None, None, None)],
            mm.MEDIA_SCHEMA,
        )
        out = mm.extract_video_frame_features(df, n_frames=4).collect()
        assert len(out) == 4
        assert all(r["luma_mean"] is None and r["luma_std"] is None for r in out)


def test_containment_catches_embedded_doc(spark):
    from power_generation_etl_spark.operators import minhash as mh

    short = " ".join(f"w{i}" for i in range(10))
    long = short + " " + " ".join(f"z{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    jac = mh.exact_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    cont = mh.exact_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, metric="containment"
    ).collect()
    assert not jac  # symmetric metric misses the embedding
    assert len(cont) == 1 and cont[0]["containment"] >= 0.8


class TestImageDhashNearDup:
    """Perceptual dHash + Hamming-banded near-dup pairs: near-identical
    images must pair up, unrelated images must not, and the banded
    candidate generation must find exactly what brute-force finds
    (guaranteed recall for max_hamming < bands)."""

    @pytest.fixture(scope="class")
    def images(self):
        import numpy as np

        rng = np.random.default_rng(11)
        base = rng.integers(0, 256, size=(32, 40, 3), dtype=np.uint8)
        # Variant A: mild brightness shift — gradient signs survive.
        brighter = np.clip(base.astype(np.int16) + 6, 0, 255).astype(np.uint8)
        # Variant B: sparse pixel noise.
        noisy = base.copy()
        idx = rng.integers(0, 32, 20), rng.integers(0, 40, 20)
        noisy[idx] = rng.integers(0, 256, size=(20, 3), dtype=np.uint8)
        # Unrelated image.
        other = rng.integers(0, 256, size=(32, 40, 3), dtype=np.uint8)
        return {"base": base, "brighter": brighter, "noisy": noisy, "other": other}

    def _media_df(self, spark, images):
        rows = [
            (i, "image", "image/bmp", _encode_bmp24(arr), arr.shape[1], arr.shape[0], None)
            for i, arr in enumerate(
                [images["base"], images["brighter"], images["noisy"], images["other"]]
            )
        ]
        return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)

    def test_dhash_invariant_to_brightness(self, images):
        h_base = mm._dhash64(
            (images["base"].astype("float64") @ [0.299, 0.587, 0.114])
        )
        h_bright = mm._dhash64(
            (images["brighter"].astype("float64") @ [0.299, 0.587, 0.114])
        )
        assert bin((h_base ^ h_bright) & ((1 << 64) - 1)).count("1") <= 4

    def test_near_pairs_found_unrelated_rejected(self, spark, images):
        sigs = mm.extract_image_dhash(self._media_df(spark, images))
        pairs = {
            (r["id_a"], r["id_b"])
            for r in mm.dhash_neardup_pairs(sigs, max_hamming=6).collect()
        }
        assert (0, 1) in pairs  # brightness variant
        assert (0, 2) in pairs  # sparse noise variant
        assert not any(3 in p for p in pairs)  # unrelated image stays out

    def test_banded_recall_equals_brute_force(self, spark, images):
        import numpy as np

        rng = np.random.default_rng(5)
        arrs = [rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8) for _ in range(8)]
        # Inject two near-dups of arrs[0].
        for k in (1, 2):
            v = arrs[0].copy()
            v[rng.integers(0, 24, 5), rng.integers(0, 24, 5)] = 0
            arrs[k] = v
        rows = [
            (i, "image", "image/bmp", _encode_bmp24(a), 24, 24, None)
            for i, a in enumerate(arrs)
        ]
        sigs = mm.extract_image_dhash(
            spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        )
        hashes = {r["media_id"]: r["dhash"] for r in sigs.collect()}
        brute = {
            (a, b)
            for a in hashes
            for b in hashes
            if a < b
            and bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 6
        }
        banded = {
            (r["id_a"], r["id_b"])
            for r in mm.dhash_neardup_pairs(sigs, max_hamming=6).collect()
        }
        assert banded == brute

    def test_tiny_and_undecodable_yield_null(self, spark):
        import numpy as np

        tiny = np.zeros((4, 4, 3), dtype=np.uint8)
        rows = [
            (1, "image", "image/bmp", _encode_bmp24(tiny), 4, 4, None),
            (2, "image", "application/octet-stream", b"not an image", None, None, None),
        ]
        sigs = mm.extract_image_dhash(
            spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        ).collect()
        assert all(r["dhash"] is None for r in sigs)


class TestLshBucketGuard:
    """r10: the candidate-volume guard extended to the BANDED families
    (minhash_lsh_pairs / simhash_pairs). The 10x derived-corpus probe
    measured alpha 2.2-2.8 for unguarded LSH (SCALING_MEASURED.md):
    band buckets grow with near-dup cluster size, so Σ p·(p−1)
    explodes on exactly the dup-heavy corpora near-dup dedup exists
    for. The guard excludes super-cap buckets; a pair is missed only
    if EVERY shared band bucket exceeds the cap."""

    def _cluster_docs(self, spark):
        # 2-doc identical cluster (small buckets) + 6-doc identical
        # cluster (every shared bucket has p=6)
        a = "lorem ipsum dolor sit amet consectetur adipiscing elit"
        b = "quick brown foxes jump over many extremely lazy dogs"
        rows = [(1, a), (2, a)] + [(10 + i, b) for i in range(6)]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_lsh_guard_exact_below_bound(self, spark):
        docs = self._cluster_docs(spark)
        import warnings as w

        unguarded = sorted(
            tuple(r)
            for r in mh.minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=0.5, max_candidates=0
            ).collect()
        )
        with w.catch_warnings():
            w.simplefilter("error")
            guarded = sorted(
                tuple(r)
                for r in mh.minhash_lsh_pairs(
                    docs, "doc_id", "text", threshold=0.5,
                    max_candidates=10**9,
                ).collect()
            )
        assert guarded == unguarded and len(guarded) >= 1 + 15

    def test_lsh_guard_drops_only_supercap_buckets(self, spark):
        """bound=100: the 16 size-2 buckets (volume 32) fit, the 16
        size-6 buckets (volume 480) don't → cap=2. The 2-doc cluster's
        pair survives through its small buckets; the 6-doc cluster's
        15 pairs disappear (every bucket they share has p=6)."""
        import pytest as pt

        docs = self._cluster_docs(spark)
        with pt.warns(UserWarning, match="auto-engaging bucket_cap"):
            pairs = {
                (r["id_a"], r["id_b"]): r["jaccard"]
                for r in mh.minhash_lsh_pairs(
                    docs, "doc_id", "text", threshold=0.5, max_candidates=100
                ).collect()
            }
        assert set(pairs) == {(1, 2)}
        assert pairs[(1, 2)] == 1.0  # verification stays exact

    def test_lsh_guard_cap1_warns_empty(self, spark):
        import pytest as pt

        docs = self._cluster_docs(spark)
        with pt.warns(UserWarning, match="result will be EMPTY"):
            out = mh.minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=0.5, max_candidates=1
            ).collect()
        assert out == []

    def test_simhash_guard_drops_only_supercap_buckets(self, spark):
        """Same contract on the 15-bit-chunk bands: bound=50 keeps the
        4 size-2 chunk buckets (volume 8), excludes the 4 size-6 ones
        (volume 120) → cap=2; only the small cluster's pair survives."""
        import pytest as pt

        docs = self._cluster_docs(spark)
        with pt.warns(UserWarning, match="auto-engaging bucket_cap"):
            pairs = {
                (r["id_a"], r["id_b"]): r["hamming"]
                for r in mh.simhash_pairs(
                    docs, "doc_id", "text", max_hamming=8, max_candidates=50
                ).collect()
            }
        assert set(pairs) == {(1, 2)}
        assert pairs[(1, 2)] == 0

    def test_cosine_lsh_guard_drops_only_supercap_buckets(self, spark):
        """``lsh_bucketed_neardup``: a 2-vector cluster at v and a
        6-vector cluster at -v fall on opposite sides of every
        hyperplane, so they share no band bucket. bound=10 fits the
        three size-2 buckets (volume 6) but not the three size-6 ones
        (volume 90), so the guard engages bucket_cap=2 and returns
        exactly the pairs of that explicit cap: the small cluster's."""
        import pytest as pt

        v = [float(i % 5) - 1.5 for i in range(8)]
        rows = [(i, v) for i in (1, 2)] + [(10 + i, [-x for x in v]) for i in range(6)]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        with pt.warns(UserWarning, match="auto-engaging bucket_cap=2"):
            guarded = sim.lsh_bucketed_neardup(
                emb, "vec_id", "embedding", max_candidates=10
            ).collect()
        explicit = sim.lsh_bucketed_neardup(
            emb, "vec_id", "embedding", bucket_cap=2
        ).collect()
        assert guarded == explicit
        assert [(r["id_a"], r["id_b"]) for r in guarded] == [(1, 2)]


class TestMutualKnn:
    def test_mutuality_and_k(self, spark):
        from power_generation_etl_spark.operators.similarity import (
            mutual_knn_edges,
        )

        # Unit vectors at angles 0°, 5°, 60°, 65°, 120°: cosine decays
        # with angular distance, so with k=1 the 5°-apart pairs are
        # mutual; 120°'s nearest is 65° but 65°'s is 60° → no edge.
        import math

        angles = [0, 5, 60, 65, 120]
        rows = [
            (i, [math.cos(math.radians(a)), math.sin(math.radians(a))])
            for i, a in enumerate(angles)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            (r["id_a"], r["id_b"])
            for r in mutual_knn_edges(df, "vec_id", "embedding", k=1).collect()
        }
        assert got == {(0, 1), (2, 3)}

    def test_guard_refuses_large_input(self, spark):
        import pytest as _pytest

        from power_generation_etl_spark.operators.similarity import (
            mutual_knn_edges,
        )

        df = spark.range(20).select(
            F.col("id").alias("vec_id"),
            F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
        )
        with _pytest.raises(ValueError, match="O\\(n²\\)|O\\(n"):
            mutual_knn_edges(df, "vec_id", "embedding", k=2, max_rows=10)
        # explicit opt-out runs
        assert mutual_knn_edges(
            df, "vec_id", "embedding", k=2, max_rows=0
        ).count() > 0

    def test_hoisted_norms_match_inline_cosine(self, spark):
        """r11 optimization pin: the per-side hoisted norms
        (dot/(_na*_nb)) must reproduce the inline cosine(va, vb)
        BIT-exactly — same folds over the same arrays in the same op
        order — on awkward doubles (extreme magnitudes, negatives,
        near-tie rounding boundaries). Zero-norm vectors are out of
        contract either way (ANSI /0 errors identically in both
        forms, like the rest of the cosine family)."""
        import math

        from power_generation_etl_spark.operators.similarity import (
            as_double_array,
            cosine,
            mutual_knn_edges,
        )

        rows = [
            (0, [0.1, 0.2, 0.3]),
            (1, [0.1000000001, 0.2, 0.3]),
            (2, [-5e-300, 7e150, 1.0]),
            (3, [3.3333333333333335, -1.0, 2.5]),
            (4, [1e-8, 1e8, -1e-8]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            (r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in mutual_knn_edges(df, "vec_id", "embedding", k=2).collect()
        }
        # Reference: the pre-hoist expression shape, evaluated directly.
        a = df.select(
            F.col("vec_id").alias("id_a"),
            as_double_array(F.col("embedding")).alias("va"),
        )
        b = df.select(
            F.col("vec_id").alias("id_b"),
            as_double_array(F.col("embedding")).alias("vb"),
        )
        from pyspark.sql.window import Window

        pairs = a.join(b, F.col("id_a") != F.col("id_b")).select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("s4"),
        )
        w = Window.partitionBy("id_a").orderBy(F.desc("s4"), "id_b")
        topk = (
            pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 2)
            .select("id_a", "id_b", "s4")
        )
        rev = topk.select(F.col("id_a").alias("ra"), F.col("id_b").alias("rb"))
        want = {
            (r["id_a"], r["id_b"]): r["s4"]
            for r in topk.where(F.col("id_a") < F.col("id_b"))
            .join(
                rev,
                (F.col("id_a") == F.col("rb")) & (F.col("id_b") == F.col("ra")),
            )
            .collect()
        }
        assert set(got) == set(want)
        for key, sim in want.items():
            assert got[key] == sim or (
                math.isnan(got[key]) and math.isnan(sim)
            ), key


@pytest.mark.parametrize("raw", ["abc", "nan", "inf", "-inf"])
def test_max_candidates_env_rejects_non_finite(monkeypatch, raw):
    """A malformed or non-finite SPARK_ETL_ALLPAIRS_MAX_CANDIDATES fails
    with the descriptive ValueError, not a bare OverflowError from int()."""
    monkeypatch.setenv("SPARK_ETL_ALLPAIRS_MAX_CANDIDATES", raw)
    with pytest.raises(ValueError, match="SPARK_ETL_ALLPAIRS_MAX_CANDIDATES"):
        mh._resolve_max_candidates(None)


def test_one_candidate_volume_guard():
    """The bucketed near-dup joins share one guard: no module but
    ``operators/minhash.py`` imports ``_guard_volume_cap`` or
    ``_resolve_max_candidates``, and ``_guard_volume_cap`` is called only
    by ``cap_buckets`` and ``prefix_jaccard_pairs``."""
    import ast
    import glob
    import os

    private = {"_guard_volume_cap", "_resolve_max_candidates"}
    pkg = os.path.dirname(os.path.dirname(mh.__file__))
    importers = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if path == mh.__file__:
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        importers += [
            (path, a.name)
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.name in private
        ]
    assert importers == []

    with open(mh.__file__) as f:
        tree = ast.parse(f.read(), mh.__file__)
    callers = sorted(
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "_guard_volume_cap"
    )
    assert callers == ["cap_buckets", "prefix_jaccard_pairs"]

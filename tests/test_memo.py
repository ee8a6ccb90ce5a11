"""PlanMemo semantics: exact keying (plan + params), LRU eviction,
env kill-switch, and the concrete cross-operator sharing it exists
for (shingle tables, k-means trainings)."""

from __future__ import annotations

import pytest

from power_generation_etl_spark.memo import PlanMemo
from power_generation_etl_spark.session import local_frame


class TestPlanMemo:
    def test_hit_requires_same_plan_and_key(self, spark, sf_dir):
        m = PlanMemo("t", cap=4)
        a = spark.read.parquet(f"{sf_dir}/documents.parquet")
        b = spark.read.parquet(f"{sf_dir}/documents.parquet")
        builds = []
        p1 = m.get_or_build((3,), a, lambda: builds.append(1) or "prod-a3")
        p2 = m.get_or_build((3,), b, lambda: builds.append(1) or "rebuilt")
        assert p1 == p2 == "prod-a3" and len(builds) == 1  # same plan+key: hit
        p3 = m.get_or_build((4,), a, lambda: builds.append(1) or "prod-a4")
        assert p3 == "prod-a4" and len(builds) == 2  # same plan, new key: miss

    def test_local_relations_never_hit(self, spark):
        # createDataFrame literal plans never compare sameSemantics —
        # harmless rebuilds, never a stale hit.
        m = PlanMemo("t")
        a = spark.createDataFrame([(1, "x")], "id long, t string")
        b = spark.createDataFrame([(1, "x")], "id long, t string")
        m.get_or_build((), a, lambda: "first")
        assert m.get_or_build((), b, lambda: "second") == "second"

    def test_lru_eviction_and_bump(self, spark, sf_dir):
        m = PlanMemo("t", cap=2)
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        m.get_or_build((1,), src, lambda: "p1")
        m.get_or_build((2,), src, lambda: "p2")
        m.get_or_build((1,), src, lambda: "never")  # bump (1,) to MRU
        m.get_or_build((3,), src, lambda: "p3")  # evicts (2,)
        assert m.get_or_build((1,), src, lambda: "rebuilt-1") == "p1"
        assert m.get_or_build((2,), src, lambda: "rebuilt-2") == "rebuilt-2"

    def test_env_kill_switch(self, spark, sf_dir, monkeypatch):
        monkeypatch.setenv("SPARK_ETL_PRODUCT_CACHE", "0")
        m = PlanMemo("t")
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert m.get_or_build((), src, lambda: "a") == "a"
        assert m.get_or_build((), src, lambda: "b") == "b"
        assert not m._slots

    @pytest.mark.parametrize("raw", ["false", "off", "no", "true", "", "2"])
    def test_env_rejects_values_other_than_0_and_1(self, monkeypatch, raw):
        monkeypatch.setenv("SPARK_ETL_PRODUCT_CACHE", raw)
        with pytest.raises(ValueError, match="SPARK_ETL_PRODUCT_CACHE"):
            PlanMemo("t").enabled()

    @pytest.mark.parametrize("raw, on", [(None, True), ("1", True), ("0", False)])
    def test_env_accepts_0_and_1_unset_is_on(self, monkeypatch, raw, on):
        if raw is None:
            monkeypatch.delenv("SPARK_ETL_PRODUCT_CACHE", raising=False)
        else:
            monkeypatch.setenv("SPARK_ETL_PRODUCT_CACHE", raw)
        assert PlanMemo("t").enabled() is on

    def test_local_frames_hit_only_on_equal_rows(self, spark):
        # An Arrow-built LocalRelation equals one holding the same rows.
        m = PlanMemo("t")
        ddl = "id long, t string"
        m.get_or_build((), local_frame(spark, [(1, "x")], ddl), lambda: "first")
        assert m.get_or_build((), local_frame(spark, [(1, "x")], ddl), lambda: "b") == "first"
        assert m.get_or_build((), local_frame(spark, [(2, "x")], ddl), lambda: "c") == "c"


def _persisted_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


class TestLifecycle:
    """Round-8 hardening: eviction unpersists a product's blocks
    immediately (not lazily via GC + ContextCleaner), and slots from a
    dead/replaced SparkContext are never returned."""

    def test_eviction_releases_storage(self, spark, sf_dir):
        from power_generation_etl_spark import lineage

        m = PlanMemo("t", cap=1)
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        before = _persisted_ids(spark)
        m.get_or_build((1,), src, lambda: lineage.cut(src.select("doc_id")))
        first_ids = _persisted_ids(spark) - before
        assert first_ids  # the build pinned at least one RDD
        m.get_or_build((2,), src, lambda: lineage.cut(src.select("lang")))
        # cap=1: entry (1,) was evicted and its blocks unpersisted NOW
        assert not (first_ids & _persisted_ids(spark))

    def test_clear_releases_storage(self, spark, sf_dir):
        from power_generation_etl_spark import lineage

        m = PlanMemo("t", cap=4)
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        before = _persisted_ids(spark)
        m.get_or_build((1,), src, lambda: lineage.cut(src.select("doc_id")))
        new_ids = _persisted_ids(spark) - before
        assert new_ids
        m.clear()
        assert not m._slots
        assert not (new_ids & _persisted_ids(spark))

    def test_hit_survives_and_keeps_storage(self, spark, sf_dir):
        from power_generation_etl_spark import lineage

        m = PlanMemo("t", cap=2)
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        before = _persisted_ids(spark)
        p1 = m.get_or_build((1,), src, lambda: lineage.cut(src.select("doc_id")))
        new_ids = _persisted_ids(spark) - before
        p2 = m.get_or_build((1,), src, lambda: "never")
        assert p2 is p1
        assert new_ids <= _persisted_ids(spark)  # hit: blocks stay pinned
        m.clear()

    def test_foreign_session_slot_not_returned(self, spark, sf_dir):
        # Simulate a slot cached under a PREVIOUS SparkContext by
        # mangling its stored session token: the probe must rebuild
        # and the dead slot must be evicted, never returned.
        m = PlanMemo("t", cap=4)
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        m.get_or_build((1,), src, lambda: "live-product")
        kh, sdf, prod, _tok, rids = m._slots[0]
        m._slots[0] = (kh, sdf, prod, ("dead-app-id", 0), rids)
        assert m.get_or_build((1,), src, lambda: "rebuilt") == "rebuilt"
        assert len(m._slots) == 1  # dead slot evicted, fresh one cached


class TestAttribution:
    """Round-9 hardening (r8 ADVICE): a slot owns exactly the RDD ids
    its OWN build's lineage cuts pinned — never blocks persisted
    concurrently by someone else, never a nested memoized build's."""

    def test_unrelated_concurrent_persist_survives_eviction(
        self, spark, sf_dir
    ):
        from power_generation_etl_spark import lineage

        m = PlanMemo("t", cap=1)
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bystander = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        )

        def build():
            # someone else caches a table mid-build (NOT via lineage.cut)
            bystander.persist()
            bystander.count()
            return lineage.cut(src.select("doc_id"))

        m.get_or_build((1,), src, build)
        m.get_or_build((2,), src, lambda: lineage.cut(src.select("lang")))
        # slot (1,) was evicted — its own cut blocks released — but the
        # bystander's cache must still be alive and readable
        assert bystander.storageLevel.useMemory or bystander.storageLevel.useDisk
        assert bystander.count() > 0
        bystander.unpersist()
        m.clear()

    def test_nested_build_owns_its_own_blocks(self, spark, sf_dir):
        from power_generation_etl_spark import lineage

        outer = PlanMemo("outer", cap=1)
        inner = PlanMemo("inner", cap=4)
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")

        def build_outer():
            shared = inner.get_or_build(
                ("tok",), src, lambda: lineage.cut(src.select("doc_id"))
            )
            return lineage.cut(shared.select("doc_id"))

        outer.get_or_build((1,), src, build_outer)
        inner_ids = inner._slots[0][4]
        assert inner_ids  # the nested build pinned blocks in ITS slot
        assert not (inner_ids & outer._slots[0][4])  # ... not the outer's
        # evicting the OUTER slot must leave the nested product usable
        outer.get_or_build((2,), src, lambda: lineage.cut(src.select("lang")))
        nested_prod = inner.get_or_build(("tok",), src, lambda: "rebuilt")
        assert nested_prod != "rebuilt"  # still a hit
        assert nested_prod.count() > 0  # blocks intact
        inner.clear()
        outer.clear()


class TestPinScopeEdgeCases:
    def test_empty_nested_scope_pops_itself_not_outer(self, spark, sf_dir):
        """Two empty sets compare EQUAL, so a naive list.remove on scope
        exit would pop the outer scope instead of the inner one; the
        outer build's later cuts would then register into the orphaned
        inner set and the outer exit would raise ValueError."""
        from power_generation_etl_spark import lineage

        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        with lineage.pin_scope() as outer:
            with lineage.pin_scope() as inner:
                pass  # nested build that makes NO cuts
            lineage.cut(src.select("doc_id"))
        assert outer  # the cut landed in the OUTER scope
        assert not inner

    def test_scopes_are_thread_local(self, spark, sf_dir):
        """A cut on another thread must never register into this
        thread's open scope — cross-thread attribution would let this
        thread's eviction unpersist the other thread's live blocks."""
        import threading

        from power_generation_etl_spark import lineage

        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        other_ids = []

        def other_thread():
            out = lineage.cut(src.select("lang"))
            other_ids.append(out)

        with lineage.pin_scope() as mine:
            t = threading.Thread(target=other_thread)
            t.start()
            t.join()
        assert not mine  # nothing from the other thread leaked in
        assert other_ids[0].count() > 0  # and its product is alive


class TestOperatorSharing:
    def test_shingle_table_shared_across_reads(self, spark, sf_dir):
        from power_generation_etl_spark.operators import minhash as mh

        t1 = mh.shingle_table(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text", 3
        )
        t2 = mh.shingle_table(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text", 3
        )
        assert t1 is t2  # one materialized table, seven consumers
        t4 = mh.shingle_table(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text", 4
        )
        assert t4 is not t1  # n participates in the key

    def test_ann_family_coarse_quantizer_shared(self, spark, sf_dir, monkeypatch):
        """BENCH evidence (r7 ADVICE): the ivfpq variants must TRAIN
        the shared coarse quantizer once per session, not once per
        query — the residual twin's only new training is its
        residual-encoded PQ codebook set (ONE batched job chain since
        r9), and a re-run of either query trains nothing.
        (ivf_kmeans_topk deliberately does NOT share: its train_iters=3
        trajectory is unrolled in its oracle, the ivfpq coarse runs
        iters=2 — different model, different key.)"""
        from power_generation_etl_spark.operators import similarity as sim
        from power_generation_etl_spark.plans import QUERIES

        sim._KMEANS_MEMO.clear()
        sim._PQ_MEMO.clear()
        kmeans_builds: list[tuple] = []
        pq_builds: list[tuple] = []
        orig_km = sim._kmeans_train_impl
        orig_pq = sim._pq_train_impl

        def counting_km(src, k, iters):
            kmeans_builds.append((k, iters))
            return orig_km(src, k, iters)

        def counting_pq(src, m, k_sub, iters):
            pq_builds.append((m, k_sub, iters))
            return orig_pq(src, m, k_sub, iters)

        monkeypatch.setattr(sim, "_kmeans_train_impl", counting_km)
        monkeypatch.setattr(sim, "_pq_train_impl", counting_pq)
        QUERIES["ivfpq_adc_topk"](spark, sf_dir).collect()
        assert len(kmeans_builds) == 1  # the coarse quantizer
        assert len(pq_builds) == 1  # ONE batched training for all m books
        QUERIES["ivfpq_residual_topk"](spark, sf_dir).collect()
        assert len(kmeans_builds) == 1  # coarse HIT
        assert len(pq_builds) == 2  # only the residual book set is new
        QUERIES["ivfpq_residual_topk"](spark, sf_dir).collect()
        QUERIES["ivfpq_adc_topk"](spark, sf_dir).collect()
        assert len(kmeans_builds) == 1 and len(pq_builds) == 2  # re-runs train NOTHING
        sim._KMEANS_MEMO.clear()
        sim._PQ_MEMO.clear()

    def test_kmeans_training_shared_and_copy_safe(self, spark, sf_dir):
        from power_generation_etl_spark.operators import similarity as sim

        e = f"{sf_dir}/embeddings.parquet"
        c1 = sim.kmeans_train(
            spark.read.parquet(e), "vec_id", "embedding", k=4, iters=1
        )
        c2 = sim.kmeans_train(
            spark.read.parquet(e), "vec_id", "embedding", k=4, iters=1
        )
        assert c1 == c2
        c1[0][1][0] = 1e9  # mutating a caller's copy ...
        c3 = sim.kmeans_train(
            spark.read.parquet(e), "vec_id", "embedding", k=4, iters=1
        )
        assert c3 == c2  # ... never corrupts the cached training

"""Session-scoped memoization of per-corpus derived products.

A catalog session typically runs MANY operators over the same corpus:
the near-dup family alone builds the same distinct-shingle table seven
times (exact Jaccard, containment, MinHash-LSH, SimHash, AllPairs
prefix filter, and the two graph queries that start from Jaccard
pairs), and both suffix-family operators need the same tokenized base
and doubling rank tables. Each build materializes via `lineage.cut`,
so rebuilding is pure waste — the 100 TB analogue is "train/build the
index once, query it many times".

`PlanMemo` caches the built product keyed by the SOURCE PLAN identity
plus explicit parameters. The plan key — `DataFrame.semanticHash()`
pre-filter + `sameSemantics()` confirm — is exact in the direction
that matters: two reads of the same parquet path compare equal, while
different paths and different driver-built data never do, so a stale
hit cannot happen; the worst case is a harmless rebuild. A
`session.local_frame` is a LocalRelation, equal only to one holding the
same rows; `createDataFrame` over a Python list is an RDD plan that
never matches, so unit-test corpora built that way always build fresh.
Entries pin materialized blocks in executor storage, so each memo is
LRU-capped.

Lifecycle hardening (round 8):

* **Session guard** — slots remember the owning SparkContext
  (applicationId, startTime). A hit additionally requires the probing
  DataFrame to come from the SAME live context; slots from a stopped/
  replaced session are evicted instead of returned, so a process that
  stops and recreates its SparkSession can never receive a product
  whose blocks belong to a dead context.
* **Deterministic release** — the RDD ids a build pins
  (localCheckpoint blocks, persist(DISK_ONLY) tables, and any
  intermediate `lineage.cut` a trainer leaves behind) are collected
  with a `lineage.pin_scope`: each `cut`/`cut_index` call registers
  the ids IT created into the innermost active scope (r9; previously a
  global getPersistentRDDs before/after diff around the whole build,
  which mis-attributed anything persisted concurrently — another
  thread, a NESTED memoized build, unrelated caching — and eagerly
  unpersisted it out from under its live owner; for localCheckpointed
  RDDs that is unrecoverable data loss, not a recompute). Nested
  get_or_build calls open nested scopes, so each slot owns exactly its
  own cuts; the scope stack is thread-local and popped by identity
  (two empty scopes compare equal — equality-pop would orphan the
  outer scope). LRU eviction (and `clear()`) unpersists a slot's own ids
  immediately rather than waiting for Python GC + the ContextCleaner,
  so long multi-corpus sessions bound their executor storage
  deterministically. Eviction is safe because (a) attribution is now
  exclusive and (b) catalog queries fully materialize their results
  before the next query runs (no dangling lazy consumer of an evicted
  product); (b) remains the documented contract.

Caveat (documented, not detectable from the plan): overwriting a
parquet path IN-SESSION and re-deriving products from it would hit the
stale cache — disable with the env switch for such workflows. The
catalog only ever reads immutable testdata/warehouse snapshots.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame

from power_generation_etl_spark import lineage

_ENV = "SPARK_ETL_PRODUCT_CACHE"


def _session_token(df: DataFrame) -> tuple | None:
    """Stable identity of the live SparkContext behind `df`, or None
    if the context is stopped/unreachable. (applicationId, startTime)
    survives Python-wrapper churn (two `getOrCreate()` wrappers of one
    JVM session compare equal) while distinguishing a recreated
    context in the same process."""
    try:
        sc = df.sparkSession.sparkContext
        if sc._jsc is None:  # stopped context
            return None
        return (sc.applicationId, sc.startTime)
    except Exception:
        return None


class PlanMemo:
    """LRU memo of products derived from a source DataFrame plan."""

    def __init__(self, name: str, cap: int = 4):
        self.name = name
        self.cap = cap
        # (key_hash, src_df, product, session_token, rdd_ids)
        self._slots: list[tuple[tuple, DataFrame, Any, tuple | None, set[int]]] = []

    def enabled(self) -> bool:
        """``SPARK_ETL_PRODUCT_CACHE`` is ``1`` (the default when unset)
        or ``0``; any other value raises rather than silently leaving the
        memo on."""
        env = os.environ.get(_ENV, "1")
        if env not in ("0", "1"):
            raise ValueError(
                f"{_ENV}={env!r} is not 0 or 1; set {_ENV}=0 to disable "
                f"the {self.name} memo, 1 (or unset) to enable it"
            )
        return env == "1"

    # -- lifecycle -----------------------------------------------------
    def _release(self, sdf: DataFrame, rdd_ids: set[int]) -> None:
        """Unpersist the RDDs a build left pinned. Non-blocking; any
        failure (dead context) just falls back to ContextCleaner GC."""
        if not rdd_ids:
            return
        try:
            jmap = sdf.sparkSession.sparkContext._jsc.getPersistentRDDs()
            for rid in rdd_ids:
                jrdd = jmap.get(rid)
                if jrdd is not None:
                    jrdd.unpersist(False)
        except Exception:
            pass

    def clear(self) -> None:
        """Drop every slot, releasing its storage."""
        for _, sdf, _, _, rids in self._slots:
            self._release(sdf, rids)
        self._slots = []

    # -- lookup --------------------------------------------------------
    def get_or_build(
        self, key: tuple, src: DataFrame, build: Callable[[], Any]
    ) -> Any:
        """The cached product for (key, src-plan), else build(), cache,
        and return it. `key` carries every non-plan parameter that
        shapes the product (shingle n, k-means k/iters, ...)."""
        if not self.enabled():
            return build()
        tok = _session_token(src)
        if tok is None:  # unreadable context: don't cache, just build
            return build()
        # Evict slots from dead/replaced sessions first — their blocks
        # belong to a stopped SparkContext and must never be returned.
        live = [s for s in self._slots if s[3] == tok]
        if len(live) != len(self._slots):
            self._slots = live
        h = (key, src.semanticHash())
        for i, (kh, sdf, prod, _t, _r) in enumerate(self._slots):
            if kh == h and src.sameSemantics(sdf):
                self._slots.append(self._slots.pop(i))  # LRU bump
                return prod
        with lineage.pin_scope() as pinned:
            prod = build()
        self._slots.append((h, src, prod, tok, set(pinned)))
        for _, sdf, _, _, rids in self._slots[: -self.cap]:
            self._release(sdf, rids)
        del self._slots[: -self.cap]
        return prod

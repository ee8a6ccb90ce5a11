"""Near-duplicate detection for document corpora: exact n-gram Jaccard,
MinHash+LSH, and SimHash — all built-in-expression Spark (no UDFs).

Scale design notes (the point of these operators is 100 TB corpora):
- shingling is a codegen'd posexplode + window-lead over tokens
  (`shingle_table`), reusing the compute-spreading repartition as the
  window partitioning — one shuffle, no interpreted array lambdas;
- exact Jaccard joins on *shingle* (sparse inverted-index join), never
  a cross join — cost ∝ Σ per-shingle doc-frequency², so hot shingles
  are the skew risk; `doc_freq_cap` drops stop-shingles the way
  production pipelines do;
- MinHash signatures are computed array-side (zero shuffle), candidate
  generation shuffles only (band_key, doc_id), and exact verification
  touches only candidate pairs;
- SimHash packs to one bigint per doc; banding on 15-bit chunks gives
  candidates, `bit_count(xor)` verifies.
- all hashing is a portable md5-prefix (`portable_hash32/60`) so every
  operator here has an exact DuckDB oracle; swap in xxhash64 for ~2×
  cheaper hashing when cross-engine verifiability isn't needed.
"""

from __future__ import annotations

import os
import random
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..lineage import cut as _cut
from ..memo import PlanMemo

MERSENNE_61 = (1 << 61) - 1

# Candidate-volume ceiling for the AllPairs guard (prefix_jaccard_pairs).
# The estimator Σ_s p_s·(p_s−1) (p_s = prefix posting length) equals the
# candidate join's pre-distinct output size. Measured on the shipped
# corpora: 1.7e4 @sf0.001, 1.7e4 @sf0.01, 8.6e5 @sf0.1, ~1.6e7 on the 4×
# derived uniform corpus — all comfortably below this default, so every
# shipped SF (and the tools/scale_point.py probes) runs the exact,
# zero-recall-loss plan. Cluster deployments with real parallelism
# should raise it (env SPARK_ETL_ALLPAIRS_MAX_CANDIDATES) roughly
# linearly with executor count.
DEFAULT_ALLPAIRS_MAX_CANDIDATES = 50_000_000
_ALLPAIRS_ENV = "SPARK_ETL_ALLPAIRS_MAX_CANDIDATES"


def _resolve_max_candidates(max_candidates: int | None) -> int | None:
    """Effective candidate bound: an explicit argument wins; <= 0
    disables the guard entirely; None defers to the env override, then
    the default."""
    if max_candidates is not None:
        return max_candidates if max_candidates > 0 else None
    env = os.environ.get(_ALLPAIRS_ENV)
    if env is not None:
        try:
            v = int(float(env))  # accept "5e7" / "50000000"
        except (ValueError, OverflowError):  # "abc", "nan" / "inf", "-inf"
            raise ValueError(
                f"{_ALLPAIRS_ENV}={env!r} is not a finite number; set a "
                "candidate-count bound like 50000000 (or <=0 to disable "
                "the guard)"
            ) from None
        return v if v > 0 else None
    return DEFAULT_ALLPAIRS_MAX_CANDIDATES


_VOLUME_MEMO = PlanMemo("guard_volume", cap=8)


def _guard_volume_cap(
    vol_df: DataFrame,
    memo_key: tuple,
    key_src: DataFrame,
    bound: int,
    op: str,
    knob: str,
    semantics: str,
) -> int | None:
    """Shared guard-engagement step for the near-dup candidate-volume
    guards: collect the per-df (df, vol) buckets from `vol_df` — ONCE
    per (memo_key, corpus plan) via PlanMemo, since the buckets are a
    constant of the corpus and repeated catalog queries over one corpus
    would otherwise re-run the estimator job each call — then pick the
    largest fitting cap and warn if the bound binds. Returns the cap to
    apply, or None to keep the exact plan."""
    rows = _VOLUME_MEMO.get_or_build(
        memo_key,
        key_src,
        lambda: [(int(r["df"]), int(r["vol"])) for r in vol_df.collect()],
    )
    cap = _choose_df_cap(rows, bound)
    if cap is None:
        return None
    total = sum(v for _, v in rows)
    empty_note = (
        f" NOTE: {knob}=1 keeps no key shared by >=2 documents, so zero "
        "candidates survive and the result will be EMPTY — treat this as "
        "'the guard degenerated the query', not 'no duplicates'."
        if cap == 1
        else ""
    )
    warnings.warn(
        f"{op}: exact candidate volume {total} exceeds "
        f"max_candidates={bound}; auto-engaging {knob}={cap} "
        f"({semantics}).{empty_note} Raise {_ALLPAIRS_ENV} to keep the "
        f"exact plan.",
        UserWarning,
        stacklevel=3,
    )
    return cap


def cap_buckets(
    tagged: DataFrame,
    keys: list[str],
    cap: int | None,
    max_candidates: int | None,
    memo_key: tuple,
    key_src: DataFrame,
    op: str,
    recall: str,
) -> DataFrame:
    """The candidate-volume guard of the bucketed near-dup joins: the
    rows of `tagged` whose `keys` group (bucket) holds at most `cap`
    rows. A bucket of p rows feeds p·(p−1) rows into the candidate
    self-join on `keys`, so hot buckets are where the join goes
    quadratic.

    An explicit `cap` filters at once. Otherwise the bound resolves
    through `_resolve_max_candidates`; with no bound `tagged` comes back
    untouched (a fully lazy plan). With one, Σ p·(p−1) per bucket size
    is estimated (one aggregation job, memoized per (`memo_key`,
    `key_src` plan)) and `_guard_volume_cap` picks the largest cap whose
    smallest-first volume fits, warning with the `recall` contract. On
    the full shingle index (`keys == ["s"]`) a bucket is a posting
    list, so its cap is a document-frequency cap.

    Hot buckets leave through a left-anti join with no broadcast hint:
    the hot key set is the small side, which AQE broadcasts when it
    fits. The filter compares keys as the candidate join does: a null
    key column equals nothing, so its rows pass and find no partner; a
    struct key with a null field equals its twin, so its bucket is
    sized and capped like any other."""
    sizes = tagged.groupBy(*keys).agg(F.count(F.lit(1)).alias("_p"))
    if cap is None:
        bound = _resolve_max_candidates(max_candidates)
        if bound is None:
            return tagged
        vol_df = sizes.groupBy(F.col("_p").alias("df")).agg(
            F.sum(F.col("_p") * (F.col("_p") - 1)).alias("vol")
        )
        knob = "doc_freq_cap" if keys == ["s"] else "bucket_cap"
        cap = _guard_volume_cap(vol_df, memo_key, key_src, bound, op, knob, recall)
        if cap is None:
            return tagged
    hot = sizes.where(F.col("_p") > cap).select(*keys)
    return tagged.join(hot, keys, "left_anti")


def _choose_df_cap(per_df: list[tuple[int, int]], bound: int) -> int | None:
    """Given `(df, volume)` rows — candidate volume Σ p·(p−1) summed
    per document-frequency bucket — pick the largest df_cap whose
    cumulative volume (df ascending) stays within `bound`. None means
    no cap needed (total fits). The floor is cap=1: df=1 shingles have
    at most one prefix posting, so they generate zero candidate pairs
    and are always free to keep."""
    total = sum(v for _, v in per_df)
    if total <= bound:
        return None
    cap, acc = 1, 0
    for dfv, vol in sorted(per_df):
        if acc + vol > bound:
            break
        acc += vol
        cap = dfv
    return max(cap, 1)


def portable_hash32(s: Column) -> Column:
    """32-bit hash as bigint: first 8 hex chars of md5.

    Portable: DuckDB computes the identical value via
    ``CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)``, which is what
    makes the MinHash/SimHash catalog queries oracle-checkable.
    (xxhash64 would be ~2× cheaper per shingle but is JVM-only; at
    true 100 TB scale swap this expression for ``F.xxhash64`` and give
    up the cross-engine oracle — the operator logic is unchanged.)"""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def portable_hash60(s: Column) -> Column:
    """60-bit variant (15 hex chars) — always positive in an int64, so
    bit arithmetic needs no sign handling in either engine."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    Built from `n` whole-array slices zipped together — O(tokens) per
    document. (The obvious `transform(sequence, i -> slice(tokens, i, n))`
    copies an array per shingle, i.e. O(tokens·n) allocations and O(n²)
    work on long docs — measurably slower at corpus scale.)"""
    tokens = F.split(F.lower(text), r"\s+")
    size = F.size(tokens)
    shifted = [F.slice(tokens, k + 1, F.greatest(size - k, F.lit(0))) for k in range(n)]
    zipped = F.arrays_zip(*shifted)
    count = size - (n - 1)
    grams = F.transform(
        zipped, lambda x: F.concat_ws(" ", *[x.getField(str(k)) for k in range(n)])
    )
    return F.array_distinct(
        F.when(count >= 1, F.slice(grams, 1, count)).otherwise(
            F.array().cast("array<string>")
        )
    )


def shingle_hashes(shingles: Column) -> Column:
    """Portable 32-bit hash per shingle; 32 bits so the MinHash affine
    transform (a*h+b, a < 2^30) never overflows int64 — DuckDB
    overflow-checks BIGINT multiplication, so this bound is load-bearing
    for the oracle too."""
    return F.transform(shingles, portable_hash32)


def _coefficients(k: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    # a < 2^30 keeps a*h32 < 2^62 (no signed-64 overflow).
    return [(rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30)) for _ in range(k)]


def minhash_signature(shingles: Column, k: int = 64, seed: int = 42) -> Column:
    """k-permutation MinHash signature (array<bigint>), computed
    array-side — one projection, no shuffle, no explode.

    NOTE: array higher-order functions run interpreted (outside
    whole-stage codegen); the pipeline below uses
    `minhash_signature_table` (explode + k codegen'd min aggregates,
    ~2× faster end-to-end) — this form remains for callers that need a
    pure projection."""
    hashes = shingle_hashes(shingles)
    sigs = [
        F.coalesce(
            F.array_min(
                F.transform(
                    hashes, lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE_61))
                )
            ),
            F.lit(MERSENNE_61),  # empty-doc sentinel
        )
        for a, b in _coefficients(k, seed)
    ]
    return F.array(*sigs)


def minhash_signature_table(sh: DataFrame, k: int = 64, seed: int = 42) -> DataFrame:
    """(doc_id, m0..m{k-1}) MinHash signature via k `min` aggregates
    over the (doc_id, s) shingle table — every arithmetic expression
    stays inside whole-stage codegen, and the map-side partial
    aggregation reduces each partition to one row per doc before the
    shuffle (shuffle volume = k longs per doc, same as shipping the
    signature array)."""
    hs = sh.select("doc_id", portable_hash32(F.col("s")).alias("h"))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_61))).alias(
            f"m{i}"
        )
        for i, (a, b) in enumerate(_coefficients(k, seed))
    ]
    return hs.groupBy("doc_id").agg(*aggs)


def _par(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


# Per-doc shingle-array table (r12): (doc_id, _ss = collect_list of
# the doc's distinct shingles, n_sh). Built from the memoized shingle
# table and itself memoized per (corpus, n) — minhash_lsh_pairs,
# prefix_jaccard_pairs, and prefix_jaccard_capped all verify over the
# identical table in one catalog pass. Same lifecycle as the other
# near-dup memos.
_DOCARR_MEMO = PlanMemo("shingle_doc_arrays", cap=2)


def shingle_doc_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    par = _par(df)

    def build() -> DataFrame:
        sh = shingle_table(df, id_col, text_col, n)
        return _cut(
            sh.groupBy("doc_id").agg(
                F.collect_list("s").alias("_ss"),
                F.count(F.lit(1)).alias("n_sh"),
            )
        )

    return _DOCARR_MEMO.get_or_build((n, par), src, build)


def _verify_jaccard_pairs(
    cands: DataFrame, docs_arr: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard verification of (id_a, id_b) candidate pairs from
    per-doc shingle ARRAYS (r12): two equi-joins attach both docs'
    arrays (`shingle_doc_arrays`), and `array_intersect` on the exact
    shingle STRINGS (no hash step — collision-free) computes |A∩B| in
    one row per pair. Replaces the candidates × shingles row explosion
    (each pair expanded to |sh(a)| rows, re-joined on (id_b, s), then
    re-grouped per pair) — at the 10× decade corpus that was ~600M
    intermediate rows and a 13M-group aggregation for 45 of the
    query's 50 seconds; the array form measured 3.4× faster with
    byte-identical output. Arrays are doc-bounded (distinct shingles
    of ONE document), so per-row memory is the same bound the shingle
    table already guarantees."""
    da = docs_arr.select(
        F.col("doc_id").alias("id_a"),
        F.col("_ss").alias("_sa"),
        F.col("n_sh").alias("na"),
    )
    db = docs_arr.select(
        F.col("doc_id").alias("id_b"),
        F.col("_ss").alias("_sb"),
        F.col("n_sh").alias("nb"),
    )
    c = F.size(F.array_intersect("_sa", "_sb"))
    jac = c.cast("double") / (F.col("na") + F.col("nb") - c)
    return (
        cands.join(da, "id_a")
        .join(db, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def minhash_signatures_from_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, m0..m{k-1}) MinHash signatures straight from documents,
    LAZY and distinct-free — the single-consumer form for callers that
    need ONLY signatures (the streaming intake kernel; the batch
    near-dup family keeps `shingle_table` + `minhash_signature_table`
    because the materialized distinct-shingle table feeds 2-3 subtrees
    there).

    Identical output to `minhash_signature_table(shingle_table(...))`:
    ``min`` is duplicate-insensitive, so the signature over the shingle
    MULTISET equals the signature over the distinct set — dropping the
    set-dedup pass and, more importantly, the localCheckpoint
    write+read of the widest intermediate (guide §1.2: don't
    materialize what has one consumer). One exchange total: the
    pre-window repartition doubles as the window's and the
    aggregation's clustering (both only require hash clustering on
    doc_id), so the plan is exchange → sort → lead-window → hash-agg
    with map-side partials."""
    from pyspark.sql.window import Window

    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    ex = src.repartition(_par(df), "doc_id").select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("_t")), r"\s+")).alias("pos", "t"),
    )
    if n == 1:
        sh = ex.select("doc_id", F.col("t").alias("s"))
    else:
        w = Window.partitionBy("doc_id").orderBy("pos")
        leads = [F.lead("t", j).over(w) for j in range(1, n)]
        sh = (
            ex.select(
                "doc_id",
                F.concat_ws(" ", F.col("t"), *leads).alias("s"),
                leads[-1].alias("_last"),
            )
            .filter(F.col("_last").isNotNull())
            .drop("_last")
        )
    hs = sh.select("doc_id", portable_hash32(F.col("s")).alias("h"))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_61))).alias(
            f"m{i}"
        )
        for i, (a, b) in enumerate(_coefficients(k, seed))
    ]
    return hs.groupBy("doc_id").agg(*aggs)


_SHINGLE_MEMO = PlanMemo("shingle_table")

# Materialized signature products (r12): the LSH candidate join consumes
# the signature table on BOTH sides and the volume guard aggregates it a
# third time; Spark computes each consumer's subtree independently, so
# the k-min-aggregate (or 61-sum SimHash) scan over the shingle table
# ran 3× per call (measured in plans/r12/minhash_lsh_pairs_before.txt:
# two full HashAggregate chains in the candidate join + the guard job).
# A PlanMemo'd lineage cut computes it ONCE per (corpus, params) and
# owns the pinned blocks (LRU-released), the same lifecycle as the
# shingle memo. cap=2: two corpora in flight.
_SIG_MEMO = PlanMemo("minhash_sig", cap=2)
_SIMHASH_MEMO = PlanMemo("simhash_tbl", cap=2)


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles as a (doc_id, s) TABLE — the form
    every consumer actually wants (posting lists, signature aggregation,
    SimHash votes), built with posexplode + window `lead`s so every
    expression stays inside whole-stage codegen. The array-HOF
    formulation (`word_shingles`) evaluates its lambdas interpreted and
    measures ~3× slower end-to-end at sf0.1.

    The pre-shingling repartition spreads compute-bound shingling across
    cores (a small parquet source would otherwise coalesce onto one
    task) and doubles as the window's required partitioning — the
    lead() window adds a sort but no extra exchange.

    Materialized once (`lineage.cut`): the table feeds 2-3 subtrees per
    operator (counts, both join sides, signatures) — and MEMOIZED per
    (corpus plan, n) via `memo.PlanMemo`, because seven near-dup
    catalog queries shingle the same corpus identically in one session
    (the index-build-once property). Blocks are dropped on LRU
    eviction / plan GC."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    par = _par(df)
    return _SHINGLE_MEMO.get_or_build((n, par), src, lambda: _build_shingles(src, n, par))


def _build_shingles(src: DataFrame, n: int, par: int) -> DataFrame:
    from pyspark.sql.window import Window

    ex = src.repartition(par, "doc_id").select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("_t")), r"\s+")).alias("pos", "t"),
    )
    if n == 1:
        return _cut(ex.select("doc_id", F.col("t").alias("s")).distinct())
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("t", j).over(w) for j in range(1, n)]
    out = (
        ex.select(
            "doc_id",
            F.concat_ws(" ", F.col("t"), *leads).alias("s"),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())  # no (n-1)-gram tails
        .drop("_last")
    )
    return _cut(out.distinct())


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    doc_freq_cap: int | None = None,
    metric: str = "jaccard",
    max_candidates: int | None = None,
) -> DataFrame:
    """All pairs with word-n-gram similarity ≥ threshold, via an
    inverted shingle index (join on shingle, never a cross join). The
    shingle table arrives already localCheckpoint'ed (shingle_table
    materializes once for its 2-3 consumers).

    metric='jaccard': |A∩B| / |A∪B| (symmetric near-dup).
    metric='containment': |A∩B| / min(|A|,|B|) — the asymmetric screen
    that catches a short document embedded inside a long one, which
    Jaccard structurally misses (a 50-shingle doc fully contained in a
    1000-shingle doc has Jaccard ≈ 0.05 but containment 1.0).

    ``max_candidates`` — the same runtime guard as
    `prefix_jaccard_pairs` (r9): the full inverted index has the
    identical uniform-corpus hazard, candidate volume Σ df·(df−1)
    quadratic in N when every shingle's document frequency grows with
    the corpus. One tiny aggregation over the shingle frequencies
    computes that volume per df bucket (no window needed here — the
    estimator is a pure dfreq rollup); above the bound (default
    `DEFAULT_ALLPAIRS_MAX_CANDIDATES`, env
    ``SPARK_ETL_ALLPAIRS_MAX_CANDIDATES``, argument wins; <= 0
    disables) the guard auto-engages the largest ``doc_freq_cap``
    whose cumulative rarest-first volume fits, with a `UserWarning`.
    The engaged behavior is exactly the documented `doc_freq_cap`
    contract — hot shingles leave the index, so BOTH recall and
    reported similarities follow the stop-shingle semantics (unlike
    the prefix variant, whose verification stays exact). Below the
    bound the plan is the untouched exact index. Measured volumes:
    2.8e4 @sf0.01, 2.5e6 @sf0.1, ~4e7 @4× derived — all exact under
    the default bound. Like the prefix variant, the guard makes
    construction EAGER by one aggregation job (memoized per corpus per
    session); pass ``max_candidates=0`` for a fully lazy plan."""
    if metric not in ("jaccard", "containment"):
        raise ValueError("metric must be 'jaccard' or 'containment'")
    sh = shingle_table(df, id_col, text_col, n)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    posting = cap_buckets(
        sh,
        ["s"],
        doc_freq_cap,
        max_candidates,
        ("full", n),
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")),
        "exact_jaccard_pairs",
        "stop-shingle semantics — hot shingles leave the index, so "
        "both recall and reported similarities follow the "
        "doc_freq_cap contract",
    )
    npar = _par(df)
    a = posting.select(F.col("doc_id").alias("id_a"), "s").repartition(npar, "s")
    b = posting.select(F.col("doc_id").alias("id_b"), "s").repartition(npar, "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # per-doc shingle counts are O(n_docs) rows — never force-broadcast
    # them (AQE promotes at runtime when actually small)
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    if metric == "containment":
        sim = F.col("c") / F.least(F.col("na"), F.col("nb"))
    else:
        sim = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select("id_a", "id_b", F.round(sim, 4).alias(metric))
        .filter(F.col(metric) >= threshold)
        .orderBy("id_a", "id_b")
    )


def band_key_table(sig: DataFrame, k: int = 64, n_bands: int = 16) -> DataFrame:
    """(doc_id, bk={band, key}) LSH band keys from a wide signature
    table — the bucketing layout shared by the batch pair-finder and
    the streaming intake's persisted signature store (where `band` is
    the store's partition column at scale)."""
    per_band = k // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                portable_hash60(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{j}")
                            for j in range(i * per_band, (i + 1) * per_band)
                        ],
                    )
                ).alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk"))


def signature_agreement(k: int, left_prefix: str, right_prefix: str):
    """MinHash Jaccard estimator: fraction of agreeing signature
    components — sum of k equality indicators, whole-stage codegen."""
    s = F.lit(0)
    for i in range(k):
        s = s + F.when(
            F.col(f"{left_prefix}{i}") == F.col(f"{right_prefix}{i}"), 1
        ).otherwise(0)
    return s.cast("double") / F.lit(float(k))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    k: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    bucket_cap: int | None = None,
    max_candidates: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band-bucket candidate generation,
    exact Jaccard verification on candidates only. With k=64, b=16
    (r=4), P(candidate | j=0.5) ≈ 1-(1-0.5⁴)¹⁶ ≈ 0.66 per band-set —
    tune b/r for the target threshold. The shingle table arrives
    already localCheckpoint'ed (shingle_table materializes once for
    its consumers: signature agg, posting sides, counts).

    ``max_candidates`` — the candidate-volume runtime guard (r10).
    LSH is subquadratic only while band buckets stay small: on a
    DUP-CLUSTER-HEAVY corpus (the normal case for web-scale pretraining
    data) every member of a near-dup cluster shares band keys, so
    bucket sizes grow with cluster size and the candidate join is
    Σ_bucket p·(p−1) — measured α≈2.2-2.8 on the derived
    2×/4×/10× corpora (SCALING_MEASURED.md r10: 827s at 10×, vs 4s at
    1×, before this guard). One aggregation over the band table
    computes the exact volume per bucket-size class; above the bound
    (default ``DEFAULT_ALLPAIRS_MAX_CANDIDATES``, env
    ``SPARK_ETL_ALLPAIRS_MAX_CANDIDATES``, argument wins; <= 0
    disables) the guard auto-engages the largest ``bucket_cap`` whose
    cumulative smallest-first volume fits, with a `UserWarning`.
    Recall contract: band buckets larger than the cap leave candidate
    generation, so a true pair is missed only if EVERY band it
    collides on is a super-cap bucket (a cluster member still pairs
    with cluster-mates through any small bucket); verification stays
    exact, so reported jaccards never change — only which pairs are
    FOUND. Below the bound the plan is untouched. An explicit
    ``bucket_cap`` skips the guard; the guard makes construction EAGER
    by one aggregation job (memoized per corpus per session) — pass
    ``max_candidates=0`` for a fully lazy plan."""
    sh = shingle_table(df, id_col, text_col, n)
    # Signature table materialized once via the memo (r12): its three
    # consumers (volume guard, both candidate-join sides) otherwise
    # each re-run the k-min-aggregate scan over the shingle table.
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    sig = _SIG_MEMO.get_or_build(
        (n, k, seed, _par(df)),
        src,
        lambda: _cut(minhash_signature_table(sh, k, seed)),
    )
    npar = _par(df)
    tagged = cap_buckets(
        band_key_table(sig, k, n_bands),
        ["bk"],
        bucket_cap,
        max_candidates,
        ("lsh", n, k, n_bands, seed),
        src,
        "minhash_lsh_pairs",
        "band buckets larger than the cap leave candidate "
        "generation — a pair is missed only if EVERY band it "
        "collides on exceeds the cap; verification stays exact",
    )
    a = tagged.select(F.col("doc_id").alias("id_a"), "bk").repartition(npar, "bk")
    b = tagged.select(
        F.col("doc_id").alias("id_b"), F.col("bk").alias("bk2")
    ).repartition(npar, "bk2")
    cands = (
        a.join(b, (F.col("bk") == F.col("bk2")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Exact verification on candidates only, via the memoized per-doc
    # shingle-array table (`_verify_jaccard_pairs`). The joins are
    # equi-keyed and deliberately NOT force-broadcast: on a dup-heavy
    # corpus the candidate set is anything but small; AQE promotes at
    # runtime when a side is actually under the threshold.
    return _verify_jaccard_pairs(
        cands, shingle_doc_arrays(df, id_col, text_col, n), threshold
    )


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, bits: int = 60
) -> DataFrame:
    """SimHash fingerprints as (doc_id, sh64).

    Computed with explode → one hash aggregation carrying `bits` SUMs
    (map-side partial agg, whole-stage codegen) instead of `bits`
    array-aggregate passes per row — the bit-j vote sum(±1) equals
    2*sum(bit_j) - n_shingles, so plain SUMs suffice.

    60 bits (not 64) so the fingerprint is always positive and the
    per-shingle hash / bit extraction are identical expressions in
    DuckDB — the catalog query is oracle-checked bit-for-bit."""
    # The groupBy's partial (map-side) aggregation combines
    # per-partition; the final agg shuffles only 61 longs per doc.
    exploded = shingle_table(df, id_col, text_col, n).select(
        "doc_id", portable_hash60("s").alias("h")
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1))).alias(f"s{j}")
        for j in range(bits)
    ]
    votes = exploded.groupBy("doc_id").agg(*aggs)
    out = F.lit(0).cast("bigint")
    for j in range(bits):
        out = out + F.when(
            2 * F.col(f"s{j}") >= F.col("n"), F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0))
    return votes.select("doc_id", out.alias("sh64"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    n: int = 3,
    bucket_cap: int | None = None,
    max_candidates: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: 15-bit-chunk banding for candidates
    (a pair within hamming ≤ 3 of a 60-bit hash must agree on ≥1 of 4
    chunks; wider distances trade recall), verified with bit_count.

    ``max_candidates`` / ``bucket_cap`` — the same candidate-volume
    runtime guard as `minhash_lsh_pairs` (r10): chunk buckets grow with
    near-dup cluster size (identical fingerprints share all four
    chunks), so the candidate join is Σ_bucket p·(p−1); the guard
    excludes super-cap buckets with the identical recall contract
    (a pair is missed only when every shared chunk bucket exceeds the
    cap; the bit_count verification stays exact)."""
    # Fingerprint table materialized once via the memo (r12): the
    # volume guard and both candidate-join sides otherwise each re-run
    # the 61-sum vote aggregation over the shingle table.
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    sims = _SIMHASH_MEMO.get_or_build(
        (n,), src, lambda: _cut(simhash_table(df, id_col, text_col, n))
    )
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright("sh64", i * 15).bitwiseAND(F.lit(0x7FFF)).alias("key"),
            )
            for i in range(4)
        ]
    )
    tagged = cap_buckets(
        sims.select("doc_id", "sh64", F.explode(chunks).alias("bk")),
        ["bk"],
        bucket_cap,
        max_candidates,
        ("simhash", n),
        src,
        "simhash_pairs",
        "chunk buckets larger than the cap leave candidate "
        "generation — a pair is missed only if EVERY shared "
        "chunk bucket exceeds the cap; verification stays exact",
    )
    a = tagged.select(F.col("doc_id").alias("id_a"), F.col("sh64").alias("ha"), "bk")
    b = tagged.select(
        F.col("doc_id").alias("id_b"), F.col("sh64").alias("hb"), F.col("bk").alias("bk2")
    )
    cands = (
        a.join(b, (F.col("bk") == F.col("bk2")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "ha", "hb")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cands.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
    max_candidates: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via AllPairs prefix filtering (Bayardo et
    al., WWW'07; Chaudhuri et al.) — the database-literature candidate
    strategy, complementing the full inverted index
    (`exact_jaccard_pairs`) and the probabilistic LSH family:

    order every doc's shingles by one global canonical order
    (document-frequency asc, shingle asc — rarest first) and index only
    each doc's PREFIX of ``|s| − ceil(t·|s|) + 1`` shingles. The first
    common shingle of any pair with J ≥ t provably lands in BOTH
    prefixes, so joining prefix-against-prefix loses no qualifying
    pair, while the posting lists shrink to the rare head of each doc —
    the frequent shingles that dominate O(Σ posting²) join cost never
    enter candidate generation (the principled version of the
    `doc_freq_cap` stop-shingle heuristic, with zero recall loss).
    Verification computes the exact intersection for candidates only.

    Output is identical to `exact_jaccard_pairs(metric='jaccard')`
    (pytest-asserted). The prefix length uses threshold − 1e-4 so pairs
    whose ROUNDED similarity crests the threshold (true J down to
    t − 5e-5) still satisfy the prefix lemma's premise.

    When to use which: prefix filtering pays for its df-ranking window
    and per-candidate verification expansion out of the posting-list
    savings, which are proportional to how heavy-tailed the shingle
    frequency distribution is. On near-uniform corpora (the synthetic
    bench corpus measures ~1.8× slower than the full index) prefer
    `exact_jaccard_pairs`; on web-scale text, where a small set of
    boilerplate shingles dominates posting volume, the prefix variant
    is the one that stays sub-quadratic without the lossy
    `doc_freq_cap` escape hatch.

    ``df_cap`` — the rarity-threshold knob for corpora where even
    prefix posting lists grow with corpus size (measured on derived
    2×/4× uniform corpora: candidate volume Σ|prefix posting|² goes
    quadratic, tools/scale_point.py → SCALING_MEASURED.md). When set,
    shingles with document frequency > df_cap generate NO candidates
    (they still count in exact verification, so reported similarities
    stay exact). Recall contract — same shape as
    `exact_jaccard_pairs(doc_freq_cap=...)`: a qualifying pair is
    missed only if EVERY shingle in both prefixes is more frequent
    than the cap; at threshold t a size-m doc's prefix holds
    ⌈(1−t)·m⌉+1 shingles ORDERED RAREST-FIRST, so on heavy-tailed
    corpora a miss requires the document's rarest (1−t)·m shingles to
    ALL be boilerplate. Candidate cost is then bounded by
    |shingles|·df_cap² regardless of corpus size — linear in N for a
    fixed cap. Unset (None) keeps the zero-recall-loss exact AllPairs
    behavior — subject to the runtime guard below.

    ``max_candidates`` — the RUNTIME GUARD (r9; closes the one scale
    hazard the derived-corpus probes measured: on uniform corpora the
    exact plan's candidate volume is effectively quadratic in N).
    Before emitting candidates, one tiny aggregation over the
    already-built prefix table computes the exact pre-distinct
    candidate-join volume Σ_s p_s·(p_s−1) bucketed by shingle document
    frequency. If the total exceeds the bound (default
    `DEFAULT_ALLPAIRS_MAX_CANDIDATES`, env
    ``SPARK_ETL_ALLPAIRS_MAX_CANDIDATES``, argument wins; <= 0
    disables), the guard auto-engages the SMALLEST recall sacrifice
    that fits: the largest df_cap whose cumulative (rarest-first)
    candidate volume stays within the bound — the rare-head postings
    that carry near-dup signal are kept and only the boilerplate tail
    is cut, with the same recall contract as an explicit ``df_cap``.
    Engagement emits a `UserWarning` naming the measured volume and
    chosen cap. Below the bound, behavior is the untouched
    zero-recall-loss exact AllPairs plan (equality pytest-asserted).
    An explicit ``df_cap`` skips the guard — the caller already
    bounded the plan. Note the guard makes construction EAGER by one
    aggregation job (the estimator must run before the candidate plan
    is shaped); pass ``max_candidates=0`` for a fully lazy plan when
    the corpus is known to be heavy-tailed.
    """
    from pyspark.sql.window import Window

    t_eff = threshold - 1e-4
    sh = shingle_table(df, id_col, text_col, n)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    pref = (
        sh.join(dfreq, "s")
        .withColumn("r", F.row_number().over(w))
        .join(counts, "doc_id")
        .where(
            F.col("r")
            <= F.col("n_sh") - F.ceil(F.lit(t_eff) * F.col("n_sh")) + 1
        )
        .select("doc_id", "s", "df")
    )
    bound = _resolve_max_candidates(max_candidates)
    if df_cap is not None:
        pref = pref.where(F.col("df") <= df_cap)
    elif bound is not None:
        # Runtime guard: one aggregation job over the (lazy) prefix
        # plan. Deliberately NOT materialized: a cut here would pin an
        # unowned localCheckpoint table per call (storage accumulation
        # in long sessions) and replace the window/join subtree in the
        # returned plan with an opaque RDD scan, blinding the catalog's
        # plan-lint gates. The shingle table underneath is memo-cut, so
        # the recompute for the candidate join is one window + two
        # cheap joins. The estimator is exact, not a sketch: per df
        # bucket, Σ p·(p−1) over prefix posting lengths p is the
        # candidate join's pre-distinct output size.
        vol_df = (
            pref.groupBy("s", "df")
            .agg(F.count(F.lit(1)).alias("p"))
            .groupBy("df")
            .agg(F.sum(F.col("p") * (F.col("p") - 1)).alias("vol"))
        )
        auto_cap = _guard_volume_cap(
            vol_df,
            ("prefix", n, t_eff),
            df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
            ),
            bound,
            "prefix_jaccard_pairs",
            "df_cap",
            "rarest-first postings kept, boilerplate tail cut — recall "
            "contract as an explicit df_cap; verification stays exact",
        )
        if auto_cap is not None:
            pref = pref.where(F.col("df") <= auto_cap)
    pref = pref.select("doc_id", "s")
    npar = _par(df)
    a = pref.select(F.col("doc_id").alias("id_a"), "s").repartition(npar, "s")
    b = pref.select(F.col("doc_id").alias("id_b"), "s").repartition(npar, "s")
    cands = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Exact verification from the memoized per-doc shingle-array table
    # — same r12 form as the LSH verifier (one row per pair, no
    # candidates × shingles row explosion; byte-identical output).
    return _verify_jaccard_pairs(
        cands, shingle_doc_arrays(df, id_col, text_col, n), threshold
    )

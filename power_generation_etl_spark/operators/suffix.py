"""Distributed suffix array by prefix doubling (Manber & Myers 1990;
the doubling formulation of Larsson-Sadakane, generalized to an
arity-``_ARITY`` span multiply per round) — the classic
variable-length complement to the fixed-L ExactSubstr screen
(`corpus.py::exact_substring_spans`): a corpus-wide lexicographic
order of every within-document token suffix, built in
O(log_ARITY maxlen) rounds with NO self-joins.

Per round with span ``delta``: pair each position's current rank with
the ranks ``delta, 2·delta, …, (ARITY−1)·delta`` positions ahead via
``lead(r, j·delta)`` over ONE per-document window (end-of-suffix =
rank 0, sorting first) — the lexicographic ARITY-tuple is order- and
equality-isomorphic to the suffix truncated at ``ARITY·delta`` tokens
by the standard doubling argument applied ARITY−1 times (equal keys
synchronize end-of-suffix positions, so each further component
compares the next ``delta`` tokens). The tuple is then re-keyed to one
int64 by a **collect-free range-partitioned rank** (`_range_rekey`):
range-partition + sort by the tuple, then
``(range_partition_id << 40) + rank() within the partition``. Correct
because Spark's RangePartitioner maps equal keys to one partition as a
pure function of the key (given the driver-fixed boundaries), range
partition ids ascend with the ranges, and ``rank()`` gives equal rows
equal values — so the composite is order- and equality-isomorphic with
zero driver collects (the r11 formulation's per-densify
count-collect pass and its extra materialization are gone, and the
arity cuts the round count from log2 to log4 of maxlen/INIT).

After ``delta >= max_doc_tokens`` the key order equals full token-wise
suffix order. Per-round lineage is cut with `lineage.cut` (pluggable:
localCheckpoint locally, persist/reliable-checkpoint on clusters).

**Shared products**: `suffix_array` and `longest_repeated_substrings`
both need the tokenized base and the doubling rank tables, and a
session typically runs both on the same corpus. `_products` memoizes
(base, maxlen, levels, sa) per source plan — keyed by
`DataFrame.semanticHash()` + `sameSemantics()`, which is exact (two
reads of the same parquet path compare equal; different paths or
different literal data never do) — so the second operator pays zero
build cost. LRU-capped at 2 corpora; disable with
``SPARK_ETL_PRODUCT_CACHE=0``, the switch of every product memo.

LCP (for `longest_repeated_substrings`) never materializes suffixes:
adjacent-pair LCP is exact from the INIT-token window arrays for
every pair that mismatches inside its first INIT tokens (the
overwhelming majority), and the residual "hard" pairs — first INIT
tokens fully equal, both suffixes longer than INIT — are resolved by
a radix-ARITY descent over the retained per-round rank tables: at the
span-``d`` level each pair probes the offsets ``lcp + j·d`` for
``j = 0..ARITY−2``; ``j`` consecutive leading key-equalities certify
``least(j·d, rem)`` more matching tokens, so entering a level with
residue < ARITY·d always leaves residue < d — one level per round,
matching the build. After the span-INIT level the residue is < INIT
and one bounded window-array compare finishes. The descent is skipped
entirely when the hard set is empty (one bounded count against the
checkpointed pairs), and each level streams the level's rank table
ONCE: the probe offsets of a pair are exploded into (pair, side,
offset) rows, matched in a single equi-join, and recombined with a
tiny groupBy — h pairs cost 2·(ARITY−1)·h probe rows, never two full
scans. A 1M-token document costs the same per-position work as a
100-token one.

Scale notes (100 TB): the pairing step is a per-document window
(``lead`` over partitionBy(doc_id)), so nothing ever crosses
documents, and the round count is ceil(log_ARITY(max DOC length /
INIT)) — independent of corpus size (8 rounds for 1M-token documents
at INIT=16, ARITY=4; the r11 doubling build took 16). Each round
shuffles position-scale (doc, pos, rank-tuple) rows a bounded number
of times — the O(n log maxlen) total that makes suffix-array
construction heavier than the L-gram digest screen, which is why
ExactSubstr is the dedup workhorse and the suffix array the
variable-length analysis tool. The hard-pair descent degrades
gracefully: a pathological corpus (one token repeated everywhere)
makes every adjacent pair hard, and the descent is then plain
position-scale equi-joins — never super-linear.

Tokenization precondition: round 0 compares suffixes as
' '-joined strings, which equals token-wise order because tokens
contain no character that sorts at-or-below ' ' (0x20) — whitespace
is consumed by the split and the remaining C0 control characters
(0x00-0x08, 0x0E-0x1F) are stripped during tokenization, so every
retained token character is > 0x20.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..lineage import cut, cut_index
from ..memo import PlanMemo
from ..session import local_frame
from .rank import with_global_rank

# Round-0 string-prefix width: one window of INIT-1 leads replaces
# log_ARITY(INIT) doubling rounds (each of which costs a position-scale
# shuffle or two), and bounds the LCP tail-compare below. 16 measured
# faster than 8 at sf0.1 (one fewer doubling round; the extra leads
# ride the same per-doc sort).
_INIT = 16

# Span multiplier per doubling round (module docstring): each round
# leads ARITY-1 ranks ahead and re-keys the lexicographic tuple, so
# rounds = ceil(log_ARITY(maxlen/INIT)) — half the rounds of classic
# doubling at 4. The trade is a wider per-round sort key
# (ARITY int64s) and (ARITY-1)·2 descent probe rows per hard pair;
# 4 measured faster than 2 and 8 at sf0.1 (r12).
_ARITY = 4

# _range_rekey composite: (range partition id << _REKEY_SHIFT) + local
# rank. 40 bits of local rank (1T rows per range partition) leaves 22
# bits of partition id (4.2M partitions) inside a positive int64 —
# both far past 100 TB shapes.
_REKEY_SHIFT = 40

# Non-whitespace C0 control characters: stripped before tokenization
# so every token character sorts strictly above ' ' (module
# docstring). \t \n \x0B \f \r are left for the \s+ split to consume.
_CTRL_RE = r"[\x00-\x08\x0e-\x1f]"


def _src(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical source projection — also the memo-cache key plan."""
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )


def _base(src: DataFrame) -> DataFrame:
    """(doc_id, pos, _w, _len): 1-based token positions from
    lowercased whitespace tokenization (control chars stripped, see
    module docstring), the suffix's first min(INIT, remaining) tokens
    as ``_w`` (leads past the document end are null and filtered, so
    size(_w) = min(INIT, remaining)), and the document token count.
    Materialized once and shared by round 0, the LCP compares, and the
    preview join — O(n·INIT) total, linear."""
    spark = src.sparkSession
    ex = (
        src.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.posexplode(
                F.split(
                    F.regexp_replace(F.lower(F.col("_t")), _CTRL_RE, ""), r"\s+"
                )
            ).alias("p0", "t"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "t")
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    wd = Window.partitionBy("doc_id")
    # cut_index, not cut: the base is probed by round 0, the LCP
    # residue compares, and the preview join — a reused index product.
    return cut_index(
        ex.select(
            "doc_id",
            "pos",
            F.filter(
                F.array(
                    F.col("t"), *[F.lead("t", j).over(wl) for j in range(1, _INIT)]
                ),
                lambda x: x.isNotNull(),
            ).alias("_w"),
            F.max("pos").over(wd).alias("_len"),
        )
    )


def _range_rekey(keyed: DataFrame, order_cols: list[str]) -> DataFrame:
    """(doc_id, pos, r): one int64 key per row, order- and
    equality-isomorphic to the lexicographic tuple `order_cols` —
    computed with ZERO driver collects (module docstring): range
    partition + in-partition sort by the tuple, then
    ``(spark_partition_id << _REKEY_SHIFT) + rank()``.

    Correctness: RangePartitioner boundaries are fixed by the driver
    before execution and map a key to its partition as a pure function
    of the key (equal tuples never straddle partitions, retried tasks
    reproduce the assignment); partition ids ascend with the ranges,
    so inter-partition order is preserved by the high bits and
    intra-partition order/equality by ``rank()`` (equal tuples share a
    rank). The key is sparse, not dense — every consumer needs only
    order/equality isomorphism."""
    cols = [F.col(c) for c in order_cols]
    w = Window.partitionBy("_rp").orderBy(*cols)
    return (
        keyed.repartitionByRange(*cols)
        .withColumn("_rp", F.spark_partition_id().cast("bigint"))
        .select(
            "doc_id",
            "pos",
            (
                F.shiftleft(F.col("_rp"), _REKEY_SHIFT)
                + F.rank().over(w)
            ).alias("r"),
        )
    )


def _rank_levels(
    base: DataFrame, keep_levels: bool = True
) -> tuple[int, list[tuple[int, DataFrame]]]:
    """Prefix-doubling rank tables over the base positions.

    Returns (maxlen, levels) where levels is the ascending list of
    (span, ranks) with ranks = (doc_id, pos, r): r is an
    order-isomorphic int64 key of the suffix's first
    min(span, remaining) tokens (end-of-suffix sorting first; equal
    keys iff equal truncated token sequences — sparse `_range_rekey`
    keys, equality/order semantics exact). Spans multiply by `_ARITY`
    per round. The last level's span >= maxlen, so its key order
    equals full suffix order (up to ties between byte-identical
    suffixes). Every table is materialized via `lineage.cut_index`
    (reliable checkpoint under the persist mode — see lineage.py).

    ``keep_levels=False`` returns only the FINAL level — the
    suffix-array-only path; intermediate tables drop their Python
    refs so the ContextCleaner can free their blocks. The LCP descent
    (`longest_repeated_substrings`) needs the full list.
    """
    row = base.agg(F.max("_len").alias("m")).collect()[0]
    maxlen = row["m"] or 0
    if maxlen == 0:
        return 0, []
    # Round 0: rank of each suffix's first INIT tokens, joined with
    # ' '. Because tokens contain no whitespace or non-whitespace
    # control chars, every token character is > ' ', so string order
    # on the joined form equals token-wise order with end-of-suffix
    # first (short suffixes join only their remaining tokens and sort
    # as prefixes — first). One window of leads replaces
    # log_ARITY(INIT) doubling rounds.
    ranks = cut_index(
        _range_rekey(
            base.select(
                "doc_id", "pos", F.array_join("_w", " ").alias("_k0")
            ),
            ["_k0"],
        )
    )
    span = _INIT
    levels = [(span, ranks)]
    wl = Window.partitionBy("doc_id").orderBy("pos")
    while span < maxlen:
        # ARITY-1 leads over ONE window: the lexicographic tuple
        # (r, r@span, …, r@(ARITY-1)·span) is order/equality-isomorphic
        # to the suffix truncated at ARITY·span tokens (module
        # docstring); end-of-suffix leads coalesce to 0, which sorts
        # below every real key (rekey keys are >= 1).
        lead_cols = [
            F.coalesce(F.lead("r", j * span).over(wl), F.lit(0)).alias(
                f"_r{j}"
            )
            for j in range(1, _ARITY)
        ]
        keyed = ranks.select("doc_id", "pos", "r", *lead_cols)
        ranks = cut_index(
            _range_rekey(keyed, ["r"] + [f"_r{j}" for j in range(1, _ARITY)])
        )
        span *= _ARITY
        levels.append((span, ranks))
        if not keep_levels:
            del levels[:-1]
    return maxlen, levels


# Memoized per-corpus products, shared between `suffix_array` and
# `longest_repeated_substrings` in one session: the build (tokenize +
# O(log maxlen) doubling rounds + the global-rank count pass) is the
# dominant cost of both operators. Same PlanMemo machinery as the
# shingle-table and k-means memos, under the same switch
# (SPARK_ETL_PRODUCT_CACHE). LRU-2: two corpora in flight.
_PRODUCTS_MEMO = PlanMemo("suffix_products", cap=2)


def _products(
    df: DataFrame, id_col: str, text_col: str, need_levels: bool
) -> tuple[DataFrame, int, list[tuple[int, DataFrame]], DataFrame | None]:
    """(base, maxlen, levels, sa) for the corpus, memo-cached.

    ``sa`` is the globally ranked final level — (doc_id, pos, r,
    sa_rank) — whose two-pass count stage has already run; None for an
    empty corpus. When the cache is enabled all levels are retained
    (the next operator may need them); when disabled, ``need_levels``
    controls retention per ADVICE (the SA-only path holds just the
    final table).
    """
    src = _src(df, id_col, text_col)

    def build() -> tuple:
        base = _base(src)
        maxlen, levels = _rank_levels(
            base, keep_levels=need_levels or _PRODUCTS_MEMO.enabled()
        )
        sa = None
        if maxlen:
            sa = with_global_rank(
                levels[-1][1],
                [F.col("r"), F.col("doc_id"), F.col("pos")],
                rank_col="sa_rank",
            )
        return base, maxlen, levels, sa

    return _PRODUCTS_MEMO.get_or_build((), src, build)


def _empty_sa(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], "doc_id bigint, pos int, sa_rank bigint")


def suffix_array(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pos, sa_rank) for every within-document token suffix:
    sa_rank is the 1-based position in the corpus-wide lexicographic
    order of suffixes (token-wise comparison, end-of-suffix before any
    token; ties between byte-identical suffixes — duplicate documents —
    break by (doc_id, pos), making the order total and the output
    deterministic)."""
    _base_df, maxlen, _levels, sa = _products(df, id_col, text_col, need_levels=False)
    if maxlen == 0:  # empty corpus
        return _empty_sa(df.sparkSession)
    return sa.select(
        "doc_id", "pos", F.col("sa_rank").cast("bigint").alias("sa_rank")
    )


def _zip_lcp(wa: Column, wb: Column) -> Column:
    """Matching-prefix length of two bounded token windows: position
    of the first inequality (zip_with pads the shorter array with
    nulls, and eqNullSafe(token, null) is false, so the shorter size
    bounds the count), else min(size) when every compared slot
    matches."""
    eqs = F.zip_with(wa, wb, lambda x, y: x.eqNullSafe(y))
    first_false = F.array_position(eqs, F.lit(False))
    return F.coalesce(
        F.nullif(first_false, F.lit(0)) - 1,
        F.least(F.size(wa), F.size(wb)),
    )


def _descend_hard(
    hard: DataFrame,
    levels: list[tuple[int, DataFrame]],
    base: DataFrame,
) -> DataFrame:
    """Resolve hard pairs' LCP by radix-`_ARITY` descent over the rank
    levels.

    Largest span first. Each level streams its (checkpointed) rank
    table ONCE: the pair's probe offsets ``lcp + j·span`` for
    ``j = 0.._ARITY-2`` on both sides become 2·(ARITY−1) probe rows
    (pair id, j, doc, offset), one LEFT equi-join attaches the rank at
    each probe (an offset past the document end finds no row → null
    rank), and a groupBy over the probe rows reconstructs each pair,
    advancing its LCP by ``least(j·span, rem)`` for the longest
    CONSECUTIVE run of leading offset-equalities (eq at offset j·span
    certifies the next span tokens only when offsets 0..j−1 already
    matched — a lone deeper equality certifies nothing contiguous and
    is ignored). No join back against the hard set — each level's plan
    references the previous level ONCE, keeping the retained lineage
    LINEAR in the level count (a hard ⟕ f(hard) join-back doubles the
    plan per level: exponential plan text under the lineage-keeping
    persist cut mode). Invariant: entering the span-d level the
    undiscovered residue is < ARITY·d (the level above resolved up to
    (ARITY−1) spans of 4d… i.e. left < 4d) and the probes resolve up
    to (ARITY−1)·d, so the level leaves residue < d — the post-loop
    residue is < INIT and one bounded window-array compare finishes.
    The hard set is re-materialized per level (h rows — tiny) so every
    join plan stays shallow and AQE sees exact sizes.
    """
    for span, ranks in reversed(levels):
        probes = hard.select(
            "_pid",
            "doc_a",
            "pos_a",
            "doc_b",
            "pos_b",
            "_la",
            "_lb",
            "lcp",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.col(f"doc_{side}").alias("doc"),
                            (
                                F.col(f"pos_{side}")
                                + F.col("lcp")
                                + F.lit(j * span)
                            ).alias("off"),
                        )
                        for j in range(_ARITY - 1)
                        for side in ("a", "b")
                    ]
                )
            ).alias("_s"),
        ).select(
            "_pid", "doc_a", "pos_a", "doc_b", "pos_b", "_la", "_lb", "lcp",
            "_s.j", "_s.doc", "_s.off",
        )
        r = ranks.select(
            F.col("doc_id").alias("doc"), F.col("pos").alias("off"), "r"
        )
        # LEFT join keeps every probe row of every pair (an offset past
        # the document end finds no rank row → null r), so one groupBy
        # reconstructs the pair WITHOUT joining back against `hard` —
        # each level's plan references the previous level exactly ONCE.
        # (The earlier hard ⟕ f(hard) join-back doubled the retained
        # lineage per level: exponential plan text that OOM'd AQE's
        # plan stringifier under the lineage-keeping persist mode.)
        # m = min remaining tokens from the current match point — the
        # cap for every advance (an equality whose window crosses a
        # document end certifies only to the end, and equal keys
        # synchronize ends across the pair).
        m = (
            F.least(
                F.first("_la") - F.first("pos_a"),
                F.first("_lb") - F.first("pos_b"),
            )
            + 1
            - F.first("lcp")
        )
        eqs = []
        for j in range(_ARITY - 1):
            rj = F.when(F.col("j") == j, F.col("r"))
            eqs.append((F.count(rj) == 2) & (F.min(rj) == F.max(rj)))
        advanced = F.least(F.lit((_ARITY - 1) * span), m)
        for j in range(_ARITY - 2, -1, -1):
            advanced = F.when(eqs[j], advanced).otherwise(
                F.least(F.lit(j * span), m) if j > 0 else F.lit(0)
            )
        hard = cut(
            probes.join(r, ["doc", "off"], "left")
            .groupBy("_pid")
            .agg(
                F.first("doc_a").alias("doc_a"),
                F.first("pos_a").alias("pos_a"),
                F.first("doc_b").alias("doc_b"),
                F.first("pos_b").alias("pos_b"),
                F.first("_la").alias("_la"),
                F.first("_lb").alias("_lb"),
                (F.first("lcp") + advanced).alias("lcp"),
            )
        )
    # Residue < INIT: one window-array compare at the final offsets
    # (inner joins — an offset past a document end means the residue
    # is 0 and the pair recombines unchanged).
    tailed = hard.select(
        "_pid",
        "doc_a",
        (F.col("pos_a") + F.col("lcp")).alias("_oa"),
        "doc_b",
        (F.col("pos_b") + F.col("lcp")).alias("_ob"),
    )
    wa = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("_oa"),
        F.col("_w").alias("_wa2"),
    )
    wb = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("_ob"),
        F.col("_w").alias("_wb2"),
    )
    residues = (
        tailed.join(wa, ["doc_a", "_oa"])
        .join(wb, ["doc_b", "_ob"])
        .select("_pid", _zip_lcp(F.col("_wa2"), F.col("_wb2")).alias("_res"))
    )
    return hard.join(residues, "_pid", "left").select(
        (F.col("lcp") + F.coalesce("_res", F.lit(0))).cast("int").alias("lcp"),
        "doc_a",
        "pos_a",
        "doc_b",
        "pos_b",
    )


def longest_repeated_substrings(
    df: DataFrame, id_col: str, text_col: str, *, top: int = 10
) -> DataFrame:
    """Top-``top`` longest repeated token substrings in the corpus —
    the classic suffix-array application: in suffix order, every
    repeated substring is a prefix of two ADJACENT suffixes, so the
    maximum LCP over adjacent pairs finds the longest repeat without
    comparing all O(n²) suffix pairs.

    Pairing suffixes by consecutive sa_rank is an equi-join on rank,
    not a window; the pair rows carry both sides' INIT-token windows
    and document lengths from `_base`, so the common case — a
    mismatch inside the first INIT tokens, or full equality of a
    short suffix — resolves with one in-row array compare and ZERO
    further joins. Only "hard" pairs (first INIT tokens fully equal,
    both remainders > INIT, i.e. LCP may exceed INIT) enter the
    binary descent over the doubling rank tables (`_descend_hard`);
    when the corpus has none, the descent is skipped outright. No
    full suffix is ever materialized (the round-5 formulation sliced
    the complete token array per position: O(Σ len²) tokens in
    flight, fatal for long documents).

    Output: (lcp, doc_a, pos_a, doc_b, pos_b, repeat_preview) ordered
    by (lcp desc, doc_a, pos_a), preview = first min(lcp, 8) tokens
    of the repeated substring (joined back for the top-k rows only).
    """
    spark = df.sparkSession
    base, maxlen, levels, sa = _products(df, id_col, text_col, need_levels=True)
    if maxlen == 0:  # empty corpus
        return local_frame(
            spark,
            [],
            "lcp int, doc_a bigint, pos_a int, doc_b bigint, pos_b int,"
            " repeat_preview string",
        )
    sab = sa.join(base, ["doc_id", "pos"])
    left = sab.select(
        "sa_rank",
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        F.col("_w").alias("_wa"),
        F.col("_len").alias("_la"),
    )
    right = sab.select(
        (F.col("sa_rank") - 1).alias("sa_rank"),
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("_w").alias("_wb"),
        F.col("_len").alias("_lb"),
    )
    pairs = cut(
        left.join(right, "sa_rank").withColumn(
            "_zip", _zip_lcp(F.col("_wa"), F.col("_wb")).cast("int")
        )
    )
    # _zip == min(INIT, rem_a, rem_b) exactly when every compared slot
    # matched; that is the FINAL lcp unless both suffixes extend past
    # the compared window — i.e. both remainders strictly exceed INIT.
    hard_cond = (
        (F.col("_zip") == _INIT)
        & (F.col("_la") - F.col("pos_a") + 1 > _INIT)
        & (F.col("_lb") - F.col("pos_b") + 1 > _INIT)
    )
    easy = pairs.where(~hard_cond).select(
        F.col("_zip").alias("lcp"), "doc_a", "pos_a", "doc_b", "pos_b"
    )
    # Early exit: `pairs` is materialized, so this count is one cheap
    # bounded job — a corpus with no >INIT repeat (the common real-web
    # case after dedup) skips the descent's O(log maxlen) joins.
    if pairs.where(hard_cond).limit(1).count() == 0:
        scored = easy
    else:
        hard = cut(
            pairs.where(hard_cond).select(
                F.col("sa_rank").alias("_pid"),
                "doc_a",
                "pos_a",
                "doc_b",
                "pos_b",
                "_la",
                "_lb",
                F.lit(0).alias("lcp"),
            )
        )
        scored = easy.unionByName(_descend_hard(hard, levels, base))
    topk = (
        scored.where(F.col("lcp") >= 1)
        .orderBy(F.col("lcp").desc(), "doc_a", "pos_a")
        .limit(top)
    )
    # Preview joined back for the top-k rows only (k window rows in
    # flight, never the corpus): the INIT-token window at pos_a covers
    # the <= 8-token preview. The broadcast side is bounded by the
    # LIMIT above, not sf-proportional.
    prev = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        F.col("_w").alias("_wp"),
    )
    return (
        prev.join(F.broadcast(topk), ["doc_a", "pos_a"])
        .select(
            "lcp",
            "doc_a",
            "pos_a",
            "doc_b",
            "pos_b",
            F.array_join(
                F.slice(F.col("_wp"), 1, F.least(F.col("lcp"), F.lit(8))), " "
            ).alias("repeat_preview"),
        )
        .orderBy(F.col("lcp").desc(), "doc_a", "pos_a")
    )

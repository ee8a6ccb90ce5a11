"""Scale-engineering catalog queries — sketches, chunk-level substring
dedup, model scoring, time spines, rolling range/distinct windows,
integer PageRank, splits + mixture planning/execution, record linkage,
CDC snapshots, streaks, skyline, join preflight, data-quality audits
(referential integrity, Benford, drift, debounce), and exact-moment
statistics. Beyond-reference extensions; every entry has an exact
DuckDB oracle (arithmetic is integer, integer-scaled, or a fixed-order
double formula over exact integer sums, so there is no float
summation-order hazard anywhere in this module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from power_generation_etl_spark.operators import corpus as cp
from power_generation_etl_spark.operators import graph as gr
from power_generation_etl_spark.operators import rank as rk
from power_generation_etl_spark.operators import scoring as sc
from power_generation_etl_spark.operators import sketch as sk
from power_generation_etl_spark.plans.queries import T, _register
from power_generation_etl_spark.plans.temporal_queries import T_events_us
from power_generation_etl_spark.session import local_frame, positive_int_env

_DAY_US = 86_400_000_000

# ---------------------------------------------------------------------------
# Chunk-level substring dedup (suffix-array-dedup stand-in; Lee et al.).
# One shuffle on the chunk hash; hashes travel, chunk text does not.
# ---------------------------------------------------------------------------

_CHUNK = 20


@_register(
    "chunk_dedup_stats",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    idx AS (
        SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // {_CHUNK}))
               AS chunk_id
        FROM toks
    ),
    hashed AS (
        SELECT doc_id, chunk_id,
               md5(array_to_string(
                   t[chunk_id * {_CHUNK} + 1 : chunk_id * {_CHUNK} + {_CHUNK}], ' '
               )) AS chunk_hash
        FROM idx
    ),
    ranked AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY chunk_hash
                                  ORDER BY doc_id, chunk_id) AS rn
        FROM hashed
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cp.chunk_dedup_stats(
        T(spark, sf_dir, "documents"), "doc_id", "text", chunk=_CHUNK
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch — the engine-portable alternative to HLL.
# ---------------------------------------------------------------------------

_KMV_K = 16


@_register(
    "kmv_distinct_sources",
    sk.kmv_oracle_sql("documents", "source", "text", k=_KMV_K),
)
def kmv_distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sk.kmv_distinct(
        T(spark, sf_dir, "documents"), "source", "text", k=_KMV_K
    )


# ---------------------------------------------------------------------------
# Linear quality classifier (fasttext-shape): literal integer weight
# table broadcast against one corpus tokenization.
# ---------------------------------------------------------------------------


@_register(
    "quality_classifier_scores",
    sc.score_oracle_sql("documents", "doc_id", "text"),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sc.score_documents(spark, T(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Date-spine gap-fill: dense (day × event_type) grid with zero-filled
# counts. Day indexes are pure integer division on epoch-µs, and the
# printed date is derived from the index with timezone-free date
# arithmetic, so both engines agree in any session timezone.
# ---------------------------------------------------------------------------


@_register(
    "daily_spine_gapfill",
    f"""
    WITH ev AS (
        SELECT epoch_us(ts) // {_DAY_US} AS d, event_type FROM events
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds),
    types AS (SELECT DISTINCT event_type FROM ev),
    counts AS (
        SELECT d, event_type, CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY d, event_type
    )
    SELECT strftime(DATE '1970-01-01' + CAST(s.d AS INTEGER), '%Y-%m-%d') AS day,
           t.event_type AS event_type,
           COALESCE(c.n, 0) AS n_events
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN counts c ON c.d = s.d AND c.event_type = t.event_type
    ORDER BY 1, 2
    """,
)
def daily_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir).select(
        F.expr(f"ts_us div {_DAY_US}").cast("int").alias("d"), "event_type"
    )
    counts = ev.groupBy("d", "event_type").agg(F.count(F.lit(1)).alias("n"))
    spine = (
        ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    types = ev.select("event_type").distinct()
    # spine × types is a deliberate tiny cross join (days × event kinds);
    # both sides broadcast-size by construction.
    grid = spine.crossJoin(F.broadcast(types))
    return (
        grid.join(counts, ["d", "event_type"], "left")
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("d")), "yyyy-MM-dd"
            ).alias("day"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day per-user aggregate — a RANGE window over integer day
# indexes (value in integer cents, so the rolling sum is exact and
# engine-portable; float sliding sums differ in summation order).
# ---------------------------------------------------------------------------


@_register(
    "rolling_7d_user_value",
    f"""
    WITH ev AS (
        SELECT user_id,
               epoch_us(ts) // {_DAY_US} AS d,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    daily AS (
        SELECT user_id, d, CAST(sum(cents) AS BIGINT) AS day_cents
        FROM ev GROUP BY user_id, d
    )
    SELECT user_id,
           strftime(DATE '1970-01-01' + CAST(d AS INTEGER), '%Y-%m-%d') AS day,
           day_cents,
           CAST(sum(day_cents) OVER (
               PARTITION BY user_id ORDER BY d
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cents_7d
    FROM daily
    ORDER BY user_id, day
    """,
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir).select(
        "user_id",
        F.expr(f"ts_us div {_DAY_US}").alias("d"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    daily = ev.groupBy("user_id", "d").agg(F.sum("cents").alias("day_cents"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "day_cents",
        F.sum("day_cents").over(w).cast("bigint").alias("cents_7d"),
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# Integer PageRank over the customer-nation → supplier-nation trade
# graph (edges derived relationally from lineitem⋈orders⋈customer⋈
# supplier; only constant dims hinted — customer/supplier AQE-sized). Unrolled-CTE oracle reproduces the exact
# integer trajectory.
# ---------------------------------------------------------------------------

_PR_EDGES_SQL = """
    SELECT c.c_nationkey AS u, s.s_nationkey AS v, CAST(count(*) AS BIGINT) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY c.c_nationkey, s.s_nationkey
"""

_PR_ITERS = 3


@_register(
    "pagerank_trade_nations",
    gr.pagerank_oracle_sql(_PR_EDGES_SQL, iters=_PR_ITERS)
    + f"""
    SELECT n.n_name AS nation, r{_PR_ITERS}.r AS rank_scaled
    FROM r{_PR_ITERS}
    JOIN nation n ON r{_PR_ITERS}.id = n.n_nationkey
    ORDER BY rank_scaled DESC, nation
    """,
)
def pagerank_trade_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = gr.pagerank(edges, "u", "v", "w", iters=_PR_ITERS)
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ranks.join(F.broadcast(nation), ranks.id == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("rank_scaled"),
        )
        .orderBy(F.col("rank_scaled").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# Fuzzy record linkage: blocked Levenshtein matching over part names.
# The block key (brand) bounds the candidate set — the 100 TB shape is
# equi-join on the block + codegen edit-distance filter, never an
# all-pairs cross. Deterministic top-100 by (distance, keys).
# ---------------------------------------------------------------------------

_FUZZY_MAX_LEV = 2
_FUZZY_LIMIT = 100


def _fuzzy_name_domain_max() -> int:
    """Distinct-name-count bound for the |names|² broadcast cross.

    Part names draw from a FIXED vocabulary (64 distinct at every sf
    here; TPC-H's is a bounded color-word product), so the cross over
    the distinct-name domain is normally the cheap exact plan. But the
    domain is data-derived, not schema-guaranteed — a catalog whose
    name vocabulary grows with the catalog would turn the cross into
    an sf-proportional broadcast feeding an |names|² compare. Above
    this bound `fuzzy_part_name_pairs` switches to the brand ×
    length-band blocked equi-join (same results: output pairs must
    share p_brand anyway, and lev<=2 implies |len(a)-len(b)|<=2).
    Env-overridable so tests can force the fallback on small data.
    """
    return positive_int_env("SPARK_ETL_FUZZY_NAME_DOMAIN_MAX", 8192)


def _fuzzy_blocked_name_pairs(p: DataFrame) -> DataFrame:
    """Ordered same-brand name pairs within Levenshtein _FUZZY_MAX_LEV,
    computed per distinct (brand, name) with a length-band equi-join —
    the guarded fallback when the name domain is too large to cross.

    lev(a, b) <= k implies |len(a) - len(b)| <= k, so side A explodes
    into the 2k+1 partner lengths it can match and the join key is
    (brand, partner length): a plain shuffled equi-join that scales
    out across brands and length buckets — no broadcast of a derived
    sf-proportional table, no nested-loop join. Each ordered pair
    meets exactly once (target lengths are distinct), so no dedup is
    needed; the 3-arg levenshtein early-stops above the bound and
    returns -1, excluded by the 0 <= lev guard.
    """
    dbn = p.select("p_brand", "p_name").distinct()
    a = dbn.select(
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_a"),
        F.explode(
            F.sequence(
                F.length("p_name") - _FUZZY_MAX_LEV,
                F.length("p_name") + _FUZZY_MAX_LEV,
            )
        ).alias("_blen"),
    )
    b = dbn.select(
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_b"),
        F.length("p_name").alias("_blen"),
    )
    return (
        a.join(b, ["brand", "_blen"])
        .withColumn(
            "lev",
            F.levenshtein("name_a", "name_b", _FUZZY_MAX_LEV + 1).cast("int"),
        )
        .where((F.col("lev") >= 0) & (F.col("lev") <= _FUZZY_MAX_LEV))
        .select("brand", "name_a", "name_b", "lev")
    )


# Domain-count cache for the fuzzy guard: keyed by (SparkContext,
# sf_dir) — the corpora under an sf_dir are immutable snapshots, and a
# recreated session never sees a stale entry. Bounds the builder's
# eager work to ONE count job per corpus per session (plan-lint
# tooling builds every catalog query repeatedly).
_NAME_DOMAIN_COUNTS: dict[tuple, int] = {}


def _cached_name_domain_count(dn: DataFrame, sf_dir: str) -> int:
    sc = dn.sparkSession.sparkContext
    key = (sc.applicationId, sc.startTime, sf_dir)
    if key not in _NAME_DOMAIN_COUNTS:
        _NAME_DOMAIN_COUNTS[key] = dn.count()
    return _NAME_DOMAIN_COUNTS[key]


@_register(
    "fuzzy_part_name_pairs",
    f"""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_LEV}
    ORDER BY lev, key_a, key_b
    LIMIT {_FUZZY_LIMIT}
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILDER CONTRACT NOTE: unlike the rest of the catalog this
    builder is not fully lazy — choosing between the |names|² cross
    and the blocked fallback requires the DISTINCT NAME COUNT, one
    eager two-stage count job over part. The count is cached per
    (SparkContext, sf_dir) so plan-lint tooling and repeated
    invocations pay it once per corpus, and the returned plan is
    deterministic for a given (immutable) sf_dir."""
    p = T(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand"),
    )
    # Edit distance runs on the DISTINCT NAME DOMAIN, not on part
    # pairs (64 names vs 8M part pairs at sf0.1, measured ~6s → <1s),
    # then equi-joins expand qualifying name pairs back to
    # (brand-blocked) part pairs. The |names|² broadcast cross is
    # GUARDED by an actual domain count: above the bound it falls back
    # to the brand × length-band blocked equi-join, which never
    # broadcasts a derived sf-proportional table
    # (`_fuzzy_blocked_name_pairs`). The 3-arg levenshtein early-stops
    # above the bound and returns -1, excluded by the 0 <= lev guard.
    dn = p.select("p_name").distinct()
    if _cached_name_domain_count(dn, sf_dir) <= _fuzzy_name_domain_max():
        npairs = (
            dn.select(F.col("p_name").alias("name_a"))
            .crossJoin(F.broadcast(dn.select(F.col("p_name").alias("name_b"))))
            .withColumn(
                "lev",
                F.levenshtein("name_a", "name_b", _FUZZY_MAX_LEV + 1).cast("int"),
            )
            .where((F.col("lev") >= 0) & (F.col("lev") <= _FUZZY_MAX_LEV))
        )
        expanded = a.join(F.broadcast(npairs), "name_a").join(
            b, ["brand", "name_b"]
        )
    else:
        bpairs = _fuzzy_blocked_name_pairs(p)
        expanded = a.join(bpairs, ["brand", "name_a"]).join(
            b, ["brand", "name_b"]
        )
    return (
        expanded.where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b", "lev")
        .orderBy("lev", "key_a", "key_b")
        .limit(_FUZZY_LIMIT)
    )


# ---------------------------------------------------------------------------
# CDC latest-state snapshot: collapse an append-only change log to one
# current row per key (keep-last). One window shuffle on the key — the
# read-side MERGE equivalent for a warehouse without a transaction log.
# ---------------------------------------------------------------------------


@_register(
    "latest_order_snapshot",
    """
    WITH r AS (
        SELECT o_custkey, o_orderkey, o_orderstatus,
               strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                   AS rn
        FROM orders
    )
    SELECT o_custkey, o_orderkey, o_orderstatus, latest_orderdate
    FROM r WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def latest_order_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderstatus",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split: portable 32-bit hash of the doc
# id mod 100 → 80/10/10. The split is a pure projection (no shuffle
# beyond the report agg), reproducible across engines and runs — the
# property a training pipeline needs so re-runs never leak val docs
# into train.
# ---------------------------------------------------------------------------


@_register(
    "train_val_test_split",
    """
    WITH b AS (
        SELECT source,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 100 AS bucket,
               n_chars
        FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM b
    GROUP BY source, split
    ORDER BY source, split
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    from power_generation_etl_spark.operators.minhash import portable_hash32

    bucket = portable_hash32(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("source", split.alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .orderBy("source", "split")
    )


# ---------------------------------------------------------------------------
# Training-mixture planning (DoReMi / Pile-style): given literal target
# weights per source and a global token budget, derive each source's
# token allocation and the deterministic sampling rate (basis points)
# that achieves it. All integer arithmetic — the plan a sampler
# (deterministic hash-mod) can execute exactly.
# ---------------------------------------------------------------------------

_MIX_BUDGET = 1_000_000
# literal target mixture: first five sources are up-weighted
_MIX_PCT = {f"src{i}": (8 if i < 5 else 4) for i in range(20)}


@_register(
    "mixture_plan",
    f"""
    WITH target(source, pct) AS (VALUES {", ".join(f"('src{i}', {8 if i < 5 else 4})" for i in range(20))}),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
                   AS n_tokens
        FROM documents
        GROUP BY source
    )
    SELECT p.source AS source, n_docs, n_tokens,
           COALESCE(t.pct, 0) AS target_pct,
           ({_MIX_BUDGET} * COALESCE(t.pct, 0)) // 100 AS tokens_budgeted,
           CASE WHEN n_tokens = 0 THEN 0
                ELSE least(10000,
                           (({_MIX_BUDGET} * COALESCE(t.pct, 0)) // 100 * 10000)
                               // n_tokens)
           END AS sample_rate_bp
    FROM per_source p LEFT JOIN target t ON p.source = t.source
    ORDER BY source
    """,
)
def mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.operators import text as tx

    d = T(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.token_count(F.col("text"))).alias("n_tokens"),
    )
    target = local_frame(
        spark, sorted(_MIX_PCT.items()), schema="source string, pct long"
    )
    budgeted = F.expr(f"({_MIX_BUDGET} * coalesce(pct, 0)) div 100")
    return (
        per_source.join(F.broadcast(target), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.coalesce(F.col("pct"), F.lit(0)).cast("bigint").alias("target_pct"),
            budgeted.cast("bigint").alias("tokens_budgeted"),
            F.when(F.col("n_tokens") == 0, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(10000),
                    F.expr(
                        f"(({_MIX_BUDGET} * coalesce(pct, 0)) div 100 * 10000)"
                        " div n_tokens"
                    ),
                )
            )
            .cast("bigint")
            .alias("sample_rate_bp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cumulative unique users: the running-distinct curve, computed the
# distributed way — distinct-per-day is wrong to accumulate directly,
# so reduce each user to their FIRST day (one agg), then a cumulative
# window over the tiny per-day series.
# ---------------------------------------------------------------------------


@_register(
    "cumulative_unique_users",
    f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) // {_DAY_US} AS d FROM events
    ),
    first_seen AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY user_id),
    per_day AS (
        SELECT d0, CAST(count(*) AS BIGINT) AS n_new
        FROM first_seen GROUP BY d0
    )
    SELECT strftime(DATE '1970-01-01' + CAST(d0 AS INTEGER), '%Y-%m-%d') AS day,
           n_new,
           CAST(sum(n_new) OVER (ORDER BY d0
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM per_day
    ORDER BY day
    """,
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir).select(
        "user_id", F.expr(f"ts_us div {_DAY_US}").alias("d")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    per_day = first_seen.groupBy("d0").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d0").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Join-cardinality preflight: the EXACT output size of a key join from
# per-key counts — sum over shared keys of count_left × count_right.
# Two small aggs + one join over distinct keys instead of materializing
# the join; the sanity check to run before an expensive fact⋈fact join
# (a skewed hot key shows up here as a dominating product term).
# ---------------------------------------------------------------------------


@_register(
    "join_size_preflight",
    """
    WITH a AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c
               FROM orders GROUP BY o_orderkey),
    b AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
          FROM lineitem GROUP BY l_orderkey)
    SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS left_rows,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS right_rows,
           CAST(count(*) AS BIGINT) AS shared_keys,
           CAST(sum(a.c * b.c) AS BIGINT) AS join_rows,
           CAST(max(a.c * b.c) AS BIGINT) AS max_key_contrib
    FROM a JOIN b ON a.k = b.k
    """,
)
def join_size_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    a = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    b = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    left_rows = o.count()
    right_rows = li.count()
    return (
        a.join(b, "k")
        .agg(
            F.lit(left_rows).cast("bigint").alias("left_rows"),
            F.lit(right_rows).cast("bigint").alias("right_rows"),
            F.count(F.lit(1)).alias("shared_keys"),
            F.sum(F.expr("ca * cb")).cast("bigint").alias("join_rows"),
            F.max(F.expr("ca * cb")).cast("bigint").alias("max_key_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# Gap-and-island: per-user activity streaks. The island key is
# d - row_number() over days — constant within a run of consecutive active days —
# so streaks fall out of two window passes + one agg, no self-joins.
# ---------------------------------------------------------------------------


@_register(
    "user_activity_streaks",
    f"""
    WITH days AS (
        SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS d FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
        FROM days
    ),
    streaks AS (
        SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        T_events_us(spark, sf_dir)
        .select("user_id", F.expr(f"ts_us div {_DAY_US}").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", "d", (F.col("d") - F.row_number().over(w)).alias("island")
    )
    streaks = isl.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
            F.sum("len").alias("active_days"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline): documents not dominated on
# (maximize whitespace token count, minimize n_chars) — dominated means
# some STRICTLY shorter doc has at least as many tokens. The scale
# shape: reduce to one (n_chars → max toks) row per distinct length
# (hash agg over the corpus), run the cumulative max over that tiny
# series, and join back — the only single-partition window touches
# O(distinct lengths) rows, never the corpus.
# ---------------------------------------------------------------------------


@_register(
    "pareto_docs_frontier",
    """
    WITH m AS (
        SELECT doc_id, n_chars,
               CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS toks
        FROM documents
    ),
    per_len AS (
        SELECT n_chars, max(toks) AS mx FROM m GROUP BY n_chars
    ),
    run AS (
        SELECT n_chars,
               max(mx) OVER (ORDER BY n_chars
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS best_below
        FROM per_len
    )
    SELECT m.doc_id, m.n_chars, m.toks
    FROM m JOIN run ON m.n_chars = run.n_chars
    WHERE run.best_below IS NULL OR m.toks > run.best_below
    ORDER BY m.n_chars, m.doc_id
    """,
)
def pareto_docs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.operators import text as tx

    d = T(spark, sf_dir, "documents")
    m = d.select(
        "doc_id", "n_chars", tx.token_count(F.col("text")).alias("toks")
    )
    per_len = m.groupBy("n_chars").agg(F.max("toks").alias("mx"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    run = per_len.select(
        "n_chars", F.max("mx").over(w).alias("best_below")
    )
    return (
        m.join(F.broadcast(run), "n_chars")
        .where(
            F.col("best_below").isNull() | (F.col("toks") > F.col("best_below"))
        )
        .select("doc_id", "n_chars", "toks")
        .orderBy("n_chars", "doc_id")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day DISTINCT users — neither engine supports DISTINCT
# aggregates in window frames, so the distributed form explodes each
# active (user, day) into the 7 trailing report days it contributes to
# and hash-counts distinct users per report day. Data grows by exactly
# the window length (the standard sliding-distinct trade), and
# everything stays in codegen hash aggregates.
# ---------------------------------------------------------------------------


@_register(
    "rolling_7d_unique_users",
    f"""
    WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS d FROM events
    ),
    bounds AS (SELECT max(d) AS hi FROM ud),
    contrib AS (
        SELECT user_id, unnest(generate_series(d, d + 6)) AS rd FROM ud
    )
    SELECT strftime(DATE '1970-01-01' + CAST(rd AS INTEGER), '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users_7d
    FROM contrib, bounds
    WHERE rd <= bounds.hi
    GROUP BY rd
    ORDER BY day
    """,
)
def rolling_7d_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        T_events_us(spark, sf_dir)
        .select("user_id", F.expr(f"ts_us div {_DAY_US}").alias("d"))
        .distinct()
    )
    hi = ud.agg(F.max("d").alias("hi"))
    contrib = ud.select(
        "user_id", F.explode(F.sequence("d", F.col("d") + 6)).alias("rd")
    )
    return (
        contrib.join(F.broadcast(hi), F.col("rd") <= F.col("hi"))
        .groupBy("rd")
        .agg(F.count_distinct("user_id").alias("users_7d"))
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("rd").cast("int")),
                "yyyy-MM-dd",
            ).alias("day"),
            "users_7d",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# SCD2 state history: collapse a per-key event stream into validity
# intervals of CONSECUTIVE identical states (type-2 slowly-changing
# dimension build). Island key = row_number over all orders minus
# row_number within (key, state) — constant per consecutive run — so
# the collapse is two windows + one agg, no self-joins.
# ---------------------------------------------------------------------------


@_register(
    "order_status_history",
    """
    WITH o AS (
        SELECT o_custkey, o_orderstatus,
               strftime(o_orderdate, '%Y-%m-%d') AS od,
               o_orderkey
        FROM orders
    ),
    r AS (
        SELECT *,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY od, o_orderkey)
             - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                  ORDER BY od, o_orderkey) AS island
        FROM o
    )
    SELECT o_custkey, o_orderstatus,
           min(od) AS valid_from,
           max(od) AS valid_to,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM r
    GROUP BY o_custkey, o_orderstatus, island
    ORDER BY o_custkey, valid_from, o_orderstatus
    """,
)
def order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
        "o_orderkey",
    )
    w_all = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    w_st = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "od", "o_orderkey"
    )
    r = o.withColumn(
        "island", F.row_number().over(w_all) - F.row_number().over(w_st)
    )
    return (
        r.groupBy("o_custkey", "o_orderstatus", "island")
        .agg(
            F.min("od").alias("valid_from"),
            F.max("od").alias("valid_to"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .drop("island")
        .orderBy("o_custkey", "valid_from", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Sequence mining: top event trigram paths per user ordering — two
# window leads inside one (user) shuffle, then a plain hash count.
# The k-gram generalization of the first-order transition matrix.
# ---------------------------------------------------------------------------


@_register(
    "top_event_trigrams",
    """
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
    ),
    g AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id) AS e2,
               lead(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id) AS e3
        FROM ev
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
    FROM g
    WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3
    LIMIT 25
    """,
)
def top_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir).select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        g.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "e1", "e2", "e3")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Ratio-to-report: each nation's share of its region's revenue — the
# percent-of-total window pattern. Sums are exact integer cents; the
# share divides two bigints with one fixed operation order, which is
# engine-portable (same doubles in, same double out).
# ---------------------------------------------------------------------------


@_register(
    "nation_revenue_share",
    """
    WITH rev AS (
        SELECT n.n_name AS nation, r.r_name AS region,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name, r.r_name
    )
    SELECT region, nation, cents,
           round(cents * 1.0 / CAST(sum(cents) OVER (PARTITION BY region)
                                    AS BIGINT), 6) AS region_share
    FROM rev
    ORDER BY region, nation
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint").alias("cents"),
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = T(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        "cents",
        F.round(
            F.col("cents") * F.lit(1.0) / F.sum("cents").over(w).cast("bigint"), 6
        ).alias("region_share"),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# Referential-integrity audit: orphan counts across every FK edge in
# one pass of anti-join aggregates — the warehouse data-quality gate
# (generalizes the reference's crosswalk drift check to the whole
# schema). Each count is a LeftAnti join shuffling only key columns.
# ---------------------------------------------------------------------------


@_register(
    "referential_integrity_audit",
    """
    SELECT
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
          AS lineitem_orphans,
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
          AS order_orphans,
      CAST((SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
          AS customer_orphans,
      CAST((SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT)
          AS supplier_orphans
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey")

    def orphans(child, key, parent, pkey):
        return child.join(
            parent, child[key] == parent[pkey], "left_anti"
        ).count()

    rows = [
        (
            orphans(li, "l_orderkey", o, "o_orderkey"),
            orphans(o, "o_custkey", c, "c_custkey"),
            orphans(c, "c_nationkey", n, "n_nationkey"),
            orphans(s, "s_nationkey", n, "n_nationkey"),
        )
    ]
    return local_frame(
        spark,
        rows,
        "lineitem_orphans long, order_orphans long, "
        "customer_orphans long, supplier_orphans long",
    )


# ---------------------------------------------------------------------------
# Benford first-digit distribution — the classic bookkeeping-fraud
# screen. First digit via string head of the integer part; counts are
# exact, the expected-share comparison lives with the analyst.
# ---------------------------------------------------------------------------


@_register(
    "benford_first_digit",
    """
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                AS INTEGER) AS digit,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    WHERE o_totalprice >= 1
    GROUP BY digit
    ORDER BY digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    digit = (
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
    ).cast("int")
    return (
        o.where(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation: top-3 priciest items per order as one
# CSV cell (string_agg ORDER BY ↔ array_sort(collect_list(struct)) —
# the collect_list is unordered by contract, so the sort key rides
# inside the struct and the order is imposed AFTER collection).
# ---------------------------------------------------------------------------


@_register(
    "order_top3_items_csv",
    """
    WITH ranked AS (
        SELECT l_orderkey, l_partkey,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_extendedprice DESC, l_partkey)
                   AS rn
        FROM lineitem
    )
    SELECT l_orderkey,
           string_agg(CAST(l_partkey AS VARCHAR), ','
                      ORDER BY cents DESC, l_partkey) AS top_parts
    FROM ranked
    WHERE rn <= 3
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    LIMIT 1000
    """,
)
def order_top3_items_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_extendedprice",
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), "l_partkey"
    )
    ranked = li.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    # order key rides inside the struct: (-cents, partkey) sorts price
    # DESC then key ASC under array_sort's natural struct ordering.
    agg = ranked.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("cents")).alias("neg"),
                            F.col("l_partkey").alias("pk"),
                        )
                    )
                ),
                lambda s: s.pk.cast("string"),
            ),
            ",",
        ).alias("top_parts")
    )
    return agg.orderBy("l_orderkey").limit(1000)


# ---------------------------------------------------------------------------
# Debounce / throttle: drop events repeating the same (user, type)
# within a cooldown window — keep an event iff the previous same-key
# event is at least GAP older (or absent). One lag window; the
# time-based sibling of key-based dedup.
# ---------------------------------------------------------------------------

_DEBOUNCE_US = 30 * 60 * 1_000_000


@_register(
    "debounced_event_counts",
    f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
    ),
    lagged AS (
        SELECT event_type, ts_us,
               lag(ts_us) OVER (PARTITION BY user_id, event_type
                                ORDER BY ts_us, event_id) AS prev_us
        FROM ev
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(sum(CASE WHEN prev_us IS NULL
                          OR ts_us - prev_us >= {_DEBOUNCE_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced
    FROM lagged
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def debounced_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir).select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    lagged = ev.select(
        "event_type",
        "ts_us",
        F.lag("ts_us").over(w).alias("prev_us"),
    )
    keep = F.col("prev_us").isNull() | (
        F.col("ts_us") - F.col("prev_us") >= _DEBOUNCE_US
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_debounced"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Distribution drift between two corpus slices with EXACT integer
# arithmetic: scaled L1 distance Σ|c_A·t_B − c_B·t_A| over the `lang`
# categorical — cross-multiplying replaces the usual float shares, so
# the drift score is engine-exact (PSI's ln() would not be). Two hash
# aggs + one full-outer join on the category.
# ---------------------------------------------------------------------------


@_register(
    "lang_distribution_drift",
    """
    WITH a AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS c
        FROM documents WHERE source IN ('src0','src1','src2','src3','src4')
        GROUP BY lang
    ),
    b AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS c
        FROM documents WHERE source NOT IN ('src0','src1','src2','src3','src4')
        GROUP BY lang
    ),
    t AS (SELECT (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) FROM a) AS ta,
                 (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) FROM b) AS tb)
    SELECT COALESCE(a.lang, b.lang) AS lang,
           COALESCE(a.c, 0) AS n_a,
           COALESCE(b.c, 0) AS n_b,
           abs(COALESCE(a.c, 0) * t.tb - COALESCE(b.c, 0) * t.ta) AS drift_x
    FROM a FULL OUTER JOIN b ON a.lang = b.lang
    CROSS JOIN t
    ORDER BY lang
    """,
)
def lang_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    head = ["src0", "src1", "src2", "src3", "src4"]
    a = (
        d.where(F.col("source").isin(head))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        d.where(~F.col("source").isin(head))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    ta = a.agg(F.coalesce(F.sum("ca"), F.lit(0)).alias("ta"))
    tb = b.agg(F.coalesce(F.sum("cb"), F.lit(0)).alias("tb"))
    joined = (
        a.join(b, "lang", "full_outer")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    na = F.coalesce(F.col("ca"), F.lit(0)).cast("bigint")
    nb = F.coalesce(F.col("cb"), F.lit(0)).cast("bigint")
    return joined.select(
        "lang",
        na.alias("n_a"),
        nb.alias("n_b"),
        F.abs(na * F.col("tb") - nb * F.col("ta")).cast("bigint").alias("drift_x"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Mixture-plan EXECUTION: apply the integer sampling rates from
# `mixture_plan` with the deterministic hash-mod sampler and report
# what the sampled corpus actually contains — plan and execution share
# the same exact arithmetic, so the achieved token counts are
# reproducible to the row.
# ---------------------------------------------------------------------------


@_register(
    "mixture_sampled_docs",
    f"""
    WITH target(source, pct) AS (VALUES {", ".join(f"('src{i}', {8 if i < 5 else 4})" for i in range(20))}),
    per_source AS (
        SELECT source,
               CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
                   AS n_tokens
        FROM documents
        GROUP BY source
    ),
    rates AS (
        SELECT p.source,
               CASE WHEN n_tokens = 0 THEN 0
                    ELSE least(10000,
                               (({_MIX_BUDGET} * COALESCE(t.pct, 0)) // 100 * 10000)
                                   // n_tokens)
               END AS rate_bp
        FROM per_source p LEFT JOIN target t ON p.source = t.source
    ),
    sampled AS (
        SELECT d.source, d.doc_id,
               CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS toks
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  % 10000 < r.rate_bp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(COALESCE(sum(toks), 0) AS BIGINT) AS tokens_sampled
    FROM sampled
    GROUP BY source
    ORDER BY source
    """,
)
def mixture_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.operators import text as tx
    from power_generation_etl_spark.operators.minhash import portable_hash32

    d = T(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(tx.token_count(F.col("text"))).alias("n_tokens")
    )
    target = local_frame(
        spark, sorted(_MIX_PCT.items()), schema="source string, pct long"
    )
    rates = (
        per_source.join(F.broadcast(target), "source", "left")
        .select(
            "source",
            F.when(F.col("n_tokens") == 0, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(10000),
                    F.expr(
                        f"(({_MIX_BUDGET} * coalesce(pct, 0)) div 100 * 10000)"
                        " div n_tokens"
                    ),
                )
            )
            .alias("rate_bp"),
        )
    )
    sampled = (
        d.join(F.broadcast(rates), "source")
        .where(
            portable_hash32(F.col("doc_id").cast("string")) % 10000
            < F.col("rate_bp")
        )
        .select("source", tx.token_count(F.col("text")).alias("toks"))
    )
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.coalesce(F.sum("toks"), F.lit(0)).cast("bigint").alias("tokens_sampled"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Statistics: Pearson correlation + OLS slope/intercept of order price
# (TENS of dollars — x ≤ 5e4 keeps sum(x·x) under int64 to ~1e8 orders,
# i.e. sf100; dollars would overflow Spark's silently-wrapping bigint
# sum near sf10 while DuckDB's HUGEINT path raised) vs item count. All
# moment sums are EXACT bigints (map-side-combinable); the final
# r/slope arithmetic runs the same fixed sequence of double ops in both
# engines on those identical integers, so the floats agree bit-for-bit
# — no streaming-variance summation-order hazard.
# ---------------------------------------------------------------------------


@_register(
    "price_itemcount_regression",
    """
    WITH it AS (
        SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS y
        FROM lineitem GROUP BY l_orderkey
    ),
    xy AS (
        SELECT CAST(floor(o.o_totalprice / 10) AS BIGINT) AS x, it.y
        FROM orders o JOIN it ON o.o_orderkey = it.k
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM xy
    ),
    d AS (
        SELECT n, sx, sy,
               CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,
               CAST(sy AS DOUBLE) AS dsy, CAST(sxy AS DOUBLE) AS dsxy,
               CAST(sxx AS DOUBLE) AS dsxx, CAST(syy AS DOUBLE) AS dsyy
        FROM s
    )
    SELECT n, sx, sy,
           round((dn * dsxy - dsx * dsy)
                 / sqrt((dn * dsxx - dsx * dsx)
                        * (dn * dsyy - dsy * dsy)), 6) AS pearson_r,
           round((dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx), 9) AS slope,
           round((dsy / dn)
                 - ((dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx))
                   * (dsx / dn), 6) AS intercept
    FROM d
    """,
)
def price_itemcount_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    it = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("y")
    )
    xy = o.join(it, o.o_orderkey == it.k).select(
        F.floor(F.col("o_totalprice") / 10).cast("bigint").alias("x"), "y"
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    # IEEE doubles from here down — NEVER bare `1.0` literals (Spark
    # types those DECIMAL and silently switches the whole formula to
    # precision-losing decimal arithmetic)
    d = s.select(
        "n", "sx", "sy",
        *[F.col(c).cast("double").alias("d" + c)
          for c in ("n", "sx", "sy", "sxy", "sxx", "syy")],
    )
    num = F.expr("dn * dsxy - dsx * dsy")
    varx = F.expr("dn * dsxx - dsx * dsx")
    vary = F.expr("dn * dsyy - dsy * dsy")
    slope = num / varx
    return d.select(
        "n",
        "sx",
        "sy",
        F.round(num / F.sqrt(varx * vary), 6).alias("pearson_r"),
        F.round(slope, 9).alias("slope"),
        F.round(
            F.expr("dsy / dn") - slope * F.expr("dsx / dn"), 6
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Feature scaling: per-group min-max normalization. Group stats come
# from a full-group aggregate joined back to a deterministic row
# sample (hash-mod, keeps output bounded); min/max pass through with
# no arithmetic and the normalized ratio is one fixed-order double op,
# NULL-guarded for constant groups in both engines.
# ---------------------------------------------------------------------------


@_register(
    "event_value_minmax_norm",
    """
    WITH stats AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(CASE WHEN s.hi = s.lo THEN NULL
                      ELSE (e.value - s.lo) / (s.hi - s.lo) END, 6)
               AS value_norm
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE e.event_id % 100 = 0
    ORDER BY e.event_id
    """,
)
def event_value_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    return (
        ev.where(F.col("event_id") % 100 == 0)
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                F.when(F.col("hi") == F.col("lo"), F.lit(None)).otherwise(
                    (F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo"))
                ),
                6,
            ).alias("value_norm"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs bought together in one
# order. The self-join is keyed on the ORDER (a natural blocking key —
# baskets are small), so pair volume is Σ basket², never catalog²;
# the classic retail/recsys co-occurrence matrix.
# ---------------------------------------------------------------------------


@_register(
    "frequent_part_pairs",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM b a JOIN b c
      ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 25
    """,
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        T(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    c = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(c, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Activity heatmap: weekday × hour event counts from pure integer
# arithmetic on epoch-µs (1970-01-01 was a Thursday = weekday 3 with
# Monday = 0, so weekday = (epoch_day + 3) % 7) — timezone-free in any
# session.
# ---------------------------------------------------------------------------


@_register(
    "weekday_hour_heatmap",
    f"""
    WITH ev AS (
        SELECT epoch_us(ts) AS us FROM events
    )
    SELECT CAST((us // {_DAY_US} + 3) % 7 AS INTEGER) AS weekday,
           CAST((us % {_DAY_US}) // 3600000000 AS INTEGER) AS hour,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ev
    GROUP BY weekday, hour
    ORDER BY weekday, hour
    """,
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir)
    return (
        ev.select(
            F.expr(f"cast((ts_us div {_DAY_US} + 3) % 7 as int)").alias("weekday"),
            F.expr(f"cast((ts_us % {_DAY_US}) div 3600000000 as int)").alias("hour"),
        )
        .groupBy("weekday", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("weekday", "hour")
    )


# ---------------------------------------------------------------------------
# Robust outliers via median absolute deviation (MAD). Values are
# doubled integer cents so every median of an even-count group is an
# exact integer (no interpolation fraction) — medians, deviations, and
# the 3σ-equivalent threshold (|x−med| > 3·1.4826·MAD, scaled to the
# integer inequality ad·10000 > 44478·MAD) are all engine-portable
# integer arithmetic. Two grouped medians + one broadcast join back.
# ---------------------------------------------------------------------------


@_register(
    "mad_value_outliers",
    """
    WITH ev AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) * 2 AS c2
        FROM events WHERE value IS NOT NULL
    ),
    med AS (
        SELECT event_type, CAST(median(c2) AS BIGINT) AS med2
        FROM ev GROUP BY event_type
    ),
    dev AS (
        SELECT ev.event_type, abs(c2 - med2) AS ad
        FROM ev JOIN med USING (event_type)
    ),
    madt AS (
        SELECT event_type, CAST(median(ad) AS BIGINT) AS mad2
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           m.med2, t.mad2,
           CAST(count(*) FILTER (ad * 10000 > 44478 * mad2) AS BIGINT)
               AS n_outliers
    FROM dev d
    JOIN med m ON d.event_type = m.event_type
    JOIN madt t ON d.event_type = t.event_type
    GROUP BY d.event_type, m.med2, t.mad2
    ORDER BY d.event_type
    """,
)
def mad_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.expr("CAST(floor(value * 100) AS BIGINT)") * 2).alias("c2"),
        )
    )
    med = ev.groupBy("event_type").agg(
        F.median("c2").cast("bigint").alias("med2")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("c2") - F.col("med2")).alias("ad")
    )
    madt = dev.groupBy("event_type").agg(
        F.median("ad").cast("bigint").alias("mad2")
    )
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(madt), "event_type")
        .groupBy("event_type", "med2", "mad2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("ad") * 10000 > 44478 * F.col("mad2")).alias(
                "n_outliers"
            ),
        )
        .select("event_type", "n", "med2", "mad2", "n_outliers")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Chi-square independence test: event_type × weekday contingency table.
# Cell counts / marginals are exact bigints; the per-cell statistic is
# a FIXED-ORDER double formula truncated to 6dp per cell
# (floor((diff²/ (N·R·C)) · 1e6)) and then SUMMED AS INTEGERS — float
# summation-order nondeterminism cannot touch the result, and DuckDB's
# round-on-cast is bypassed with an explicit floor. Marginal products
# stay in int64 up to ~1e9 input rows (N²·cell bound documented).
# ---------------------------------------------------------------------------


@_register(
    "chi_square_type_weekday",
    f"""
    WITH ev AS (
        SELECT event_type, (epoch_us(ts) // {_DAY_US}) % 7 AS wd FROM events
    ),
    cells AS (
        SELECT event_type, wd, CAST(count(*) AS BIGINT) AS o
        FROM ev GROUP BY event_type, wd
    ),
    rows_m AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells
        GROUP BY event_type
    ),
    cols_m AS (SELECT wd, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY wd),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    terms AS (
        SELECT CAST(floor(
                   (CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
                    / CAST(n * r * c AS DOUBLE)) * 1000000.0
               ) AS BIGINT) AS term_e6
        FROM cells
        JOIN rows_m ON cells.event_type = rows_m.event_type
        JOIN cols_m ON cells.wd = cols_m.wd
        CROSS JOIN tot
    )
    SELECT CAST(sum(term_e6) AS BIGINT) AS chi2_e6,
           CAST((SELECT (count(DISTINCT event_type) - 1) FROM cells)
                * (SELECT (count(DISTINCT wd) - 1) FROM cells) AS BIGINT) AS dof
    FROM terms
    """,
)
def chi_square_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir).select(
        "event_type", (F.expr(f"ts_us div {_DAY_US}") % 7).alias("wd")
    )
    cells = ev.groupBy("event_type", "wd").agg(F.count(F.lit(1)).alias("o"))
    rows_m = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    cols_m = cells.groupBy("wd").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(F.sum("o").cast("bigint").alias("n"))
    terms = (
        cells.join(F.broadcast(rows_m), "event_type")
        .join(F.broadcast(cols_m), "wd")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(floor((CAST(o * n - r * c AS DOUBLE)"
                " * CAST(o * n - r * c AS DOUBLE)"
                " / CAST(n * r * c AS DOUBLE)) * 1000000.0D) AS BIGINT)"
            ).alias("term_e6")
        )
    )
    dims = cells.agg(
        (
            (F.count_distinct("event_type") - 1) * (F.count_distinct("wd") - 1)
        )
        .cast("bigint")
        .alias("dof")
    )
    return terms.agg(F.sum("term_e6").cast("bigint").alias("chi2_e6")).crossJoin(
        F.broadcast(dims)
    )


# ---------------------------------------------------------------------------
# Bounded-depth BFS: nations within 3 hops of nation 0 over the trade
# graph sparsified to its top-30%-heaviest edges (rank-based, so the
# cut is scale-free — an absolute weight threshold would keep a
# different fraction at every SF). Each hop is one frontier⋈edges
# equi-join + distinct; the oracle unrolls the 3 steps as CTEs.
# ---------------------------------------------------------------------------

_KHOP_K = 3
_KHOP_SRC = 0


@_register(
    "khop_trade_nations",
    f"""
    WITH e AS (
        SELECT c.c_nationkey AS u, s.s_nationkey AS v,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY c.c_nationkey, s.s_nationkey
    ),
    ranked AS (
        SELECT u, v, row_number() OVER (ORDER BY w DESC, u, v) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS ne
        FROM e
    ),
    kept AS (SELECT u, v FROM ranked WHERE rn * 10 <= ne * 3),
    h1 AS (SELECT DISTINCT v FROM kept WHERE u = {_KHOP_SRC}),
    h2 AS (SELECT DISTINCT k.v FROM kept k JOIN h1 ON k.u = h1.v),
    h3 AS (SELECT DISTINCT k.v FROM kept k JOIN h2 ON k.u = h2.v),
    hops AS (
        SELECT v, 1 AS hop FROM h1
        UNION ALL SELECT v, 2 FROM h2
        UNION ALL SELECT v, 3 FROM h3
    ),
    mh AS (
        SELECT v, CAST(min(hop) AS INTEGER) AS min_hops
        FROM hops WHERE v <> {_KHOP_SRC} GROUP BY v
    )
    SELECT n.n_name AS nation, min_hops
    FROM mh JOIN nation n ON mh.v = n.n_nationkey
    ORDER BY min_hops, nation
    """,
)
def khop_trade_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wspec = Window.orderBy(F.desc("w"), "u", "v")
    ranked = e.withColumn("rn", F.row_number().over(wspec)).withColumn(
        "ne", F.count(F.lit(1)).over(Window.partitionBy())
    )
    kept = ranked.where(F.col("rn") * 10 <= F.col("ne") * 3).select("u", "v")
    mh = gr.khop_min_hops(kept, "u", "v", source_id=_KHOP_SRC, k=_KHOP_K)
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        mh.join(F.broadcast(nation), mh.id == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), "min_hops")
        .orderBy("min_hops", "nation")
    )


# ---------------------------------------------------------------------------
# RFM segmentation: recency / frequency / monetary quartile codes per
# customer — the classic CRM segmentation, expressed as three ntile
# windows over integer measures (epoch-day recency, order counts,
# total cents) with deterministic (measure, key) tie-breaks so the
# quartile assignment is identical in both engines. One aggregation +
# three windows over the same (global) ordering domain; the segment
# distribution output is 64 rows max at any scale.
# ---------------------------------------------------------------------------


@_register(
    "rfm_customer_segments",
    """
    WITH o AS (
        SELECT o_custkey AS c,
               max(epoch(o_orderdate)) // 86400 AS last_day,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT c,
               ntile(4) OVER (ORDER BY last_day DESC, c) AS r,
               ntile(4) OVER (ORDER BY freq DESC, c) AS f,
               ntile(4) OVER (ORDER BY cents DESC, c) AS m
        FROM o
    )
    SELECT r, f, m,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of customers by their orders: recency
    (latest order epoch-day), frequency (order count), monetary (total
    integer cents); quartile 1 = best. Output: customer count per
    (r,f,m) cell. Each quartile is `ntile_of_rank` over the distributed
    two-pass rank (operators/rank.py) — three range-partitioned sorts
    instead of three single-partition ntile windows, since per-customer
    aggregates are still billions of rows at 100 TB. Assignment is
    bit-identical to the window form."""
    o = T(spark, sf_dir, "orders").groupBy(F.col("o_custkey").alias("c")).agg(
        F.expr("max(unix_date(CAST(o_orderdate AS DATE)))")
        .cast("bigint")
        .alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
    )
    scored = o
    for col, out in (("last_day", "r"), ("freq", "f"), ("cents", "m")):
        scored = rk.with_global_rank(
            scored, [F.desc(col), F.col("c")], rank_col="_rk", total_col="_t"
        ).withColumn(
            out, rk.ntile_of_rank(F.col("_rk"), F.col("_t"), 4)
        ).drop("_rk", "_t")
    scored = scored.select("c", "r", "f", "m")
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r", "f", "m")
    )


# ---------------------------------------------------------------------------
# Global prefix sum at scale: cumulative order value over the full
# (o_orderdate, o_orderkey) order. A plain `sum() OVER (ORDER BY ...)`
# moves every order through ONE task; operators/rank.py's
# with_running_sum computes the identical bigint prefix in two
# distributed passes (range-partitioned sort + driver-prefix-summed
# per-partition totals). Integer cents make the prefix exact — float
# prefix sums would depend on partition boundaries.
# ---------------------------------------------------------------------------


@_register(
    "running_order_value",
    """
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                OVER (ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS running_cents
    FROM orders
    ORDER BY o_orderkey
    """,
)
def running_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    run = rk.with_running_sum(
        o,
        [F.col("o_orderdate"), F.col("o_orderkey")],
        F.col("cents"),
        out_col="running_cents",
    )
    return run.select("o_orderkey", "cents", "running_cents").orderBy(
        "o_orderkey"
    )


# ---------------------------------------------------------------------------
# Exact discrete deciles by distributed quickselect
# (operators/selection.py): histogram-refinement passes whose shuffles
# carry only (interval, cell, count) rows — never a sort of the data.
# The complement of `equi_depth_order_values` (which materializes the
# full bucket assignment via the two-pass rank): when only the
# BOUNDARIES are wanted, selection is 3-4 aggregation scans vs a
# cluster-wide sort shuffle. The oracle is the positional definition:
# value at ascending rank ceil(tile·n/10).
# ---------------------------------------------------------------------------


@_register(
    "order_value_exact_deciles",
    """
    WITH o AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM o),
    n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM o),
    t AS (SELECT CAST(v.tile AS BIGINT) AS tile
          FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS v(tile))
    SELECT t.tile AS tile, r.cents AS value
    FROM t CROSS JOIN n JOIN r ON r.rn = (t.tile * n.c + 9) // 10
    ORDER BY tile
    """,
)
def order_value_exact_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.operators import selection as sel

    o = T(spark, sf_dir, "orders").select(
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    return sel.exact_deciles(o, "cents", n_tiles=10)


# ---------------------------------------------------------------------------
# Exact triangle count of the nation trade graph — degree-orientation
# node-iterator (operators/graph.py::triangle_count): orienting edges
# from the (degree, id)-smaller endpoint bounds the wedge join by
# O(m^1.5) regardless of hub skew; the oracle unrolls the same
# orientation in SQL. Two shuffles: wedges on node, closure on pair.
# ---------------------------------------------------------------------------


@_register(
    "triangle_count_trade",
    """
    WITH e AS (
        SELECT DISTINCT c.c_nationkey AS u, s.s_nationkey AS v
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    e0 AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM e WHERE u <> v
    ),
    deg AS (
        SELECT id, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0)
        GROUP BY id
    ),
    o AS (
        SELECT CASE WHEN da.c < db.c OR (da.c = db.c AND e0.a < e0.b)
                    THEN e0.a ELSE e0.b END AS x,
               CASE WHEN da.c < db.c OR (da.c = db.c AND e0.a < e0.b)
                    THEN e0.b ELSE e0.a END AS y
        FROM e0
        JOIN deg da ON da.id = e0.a
        JOIN deg db ON db.id = e0.b
    ),
    w AS (
        SELECT o1.y AS w1, o2.y AS w2
        FROM o o1 JOIN o o2 ON o1.x = o2.x AND o1.y <> o2.y
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM w JOIN o ON o.x = w.w1 AND o.y = w.w2
    """,
)
def triangle_count_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .distinct()
    )
    return gr.triangle_count(e, "u", "v")


# ---------------------------------------------------------------------------
# k-core of the part–supplier bipartite graph (supplier ids offset to
# disjoint the id spaces): iterative peeling, one degree agg + one
# semi-join filter per round (operators/graph.py::kcore). The oracle
# unrolls the same peeling a fixed 12 rounds — idempotent once the
# fixpoint is reached, so early Spark convergence matches exactly.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 12
_SUPP_OFFSET = 1_000_000


def _kcore_oracle() -> str:
    parts = [
        f"""e0 AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS a, l_suppkey + {_SUPP_OFFSET} AS b
        FROM lineitem
    )"""
    ]
    for i in range(_KCORE_ROUNDS):
        parts.append(
            f"""d{i} AS MATERIALIZED (
        SELECT id, count(*) AS c
        FROM (SELECT a AS id FROM e{i} UNION ALL SELECT b AS id FROM e{i})
        GROUP BY id
    ),
    e{i + 1} AS MATERIALIZED (
        SELECT a, b FROM e{i}
        WHERE a IN (SELECT id FROM d{i} WHERE c >= {_KCORE_K})
          AND b IN (SELECT id FROM d{i} WHERE c >= {_KCORE_K})
    )"""
        )
    last = f"e{_KCORE_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT id, CAST(count(*) AS BIGINT) AS core_degree
    FROM (SELECT a AS id FROM {last} UNION ALL SELECT b AS id FROM {last})
    GROUP BY id
    HAVING count(*) >= {_KCORE_K}
    ORDER BY id
    """
    )


@_register("kcore_part_suppliers", _kcore_oracle())
def kcore_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("u"),
        (F.col("l_suppkey") + _SUPP_OFFSET).alias("v"),
    )
    return gr.kcore(
        li, "u", "v", k=_KCORE_K, max_rounds=_KCORE_ROUNDS
    ).orderBy("id")


# ---------------------------------------------------------------------------
# Label-propagation communities over the part–supplier bipartite graph:
# fixed-round synchronous sweeps with a deterministic (count DESC,
# label ASC) mode tie-break (operators/graph.py::label_propagation).
# The oracle unrolls the identical trajectory round by round as
# MATERIALIZED CTEs. Output: community size distribution.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    parts = [
        f"""e AS MATERIALIZED (
        SELECT DISTINCT least(l_partkey, l_suppkey + {_SUPP_OFFSET}) AS a,
               greatest(l_partkey, l_suppkey + {_SUPP_OFFSET}) AS b
        FROM lineitem
    ),
    nodes AS MATERIALIZED (
        SELECT DISTINCT id
        FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
    ),
    l0 AS MATERIALIZED (SELECT id, id AS lab FROM nodes)"""
    ]
    for i in range(_LPA_ROUNDS):
        parts.append(
            f"""n{i} AS MATERIALIZED (
        SELECT e.a AS id, l.lab FROM e JOIN l{i} l ON l.id = e.b
        UNION ALL
        SELECT e.b AS id, l.lab FROM e JOIN l{i} l ON l.id = e.a
    ),
    m{i} AS MATERIALIZED (
        SELECT id, lab FROM (
            SELECT id, lab,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY count(*) DESC, lab) AS rn
            FROM n{i} GROUP BY id, lab
        ) WHERE rn = 1
    ),
    l{i + 1} AS MATERIALIZED (
        SELECT nodes.id, COALESCE(m{i}.lab, l{i}.lab) AS lab
        FROM nodes
        JOIN l{i} ON l{i}.id = nodes.id
        LEFT JOIN m{i} ON m{i}.id = nodes.id
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_nodes
    FROM l{_LPA_ROUNDS}
    GROUP BY lab
    ORDER BY n_nodes DESC, community
    """
    )


@_register("lpa_communities", _lpa_oracle())
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("u"),
        (F.col("l_suppkey") + _SUPP_OFFSET).alias("v"),
    )
    labels = gr.label_propagation(li, "u", "v", rounds=_LPA_ROUNDS)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "community")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint screen over daily per-type volumes. The clamped
# recurrence S_i = max(0, S_{i-1} + d_i) has the closed form
# S_i = P_i - min(0, min_{j<=i} P_j) (P = prefix sum of drifts), so it
# computes as two windows over the per-type daily series — no
# iterative recurrence. Drift is scale-free exact integer:
# d_i = x_i·n_days - total (zero-mean by construction), so S stays
# bigint and engine-identical. Output: the peak CUSUM day per type —
# where sustained above-mean volume accumulated most.
# ---------------------------------------------------------------------------


@_register(
    "cusum_peak_days",
    f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    st AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(x) AS BIGINT) AS tot
        FROM daily GROUP BY 1
    ),
    p AS (
        SELECT d.event_type, d.day,
               CAST(sum(d.x * st.nd - st.tot)
                    OVER (PARTITION BY d.event_type ORDER BY d.day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS pf
        FROM daily d JOIN st ON st.event_type = d.event_type
    ),
    s AS (
        SELECT event_type, day,
               pf - least(CAST(0 AS BIGINT),
                          min(pf) OVER (PARTITION BY event_type ORDER BY day
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW)) AS cusum
        FROM p
    )
    SELECT event_type, day AS peak_day, CAST(cusum AS BIGINT) AS cusum
    FROM (
        SELECT event_type, day, cusum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cusum DESC, day) AS rn
        FROM s
    )
    WHERE rn = 1
    ORDER BY event_type
    """,
)
def cusum_peak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir)
    daily = (
        ev.groupBy(
            "event_type", F.expr(f"ts_us div {_DAY_US}").alias("day")
        ).agg(F.count(F.lit(1)).alias("x"))
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("x").cast("bigint").alias("tot")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = daily.join(st, "event_type").select(
        "event_type",
        "day",
        F.sum(F.col("x") * F.col("nd") - F.col("tot"))
        .over(w_cum)
        .cast("bigint")
        .alias("pf"),
    )
    s = p.select(
        "event_type",
        "day",
        (
            F.col("pf")
            - F.least(F.lit(0).cast("bigint"), F.min("pf").over(w_cum))
        ).alias("cusum"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(F.desc("cusum"), "day")
    return (
        s.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("peak_day"),
            F.col("cusum").cast("bigint").alias("cusum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer spend — inequality of revenue
# concentration. Needs every customer's ascending spend RANK, i.e. a
# global row-scale ranking: runs on operators/rank.py's two-pass rank
# (no single-partition window). The statistic is computed in exact
# integer cents: G = (2·Σ(rank·x) − (n+1)·Σx) / (n·Σx), emitted as
# parts-per-million by truncating integer division.
# ---------------------------------------------------------------------------


@_register(
    "customer_spend_gini",
    """
    WITH s AS (
        SELECT o_custkey AS c,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, c) AS BIGINT) AS rk
        FROM s
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS tot,
               CAST(sum(rk * cents) AS BIGINT) AS rx
        FROM r
    ),
    ab AS (
        SELECT n, tot,
               CAST(2 * rx - (n + 1) * tot AS BIGINT) AS a,
               CAST(n * tot AS BIGINT) AS b
        FROM g
    ),
    s1 AS (SELECT n, tot, b, a * 100 // b AS q1, a * 100 % b AS r1 FROM ab),
    s2 AS (SELECT n, tot, b, q1, r1 * 100 // b AS q2, r1 * 100 % b AS r2
           FROM s1)
    SELECT n AS n_customers, tot AS total_cents,
           CAST(q1 * 10000 + q2 * 100 + r2 * 100 // b AS BIGINT) AS gini_ppm
    FROM s2
    """,
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    r = rk.with_global_rank(s, [F.col("cents"), F.col("c")], rank_col="rk")
    return (
        r.agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.sum(F.col("rk") * F.col("cents")).cast("bigint").alias("_rx"),
        )
        # floor(a*1e6/b) in three ×100 long-division stages so no
        # intermediate exceeds int64 under ANSI: a ≤ b = n·Σcents
        # (~3.4e16 at sf0.1), and each stage multiplies a remainder
        # < b by only 100 (valid to b ≤ 9.2e16, i.e. ~sf3 of cents —
        # beyond that the statistic moves to DECIMAL(38) arithmetic).
        # DuckDB runs the identical staged division (its int64 multiply
        # overflow-ERRORS rather than widening, same constraint).
        .withColumn(
            "_a",
            F.expr("2 * _rx - (n_customers + 1) * total_cents"),
        )
        .withColumn("_b", F.expr("n_customers * total_cents"))
        .withColumn("_q1", F.expr("_a * 100 div _b"))
        .withColumn("_r1", F.expr("_a * 100 % _b"))
        .withColumn("_q2", F.expr("_r1 * 100 div _b"))
        .withColumn("_r2", F.expr("_r1 * 100 % _b"))
        .withColumn(
            "gini_ppm",
            F.expr(
                "CAST(_q1 * 10000 + _q2 * 100 + _r2 * 100 div _b AS BIGINT)"
            ),
        )
        .drop("_rx", "_a", "_b", "_q1", "_r1", "_q2", "_r2")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov distance between the click and error
# value distributions — distribution-shift detection with an EXACT
# integer statistic: over the merged distinct cent values,
# D = max |cum_a·m − cum_b·n| / (n·m); the numerator and denominator
# are exact bigints (no ECDF floats). The cumulative window runs over
# DISTINCT cents values (bounded by the value domain, not row count).
# ---------------------------------------------------------------------------


@_register(
    "ks_click_vs_error",
    """
    WITH v AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
               CAST(count_if(event_type = 'click') AS BIGINT) AS a,
               CAST(count_if(event_type = 'error') AS BIGINT) AS b
        FROM events
        WHERE event_type IN ('click', 'error') AND value IS NOT NULL
        GROUP BY 1
    ),
    c AS (
        SELECT cents,
               CAST(sum(a) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ca,
               CAST(sum(b) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cb
        FROM v
    ),
    g AS (SELECT CAST(sum(a) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS m
          FROM v)
    SELECT g.n AS n_click, g.m AS n_error,
           CAST(max(abs(c.ca * g.m - c.cb * g.n)) AS BIGINT) AS d_num,
           CAST(g.n * g.m AS BIGINT) AS d_den
    FROM c CROSS JOIN g
    GROUP BY g.n, g.m
    """,
)
def ks_click_vs_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T_events_us(spark, sf_dir).where(
        F.col("event_type").isin("click", "error") & F.col("value").isNotNull()
    )
    v = ev.groupBy(
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents")
    ).agg(
        F.count_if(F.col("event_type") == "click").alias("a"),
        F.count_if(F.col("event_type") == "error").alias("b"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    c = v.select(
        "cents",
        F.sum("a").over(w).cast("bigint").alias("ca"),
        F.sum("b").over(w).cast("bigint").alias("cb"),
    )
    # 1-row totals ride a broadcast cross join (exactly the oracle's
    # CROSS JOIN g) instead of a driver .collect() — one aggregation
    # job fewer, and the empty-input row-count semantics (GROUP BY
    # over an empty cross product → 0 rows) fall out for free.
    g = v.agg(
        F.sum("a").cast("bigint").alias("n"), F.sum("b").cast("bigint").alias("m")
    )
    return (
        c.crossJoin(F.broadcast(g))
        .groupBy("n", "m")
        .agg(
            F.max(F.abs(F.col("ca") * F.col("m") - F.col("cb") * F.col("n")))
            .cast("bigint")
            .alias("d_num")
        )
        .select(
            F.col("n").alias("n_click"),
            F.col("m").alias("n_error"),
            "d_num",
            (F.col("n") * F.col("m")).cast("bigint").alias("d_den"),
        )
    )


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford cheapest route (r11 third wave) — the MIN-PLUS
# companion to khop_trade_nations (fewest hops) and
# pagerank_trade_nations (stationary mass): cheapest total cost from
# nation 0 to every nation reachable within 4 edges over the SPARSIFIED
# trade graph (each nation's top-5 outgoing lanes by traded volume), with
# per-edge integer cost 1 + 1e6 div volume — high-volume lanes are
# cheap, so the cheapest route is often LONGER than the direct edge
# (min-plus relaxation, not BFS). The oracle unrolls the identical 4
# relaxation rounds as MATERIALIZED CTEs.
#
# Scale: the edge aggregation is the only row-scale work (3 equi-joins
# + one groupBy on ≤ |nations|² keys); relaxation rounds join a |V|-row
# state against the co-partitioned bounded edge list. The sparsifying
# rank window is PARTITIONED by source nation (≤ |nations| rows per
# partition) — no global window, no single-partition exchange.
# ---------------------------------------------------------------------------

_BF_K = 4
_BF_SRC = 0

_BF_EDGES_CTE = """
    SELECT eu, ev, 1 + 1000000 // w AS ew FROM (
      SELECT u AS eu, v AS ev, w,
             row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
      FROM (
        SELECT c.c_nationkey AS u, s.s_nationkey AS v,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
      )
    ) WHERE rn <= 5
"""


@_register(
    "cheapest_trade_route",
    gr.cheapest_paths_oracle_sql(_BF_EDGES_CTE, source_id=_BF_SRC, k=_BF_K)
    + f"""
    SELECT n.n_name AS nation, bf.cost AS min_cost, bf.hops
    FROM bf JOIN nation n ON bf.id = n.n_nationkey
    ORDER BY min_cost, nation
    """,
)
def cheapest_trade_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wspec = Window.partitionBy("u").orderBy(F.desc("w"), "v")
    kept = (
        vol.withColumn("rn", F.row_number().over(wspec))
        .where(F.col("rn") <= 5)
        .select(
            "u", "v", (F.lit(1) + F.expr("1000000 div w")).alias("ew")
        )
    )
    bf = gr.bounded_cheapest_paths(
        kept, "u", "v", "ew", source_id=_BF_SRC, k=_BF_K
    )
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        bf.join(F.broadcast(nation), bf.id == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("cost").alias("min_cost"),
            "hops",
        )
        .orderBy("min_cost", "nation")
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap CI (r11 fourth wave) — the
# distributed-bootstrap pattern (Chamandy et al. / "Poisson bootstrap")
# made exactly reproducible: replica r resamples each order with a
# PSEUDO-Poisson(1) weight decoded from a 60-bit md5 slice of
# (o_orderkey, r) against the inverse-CDF thresholds below (computed
# once in Python and injected into BOTH dialects as integer literals —
# the engines never evaluate exp/factorial). One explode×B pass + one
# (replica) aggregation + a rank selection over B rows gives the
# 95% percentile interval for the mean order value. At 100 TB this is
# the textbook one-pass bootstrap: per-row weights are map-side
# constants, the shuffle carries B partial sums, and B never grows
# with data. Replica means are floor-scaled ×10⁴ via staged division
# (remainders < n, so no overflow at any corpus size).
# ---------------------------------------------------------------------------

_BOOT_B = 50
# floor(cumPMF_Poisson(1)(k) · 2^60), k = 0..7; weight 8 past the tail.
_BOOT_T = [
    424136118829305344, 848272237658610688, 1060340297073263360,
    1131029650211480960, 1148701988496035328, 1152236456152946176,
    1152825534095764608, 1152909688087595776,
]


def _boot_weight_sql(h: str) -> str:
    """Flat CASE decoding the Poisson(1) weight from a 60-bit hash —
    identical text in both dialects (integer compares only)."""
    arms = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"CASE {arms} ELSE 8 END"


_BOOT_LO = 2    # ceil(0.025 · 50), 1-based type-1 percentile ranks
_BOOT_HI = 49   # ceil(0.975 · 50)


@_register(
    "bootstrap_mean_ci",
    f"""
    WITH w AS (
      SELECT r.r AS rep,
             {_boot_weight_sql(
                 "CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#'"
                 " || CAST(r.r AS VARCHAR)), 1, 15) AS BIGINT)"
             )} AS wt,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders, unnest(range(0, {_BOOT_B})) AS r(r)
    ),
    m AS (
      SELECT rep, CAST(sum(wt * cents) AS BIGINT) AS s,
             CAST(sum(wt) AS BIGINT) AS n
      FROM w GROUP BY rep
    ),
    q AS (
      SELECT rep,
             (s // n) * 10000
             + ((s % n) * 100 // n) * 100
             + (((s % n) * 100 % n) * 100 // n) AS mean_x10000,
             row_number() OVER (ORDER BY
               (s // n) * 10000
               + ((s % n) * 100 // n) * 100
               + (((s % n) * 100 % n) * 100 // n), rep) AS rk
      FROM m WHERE n > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicas,
           CAST(min(CASE WHEN rk = {_BOOT_LO} THEN mean_x10000 END)
                AS BIGINT) AS lo_x10000,
           CAST(min(CASE WHEN rk = {_BOOT_HI} THEN mean_x10000 END)
                AS BIGINT) AS hi_x10000
    FROM q
    HAVING count(*) > 0
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rebalance the narrow (orderkey, cents) rows across the cluster
    # BEFORE the ×B explode: the scan of a compact parquet file yields
    # few input splits, and explode+hash fuse into the scan stage, so
    # without the rebalance the B-fold row multiplication and all B·N
    # md5 evaluations run at scan parallelism (ONE task at bench scale —
    # measured 7-9s single-core; guide §2.5 "input skew: repartition
    # immediately after the read"). The shuffle moves only the narrow
    # pre-explode rows (16 bytes/row), never the replicas.
    npar = spark.sparkContext.defaultParallelism
    w = (
        T(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartition(npar)
        .select(
            "*", F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("r")
        )
        # stage the 60-bit hash once; the weight CASE then compares a
        # column 8 times instead of embedding the md5 expression per arm
        .withColumn(
            "h",
            F.expr(
                "CAST(conv(substr(md5(CAST(o_orderkey AS STRING) || '#'"
                " || CAST(r AS STRING)), 1, 15), 16, 10) AS BIGINT)"
            ),
        )
        .select(
            F.col("r").alias("rep"),
            F.expr(_boot_weight_sql("h")).alias("wt"),
            "cents",
        )
    )
    m = (
        w.groupBy("rep")
        .agg(
            F.sum(F.expr("wt * cents")).cast("long").alias("s"),
            F.sum("wt").cast("long").alias("n"),
        )
        .where(F.col("n") > 0)
    )
    staged = (
        "(s div n) * 10000 + ((s % n) * 100 div n) * 100"
        " + (((s % n) * 100 % n) * 100 div n)"
    )
    from pyspark.sql.window import Window as W

    q = m.select(
        "rep", F.expr(staged).cast("long").alias("mean_x10000")
    ).withColumn(
        "rk", F.row_number().over(W.orderBy("mean_x10000", "rep"))
    )
    out = q.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.min(F.when(F.col("rk") == _BOOT_LO, F.col("mean_x10000")))
        .cast("long")
        .alias("lo_x10000"),
        F.min(F.when(F.col("rk") == _BOOT_HI, F.col("mean_x10000")))
        .cast("long")
        .alias("hi_x10000"),
    ).where(F.col("n_replicas") > 0)
    return out


# ---------------------------------------------------------------------------
# Golden-record entity resolution (r11 fourth wave) — the MDM step on
# top of the record-linkage family: fuzzy name matches (levenshtein
# ≤ 2 on the DISTINCT name domain — generator-bounded at ≤ ~64 names,
# the same domain argument as fuzzy_part_name_pairs) become a name
# GRAPH whose transitive closure (connected_components) merges chains
# a one-pass pair policy under-merges ("cold X"–"red X" are distance 3,
# linked only through "old X"); each cluster then elects one golden
# row by survivorship rules: canonical name = longest (ties → lex
# last), golden key = min part key, plus membership counts. The
# oracle walks the identical closure with a recursive CTE and restates
# the argmax as a ranked window. Cluster identity in the OUTPUT is
# min(name) — label-representation-free, so the Spark side can use
# 60-bit md5 node ids while the oracle walks strings.
# ---------------------------------------------------------------------------


@_register(
    "golden_part_records",
    """
    WITH RECURSIVE dn AS (SELECT DISTINCT p_name AS n FROM part),
    e0 AS (
      SELECT a.n AS na, b.n AS nb
      FROM dn a JOIN dn b ON a.n < b.n
      WHERE levenshtein(a.n, b.n) <= 2
    ),
    edges AS (
      SELECT na AS src, nb AS dst FROM e0
      UNION SELECT nb, na FROM e0
    ),
    walk(id, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ),
    comp AS (SELECT id AS n, min(reach) AS c FROM walk GROUP BY id),
    m AS (
      SELECT dn.n, coalesce(comp.c, dn.n) AS c
      FROM dn LEFT JOIN comp ON dn.n = comp.n
    ),
    cn AS (
      SELECT c, n,
             row_number() OVER (PARTITION BY c
                                ORDER BY length(n) DESC, n DESC) AS rn
      FROM m
    ),
    agg AS (
      SELECT m.c,
             min(p.p_name) AS cluster_name,
             CAST(count(DISTINCT p.p_name) AS BIGINT) AS n_names,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(min(p.p_partkey) AS BIGINT) AS golden_partkey
      FROM part p JOIN m ON p.p_name = m.n
      GROUP BY m.c
    )
    SELECT agg.cluster_name, cn.n AS canonical_name,
           agg.n_names, agg.n_parts, agg.golden_partkey
    FROM agg JOIN cn ON agg.c = cn.c AND cn.rn = 1
    ORDER BY cluster_name
    """,
)
def golden_part_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part").select("p_partkey", "p_name")
    dn = p.select(F.col("p_name").alias("n")).distinct()
    nid = "CAST(conv(substr(md5(n), 1, 15), 16, 10) AS BIGINT)"
    e0 = (
        dn.select(F.col("n").alias("na"))
        .crossJoin(F.broadcast(dn.select(F.col("n").alias("nb"))))
        .where(F.col("na") < F.col("nb"))
        .withColumn("lev", F.levenshtein("na", "nb", 3).cast("int"))
        .where((F.col("lev") >= 0) & (F.col("lev") <= 2))
        .select(
            F.expr(nid.replace("n)", "na)")).alias("src"),
            F.expr(nid.replace("n)", "nb)")).alias("dst"),
        )
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    comps = gr.connected_components(edges)  # (id, component)
    nodes = dn.select(
        "n", F.expr(nid).alias("id")
    ).join(comps, "id", "left").select(
        "n", F.coalesce(F.col("component"), F.col("id")).alias("c")
    )
    canon = (
        nodes.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("c").orderBy(
                    F.length("n").desc(), F.col("n").desc()
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("c", F.col("n").alias("canonical_name"))
    )
    agg = (
        p.join(F.broadcast(nodes), p.p_name == nodes.n)
        .groupBy("c")
        .agg(
            F.min("p_name").alias("cluster_name"),
            F.count_distinct("p_name").cast("long").alias("n_names"),
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("p_partkey").cast("long").alias("golden_partkey"),
        )
    )
    return (
        agg.join(F.broadcast(canon), "c")
        .select(
            "cluster_name", "canonical_name", "n_names", "n_parts",
            "golden_partkey",
        )
        .orderBy("cluster_name")
    )


# ---------------------------------------------------------------------------
# FIFO allocation (r11 fourth wave) — the inventory/cost-allocation
# matcher (FIFO lot matching, payment application, queue pairing)
# expressed as CUMULATIVE-INTERVAL overlap instead of a sequential
# loop: per part, supplies (even order keys) and demands (odd) are
# ranked in ship order; each side's cumulative-quantity window turns
# row i into the interval (cum_prev, cum]; FIFO matches row pairs
# whose intervals OVERLAP, with matched qty = min(cumS, cumD) −
# max(prevS, prevD). The overlap pairs of two partitions of one line
# number ≤ S+D−1 per part — the join OUTPUT is provably linear even
# though FIFO is usually written as a sequential allocator. Windows
# are partitioned by part; the pair join is an equi-join on part with
# range residuals (sort-merge, no cartesian).
# ---------------------------------------------------------------------------


@_register(
    "fifo_allocation_parts",
    """
    WITH li AS (
      SELECT l_partkey AS pk, l_orderkey AS ok,
             CAST(l_quantity AS BIGINT) AS qty,
             strftime(l_shipdate, '%Y-%m-%d') AS sd
      FROM lineitem
    ),
    s AS (
      SELECT pk, qty,
             row_number() OVER w AS rn,
             CAST(sum(qty) OVER w AS BIGINT) AS cum,
             CAST(coalesce(sum(qty) OVER (PARTITION BY pk ORDER BY sd, ok
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS prev
      FROM li WHERE ok % 2 = 0
      WINDOW w AS (PARTITION BY pk ORDER BY sd, ok)
    ),
    d AS (
      SELECT pk, qty,
             row_number() OVER w AS rn,
             CAST(sum(qty) OVER w AS BIGINT) AS cum,
             CAST(coalesce(sum(qty) OVER (PARTITION BY pk ORDER BY sd, ok
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS prev
      FROM li WHERE ok % 2 = 1
      WINDOW w AS (PARTITION BY pk ORDER BY sd, ok)
    ),
    m AS (
      SELECT s.pk,
             least(s.cum, d.cum) - greatest(s.prev, d.prev) AS matched,
             s.rn AS srn, d.rn AS drn
      FROM s JOIN d ON s.pk = d.pk
       AND s.prev < d.cum AND d.prev < s.cum
    )
    SELECT pk AS partkey,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(sum(matched) AS BIGINT) AS matched_qty,
           CAST(sum(matched * (srn + drn)) AS BIGINT) AS fifo_checksum
    FROM m
    GROUP BY pk
    ORDER BY partkey
    """,
)
def fifo_allocation_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("sd"),
    )

    def side(parity: int):
        w = Window.partitionBy("pk").orderBy("sd", "ok")
        cum = F.sum("qty").over(w.rowsBetween(Window.unboundedPreceding, 0))
        prev = F.coalesce(
            F.sum("qty").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        return (
            li.where(F.col("ok") % 2 == parity)
            .withColumn("rn", F.row_number().over(w))
            .withColumn("cum", cum.cast("long"))
            .withColumn("prev", prev.cast("long"))
            .select("pk", "qty", "rn", "cum", "prev")
        )

    s = side(0).select(
        F.col("pk"), F.col("rn").alias("srn"),
        F.col("cum").alias("scum"), F.col("prev").alias("sprev"),
    )
    d = side(1).select(
        F.col("pk").alias("dpk"), F.col("rn").alias("drn"),
        F.col("cum").alias("dcum"), F.col("prev").alias("dprev"),
    )
    m = s.join(
        d,
        (F.col("pk") == F.col("dpk"))
        & (F.col("sprev") < F.col("dcum"))
        & (F.col("dprev") < F.col("scum")),
    ).select(
        "pk",
        (
            F.least("scum", "dcum") - F.greatest("sprev", "dprev")
        ).alias("matched"),
        "srn",
        "drn",
    )
    return (
        m.groupBy(F.col("pk").alias("partkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.sum("matched").cast("long").alias("matched_qty"),
            F.sum(F.col("matched") * (F.col("srn") + F.col("drn")))
            .cast("long")
            .alias("fifo_checksum"),
        )
        .orderBy("partkey")
    )

"""Linear text classifiers as broadcast-join scoring — the fasttext /
DataTrove-quality-classifier shape (a bag-of-words linear model) run as
a pure Spark plan.

Model = {term: integer_weight} + integer bias, all weights scaled by
1000 so the logit is an exact bigint sum: scoring never depends on
float summation order and the DuckDB oracle matches bit-for-bit. A real
trained model drops in by replacing the literal weight table.

Scale design: the corpus is tokenized ONCE (explode stays in codegen);
the model ships as a broadcast hash table (a few thousand terms at
most); scoring is one broadcast join + one map-side-combinable sum per
doc. No Python UDFs, no per-term corpus passes. At 100 TB this is scan
+ explode + broadcast-HashJoin + partial agg — the same plan family as
any dimension join.

Beyond-reference extension (the reference has no ML-scoring surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

# Demo model: quality-ish signal over the synthetic vocabulary
# (weights ×1000; positive = keep-ish). Deterministic and public.
DEMO_WEIGHTS: dict[str, int] = {
    "spark": 900,
    "query": 600,
    "join": 500,
    "window": 450,
    "agg": 400,
    "table": 250,
    "column": 200,
    "stream": 150,
    "slow": -700,
    "fail": -900,
    "error": -800,
    "null": -300,
    "skew": -250,
    "retry": -200,
}
DEMO_BIAS = -1500
DEMO_THRESHOLD = 0  # keep when logit > 0


def score_documents(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    weights: dict[str, int] | None = None,
    bias: int | None = None,
    threshold: int | None = None,
) -> DataFrame:
    """(id, logit, label) for every input doc. logit = bias + Σ
    count(term)·weight[term] over whitespace-lowercased tokens; label =
    'keep' when logit > threshold else 'drop'. Docs with no scored
    terms still appear (bias-only logit)."""
    weights = DEMO_WEIGHTS if weights is None else weights
    bias = DEMO_BIAS if bias is None else bias
    threshold = DEMO_THRESHOLD if threshold is None else threshold
    model = local_frame(spark, sorted(weights.items()), schema="term string, w long")
    toks = df.select(
        F.col(id_col),
        F.explode_outer(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    )
    scored = (
        toks.join(F.broadcast(model), "term", "left")
        .groupBy(id_col)
        .agg((F.lit(bias) + F.sum(F.coalesce(F.col("w"), F.lit(0)))).alias("logit"))
    )
    return scored.select(
        F.col(id_col),
        F.col("logit").cast("bigint").alias("logit"),
        F.when(F.col("logit") > threshold, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    ).orderBy(id_col)


def score_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    *,
    weights: dict[str, int] | None = None,
    bias: int | None = None,
    threshold: int | None = None,
) -> str:
    """DuckDB twin: same tokenization, same literal weight table, same
    integer logit."""
    weights = DEMO_WEIGHTS if weights is None else weights
    bias = DEMO_BIAS if bias is None else bias
    threshold = DEMO_THRESHOLD if threshold is None else threshold
    values = ", ".join(
        f"('{t}', {w})" for t, w in sorted(weights.items())
    )
    return f"""
    WITH model(term, w) AS (VALUES {values}),
    toks AS (
        SELECT {id_col}, unnest(string_split_regex(lower({text_col}), '\\s+')) AS term
        FROM {table}
    ),
    scored AS (
        SELECT {id_col},
               CAST({bias} + CAST(sum(COALESCE(w, 0)) AS BIGINT) AS BIGINT) AS logit
        FROM toks LEFT JOIN model USING (term)
        GROUP BY {id_col}
    )
    SELECT {id_col}, logit,
           CASE WHEN logit > {threshold} THEN 'keep' ELSE 'drop' END AS label
    FROM scored
    ORDER BY {id_col}
    """


def logit_expr(
    text_col,
    *,
    weights: dict[str, int] | None = None,
    bias: int | None = None,
):
    """Per-row logit as a single Column expression — no explode, no
    aggregation — so it composes into STREAMING filters and projections
    where a grouped aggregation would force watermark semantics.

    One `filter` higher-order function per model term over one shared
    tokenization; per-document cost is O(tokens × terms), interpreted.
    For whole-corpus batch scoring prefer `score_documents` (one
    codegen broadcast join); for a row-at-a-time gate this form is
    exact-equal (pytest-asserted) and streaming-safe."""
    weights = DEMO_WEIGHTS if weights is None else weights
    bias = DEMO_BIAS if bias is None else bias
    toks = F.split(F.lower(text_col), r"\s+")
    total = F.lit(bias)
    for term, w in sorted(weights.items()):
        total = total + F.lit(w) * F.size(
            F.filter(toks, lambda t: t == F.lit(term))
        )
    # NULL text: size(NULL) = -1 would subtract every weight; match
    # score_documents' bias-only contract instead.
    return (
        F.when(text_col.isNull(), F.lit(bias)).otherwise(total).cast("bigint")
    )


def bigram_lm_surprisal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """CCNet-style LM perplexity filtering (Wenzek et al., 2020 — low
    perplexity under an in-domain LM selects clean text), with the LM a
    corpus-trained add-one-smoothed bigram model instead of an external
    KenLM: per document, the mean surprisal of its bigrams under
    p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V).

    Fixed-point contract: surprisal is defined as
    L(c1 + V) - L(c2 + 1) with L(n) = floor(1e6 · ln(n)) — ln runs on
    exact integer-valued doubles, so Python/glibc (which builds the
    Spark-side lookup) and DuckDB's std::log (the oracle) produce the
    identical double and the identical floor (the bm25 idf trick,
    applied to the distinct count domain). All downstream sums are
    exact bigints — no float summation order anywhere.

    Scale shape: tokenize once (posexplode + per-doc lead window),
    two count aggregations (bigram, prefix), two count-keyed joins back
    (token-scale shuffles, the TF-IDF profile), and ln evaluated only
    on the DISTINCT count domain (O(distinct frequencies) ≈ O(√N) by
    Zipf — the 'compute per distinct value, join back' rule). At true
    100 TB swap the driver LUT for engine ln: cross-engine bit-equality
    is an oracle concern, not a production one.

    Output: (doc_id, n_bigrams, total_unats, mean_unats) for docs with
    at least one bigram, doc-ordered; mean_unats = total div n (exact).
    """
    src = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    big, per_bigram = _BIGRAM_MEMO.get_or_build(
        (), src, lambda: _build_bigram_model(src)
    )
    # One token-scale join against the per-DISTINCT-bigram surprisal
    # table (the 'compute per distinct value, join back' rule — the old
    # plan joined c2 AND c1 AND two LUTs back at token scale, and
    # additionally recomputed the tokenize+window pipeline for the
    # vocab count and the LUT-domain collect; all of that now happens
    # once inside the memoized model build).
    return (
        big.join(per_bigram, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("s_unats").cast("bigint").alias("total_unats"),
        )
        .withColumn(
            "mean_unats", F.expr("CAST(total_unats div n_bigrams AS BIGINT)")
        )
        .orderBy("doc_id")
    )


from ..memo import PlanMemo  # noqa: E402  (placed by first use)

# cap 2: one corpus per session is the norm; the product pins the
# token-scale bigram table, so keep the LRU tight.
_BIGRAM_MEMO = PlanMemo("bigram_lm", cap=2)


def _build_bigram_model(src: DataFrame):
    """Materialize the (doc_id, w1, w2) bigram table (ONE tokenize +
    per-doc lead window) and the per-distinct-bigram surprisal table
    s(w1,w2) = L(c1+V) − L(c2+1):

    * c1 is derived from c2 (Σ_w2 c2) — no second pass over bigrams;
    * the ln LUT domain is collected from the DISTINCT count tables
      (every c1/c2 value occurs in some scored bigram, so the domain is
      identical to the old token-scale explode+distinct, at aggregate
      cost);
    * both products are lineage-cut and memoized per corpus plan, so
      the eager LUT jobs run once per session per corpus."""
    import math as _m

    from pyspark.sql.window import Window

    from ..lineage import cut as _cut

    spark = src.sparkSession
    ex = (
        src.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("_t")), r"\s+")).alias("pos", "w"),
        )
    )
    vocab_n = ex.select("w").distinct().count()
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = _cut(
        ex.select(
            "doc_id", F.col("w").alias("w1"), F.lead("w", 1).over(w).alias("w2")
        ).where(F.col("w2").isNotNull())
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    sb = c2.join(c1, "w1").select(
        "w1",
        "w2",
        (F.col("c1") + F.lit(vocab_n)).alias("_den"),
        (F.col("c2") + F.lit(1)).alias("_num"),
    )
    dom = sorted(
        r["n"]
        for r in sb.select(F.explode(F.array("_den", "_num")).alias("n"))
        .distinct()
        .collect()
    )
    lut = local_frame(
        spark,
        [(int(n), int(_m.floor(_m.log(float(n)) * 1_000_000))) for n in dom],
        "n bigint, l bigint",
    )
    per_bigram = _cut(
        sb.join(lut.select(F.col("n").alias("_den"), F.col("l").alias("_ld")), "_den")
        .join(lut.select(F.col("n").alias("_num"), F.col("l").alias("_ln")), "_num")
        .select("w1", "w2", (F.col("_ld") - F.col("_ln")).alias("s_unats"))
    )
    return big, per_bigram

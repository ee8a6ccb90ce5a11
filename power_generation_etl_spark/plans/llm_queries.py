"""LLM-training-data pipeline queries over the synthetic `documents`
and `embeddings` tables — dedup family, similarity search, text
analysis. Registered into the same QUERIES/ORACLES catalog as the
relational queries.

Every entry here is oracle-checked, including the LSH family: shingle
hashing is a portable md5-prefix (identical in DuckDB), and the seeded
driver-side constants (MinHash affine coefficients, LSH hyperplanes)
are embedded in the generated oracle SQL as literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from power_generation_etl_spark.operators import minhash as mh
from power_generation_etl_spark.operators import similarity as sim
from power_generation_etl_spark.operators import text as tx
from power_generation_etl_spark.plans.queries import ORACLES, T, _register
from power_generation_etl_spark.session import local_frame

# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on the text digest (shuffle carries 32-char
# digests, not document bodies).
# ---------------------------------------------------------------------------


@_register(
    "exact_dedup_docs",
    """
    SELECT md5(text) AS text_hash,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY canonical_id
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy(tx.exact_dup_key(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("canonical_id")
    )


# ---------------------------------------------------------------------------
# Token counting: whitespace + BPE-ish regex.
# ---------------------------------------------------------------------------

_BPE_SQL = "'''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'"


@_register(
    "doc_token_counts",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, {_BPE_SQL})) AS BIGINT) AS bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("ws_tokens"),
        tx.token_count(F.col("text"), tx.BPE_RE).alias("bpe_tokens"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Quality scoring.
# ---------------------------------------------------------------------------

_PUNCT_CLASS_SQL = "[^.,;:!?''\"()\\[\\]{}-]"  # '' = escaped quote in SQL


def _stop_count_sql(words: list[str]) -> str:
    """DuckDB twin of operators.text.stopword_hits (token membership)."""
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),"
        f" t -> t IN ({inlist}))) AS BIGINT)"
    )


_STOP_SUM_SQL = _stop_count_sql(tx.LANG_STOPWORDS["en"])


@_register(
    "doc_quality",
    f"""
    SELECT doc_id, n_chars, n_tokens, avg_token_len, alpha_ratio, digit_ratio,
           punct_ratio, upper_ratio, stopword_count,
           (n_chars >= 50 AND n_chars <= 100000 AND n_tokens >= 10
            AND avg_token_len >= 2.0 AND avg_token_len <= 12.0
            AND alpha_ratio >= 0.5) AS quality_pass
    FROM (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
             round(length(text) * 1.0 /
                   greatest(len(regexp_extract_all(text, '\\S+')), 1), 4) AS avg_token_len,
             round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 /
                   greatest(length(text), 1), 4) AS alpha_ratio,
             round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 /
                   greatest(length(text), 1), 4) AS digit_ratio,
             round(length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0 /
                   greatest(length(text), 1), 4) AS punct_ratio,
             round(length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0 /
                   greatest(length(text), 1), 4) AS upper_ratio,
             {_STOP_SUM_SQL} AS stopword_count
      FROM documents
    )
    ORDER BY doc_id
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    m = tx.quality_metrics(F.col("text"))
    return d.select(
        "doc_id",
        *[m[k].alias(k) for k in (
            "n_chars", "n_tokens", "avg_token_len", "alpha_ratio",
            "digit_ratio", "punct_ratio", "upper_ratio", "stopword_count",
        )],
        tx.quality_pass(m).alias("quality_pass"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Language ID: stopword-count heuristic, reported as a confusion matrix
# against the labeled lang column.
# ---------------------------------------------------------------------------

def _char_hits_sql(chars: str, weight: int) -> str:
    """DuckDB twin of operators.text.char_class_hits."""
    return (
        f"CAST((length(text) - length(regexp_replace(text, '[{chars}]', '', 'g')))"
        f" * {weight} AS BIGINT)"
    )


def _lang_score_sql(lang: str) -> str:
    """DuckDB twin of operators.text.lang_scores[lang]: stopword-token
    membership plus weighted char-class hits for unsegmented scripts."""
    parts = []
    words = tx.LANG_STOPWORDS.get(lang)
    if words:
        parts.append(_stop_count_sql(words))
    if lang in tx.LANG_CHAR_CLASSES:
        chars, weight = tx.LANG_CHAR_CLASSES[lang]
        parts.append(_char_hits_sql(chars, weight))
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


_LANG_CASE_SQL = (
    "CASE WHEN " + " <= 0 AND ".join(f"s_{lg}" for lg in tx.LANG_ORDER) + " <= 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lg} = greatest({', '.join('s_' + x for x in tx.LANG_ORDER)}) THEN '{lg}'"
        for lg in tx.LANG_ORDER
    )
    + " END"
)


@_register(
    "lang_id_confusion",
    f"""
    SELECT lang, {_LANG_CASE_SQL} AS predicted_lang, count(*) AS n_docs
    FROM (
      SELECT lang,
             {', '.join(f'{_lang_score_sql(lg)} AS s_{lg}' for lg in tx.LANG_ORDER)}
      FROM documents
    )
    GROUP BY 1, 2
    ORDER BY lang, predicted_lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    scored = tx.score_langs(d, "doc_id", "text", carry_cols=["lang"])
    return (
        scored.groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: md5 over normalized content.
# ---------------------------------------------------------------------------


@_register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", tx.normalized_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Near-dup: exact n-gram Jaccard (oracle), MinHash+LSH and SimHash
# (rows-only: hash functions aren't portable to the oracle engine).
# ---------------------------------------------------------------------------


@_register(
    "ngram_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i.i:i.i+2], ' ') AS s
      FROM toks, unnest(range(1, len(t) - 1)) AS i(i)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c * 1.0 / (ca.n + cb.n - c), 4) AS jaccard
    FROM inter
    JOIN cnt ca ON inter.id_a = ca.doc_id
    JOIN cnt cb ON inter.id_b = cb.doc_id
    WHERE round(c * 1.0 / (ca.n + cb.n - c), 4) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    # max_candidates pinned EXPLICITLY: catalog entries have exact
    # DuckDB oracles, so their output must never depend on the
    # SPARK_ETL_ALLPAIRS_MAX_CANDIDATES environment of whoever runs
    # the compare. The default bound still guards the scale hazard.
    return mh.exact_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_candidates=mh.DEFAULT_ALLPAIRS_MAX_CANDIDATES
    )


# Shared shingle CTEs (word 3-grams, distinct, lowercase \s+ split) —
# identical text in every near-dup oracle so the definitions can't drift.
_SH_CTES = """toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i.i:i.i+2], ' ') AS s
      FROM toks, unnest(range(1, len(t) - 1)) AS i(i)
    )"""

# DuckDB twin of operators.minhash.portable_hash32/60.
def _md5_int_sql(expr: str, hex_chars: int) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, {hex_chars})) AS BIGINT)"


def _minhash_oracle(k: int = 64, seed: int = 42, n_bands: int = 16,
                    threshold: float = 0.5) -> str:
    """Generated DuckDB twin of operators.minhash.minhash_lsh_pairs:
    the seeded affine coefficients are embedded as literals, so the
    candidate set and the verified output match Spark exactly."""
    per_band = k // n_bands
    mins = ",\n             ".join(
        f"min(({a} * h + {b}) % {mh.MERSENNE_61}) AS m{i}"
        for i, (a, b) in enumerate(mh._coefficients(k, seed))
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {i} AS band, {key} AS key FROM sig".format(
            i=i,
            key=_md5_int_sql(
                "concat_ws(',', "
                + ", ".join(f"m{j}" for j in range(i * per_band, (i + 1) * per_band))
                + ")",
                15,
            ),
        )
        for i in range(n_bands)
    )
    return f"""
    WITH {_SH_CTES},
    hs AS (SELECT doc_id, {_md5_int_sql('s', 8)} AS h FROM sh),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hs GROUP BY doc_id
    ),
    bands AS (
      {band_rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(c * 1.0 / (ca.n + cb.n - c), 4) AS jaccard
    FROM cand
    JOIN inter USING (id_a, id_b)
    JOIN cnt ca ON id_a = ca.doc_id
    JOIN cnt cb ON id_b = cb.doc_id
    WHERE round(c * 1.0 / (ca.n + cb.n - c), 4) >= {threshold}
    ORDER BY id_a, id_b
    """


@_register("minhash_lsh_pairs", _minhash_oracle())
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    # max_candidates pinned: oracle-gated output must be env-independent
    return mh.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, threshold=0.5,
        max_candidates=mh.DEFAULT_ALLPAIRS_MAX_CANDIDATES,
    )


def _simhash_oracle(bits: int = 60, max_hamming: int = 8) -> str:
    """Generated DuckDB twin of operators.minhash.simhash_pairs."""
    sums = ",\n             ".join(
        f"sum((h >> {j}) & 1) AS s{j}" for j in range(bits)
    )
    packed = "\n           + ".join(
        f"(CASE WHEN 2 * s{j} >= n THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
    WITH {_SH_CTES},
    hs AS (SELECT doc_id, {_md5_int_sql('s', 15)} AS h FROM sh),
    votes AS (
      SELECT doc_id, count(*) AS n,
             {sums}
      FROM hs GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             {packed} AS sh64
      FROM votes
    ),
    chunks AS (
      SELECT doc_id, sh64, b.b AS band, (sh64 >> (b.b * 15)) & 32767 AS key
      FROM fp, unnest([0, 1, 2, 3]) AS b(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh64 AS ha, b.sh64 AS hb
      FROM chunks a JOIN chunks b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    ORDER BY id_a, id_b
    """


@_register("simhash_pairs", _simhash_oracle())
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    # max_candidates pinned: oracle-gated output must be env-independent
    return mh.simhash_pairs(
        d, "doc_id", "text", max_hamming=8,
        max_candidates=mh.DEFAULT_ALLPAIRS_MAX_CANDIDATES,
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings.
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_aggregate(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i]), 'sum')"
    " / (sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))"
    " * sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum')))"
)


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float] | None:
    """The shared ANN query vector (vec_id 0), or None on an empty /
    filtered-out table — callers emit an empty stable-schema result
    instead of crashing (the driver contract allows >= 0 rows)."""
    row = (
        T(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").head()
    )
    return None if row is None else [float(x) for x in row["embedding"]]


def _empty_topk(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], "vec_id bigint, cosine_sim double")


@_register(
    "ann_topk_cosine",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0)
    SELECT vec_id, round({_COS_SQL}, 4) AS cosine_sim
    FROM s, q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return _empty_topk(spark)
    return sim.brute_force_topk(e, "vec_id", "embedding", qv, k=10)


_EMBED_DIM = 64  # dim of the synthetic embeddings table (all SFs)


def _lsh_oracle(threshold: float = 0.4, n_planes: int = 12, n_bands: int = 3,
                seed: int = 42) -> str:
    """Generated DuckDB twin of operators.similarity.lsh_bucketed_neardup:
    the seeded random hyperplanes are driver-side constants, embedded
    here as DOUBLE[] literals, so bucketing (sign of dot(e, plane)) and
    exact-cosine verification reproduce Spark's output exactly."""
    per_band = n_planes // n_bands
    mask = (1 << per_band) - 1
    planes = sim.random_hyperplanes(_EMBED_DIM, n_planes, seed)

    def dot_plane(p: list[float]) -> str:
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
        return (
            f"list_aggregate(list_transform(range(1, len(e) + 1),"
            f" i -> e[i] * ({arr})[i]), 'sum')"
        )

    sig = "\n           + ".join(
        f"(CASE WHEN {dot_plane(p)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    cos = (
        "list_aggregate(list_transform(range(1, len(va.e) + 1),"
        " i -> va.e[i] * vb.e[i]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(va.e, x -> x * x), 'sum'))"
        " * sqrt(list_aggregate(list_transform(vb.e, x -> x * x), 'sum')))"
    )
    bands = ", ".join(str(b) for b in range(n_bands))
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sig AS (
      SELECT vec_id,
             {sig} AS s
      FROM v
    ),
    sigb AS (
      SELECT vec_id, b.b AS band, (s >> (b.b * {per_band})) & {mask} AS key
      FROM sig, unnest([{bands}]) AS b(b)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigb a JOIN sigb b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round({cos}, 4) AS cosine_sim
    FROM cand JOIN v va ON cand.id_a = va.vec_id
              JOIN v vb ON cand.id_b = vb.vec_id
    WHERE round({cos}, 4) >= {threshold}
    ORDER BY id_a, id_b
    """


@_register("cosine_neardup_pairs", _lsh_oracle())
def cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline embedding near-dup: LSH-bucketed (O(Σ bucket²) candidate
    join, exact-cosine verification) — the 100 TB path. The exact O(n²)
    twin below verifies it at small SF."""
    e = T(spark, sf_dir, "embeddings")
    # max_candidates pinned: oracle-gated output must be env-independent
    # (the guard stays inactive at the shipped SFs — exact volume ~4.7e6
    # at sf0.1 — and engages on the 10x probe corpora).
    return sim.lsh_bucketed_neardup(
        e, "vec_id", "embedding", threshold=0.4,
        max_candidates=mh.DEFAULT_ALLPAIRS_MAX_CANDIDATES,
    )


@_register(
    "cosine_allpairs_neardup",
    """
    WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT id_a, id_b, round(sim, 4) AS cosine_sim
    FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_aggregate(list_transform(range(1, len(a.e) + 1),
                                           i -> a.e[i] * b.e[i]), 'sum')
             / (sqrt(list_aggregate(list_transform(a.e, x -> x * x), 'sum'))
              * sqrt(list_aggregate(list_transform(b.e, x -> x * x), 'sum'))) AS sim
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    WHERE round(sim, 4) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def cosine_allpairs_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-dup — the O(n²) correctness baseline
    for `cosine_neardup_pairs`; never the scale path."""
    e = T(spark, sf_dir, "embeddings")
    return sim.all_pairs_neardup(e, "vec_id", "embedding", threshold=0.4)


@_register(
    "ivf_topk_cosine",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    dims AS (SELECT label, i.i AS i, avg(e[i.i]) AS c
             FROM v, unnest(range(1, len(e) + 1)) AS i(i) GROUP BY label, i.i),
    cent AS (SELECT label, list(c ORDER BY i) AS cv FROM dims GROUP BY label),
    ranked AS (
      SELECT label,
             list_aggregate(list_transform(range(1, len(cv) + 1), i -> cv[i] * qv[i]), 'sum')
             / (sqrt(list_aggregate(list_transform(cv, x -> x * x), 'sum'))
              * sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum'))) AS cell_sim
      FROM cent, q
    ),
    probed AS (SELECT label FROM ranked ORDER BY cell_sim DESC, label
               LIMIT (SELECT CAST(ceil(count(*) * 0.25) AS BIGINT) FROM ranked))
    SELECT vec_id, round(
      list_aggregate(list_transform(range(1, len(e) + 1), i -> e[i] * qv[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum'))
       * sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum'))), 4) AS cosine_sim
    FROM v, q WHERE v.label IN (SELECT label FROM probed)
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def ivf_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return _empty_topk(spark)
    return sim.ivf_topk(e, "vec_id", "embedding", qv, k=10, label_col="label")


def _kmeans_ivf_oracle(k: int = 8, iters: int = 3, probe_fraction: float = 0.25,
                       topk: int = 10) -> str:
    """Generated DuckDB twin of kmeans_train + ivf_topk(label_col=None):
    the Lloyd's iterations are unrolled as CTE pairs (assign aN, update
    cN). Centroids round to 6 decimals after every update on both
    sides, so each assignment step sees bit-identical inputs and the
    whole trajectory reproduces exactly."""
    dim1 = _EMBED_DIM + 1
    d2 = (
        "list_aggregate(list_transform(range(1, len(v.e) + 1),"
        " i -> (v.e[i] - c.cv[i]) * (v.e[i] - c.cv[i])), 'sum')"
    )

    def cos(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, len({a}) + 1),"
            f" i -> {a}[i] * {b}[i]), 'sum')"
            f" / (sqrt(list_aggregate(list_transform({a}, x -> x * x), 'sum'))"
            f" * sqrt(list_aggregate(list_transform({b}, x -> x * x), 'sum')))"
        )

    steps = []
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        steps.append(f"""a{it} AS (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {d2}, c.cell) AS rn
        FROM v, {prev} c) WHERE rn = 1
    ),
    c{it} AS (
      SELECT cell, list(ci ORDER BY i) AS cv FROM (
        SELECT cell, i.i AS i, round(avg(e[i.i]), 6) AS ci
        FROM a{it}, unnest(range(1, {dim1})) AS i(i) GROUP BY cell, i.i
      ) GROUP BY cell
    )""")
    last = f"c{iters}"
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS cv
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k})
    ),
    {unrolled},
    ranked AS (SELECT cell, {cos('cv', 'qv')} AS cell_sim FROM {last}, q),
    probed AS (
      SELECT cell FROM ranked ORDER BY cell_sim DESC, cell
      LIMIT (SELECT CAST(ceil(count(*) * {probe_fraction}) AS BIGINT) FROM ranked)
    ),
    afin AS (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {d2}, c.cell) AS rn
        FROM v, {last} c) WHERE rn = 1
    )
    SELECT vec_id, round({cos('e', 'qv')}, 4) AS cosine_sim
    FROM afin, q
    WHERE afin.cell IN (SELECT cell FROM probed)
    ORDER BY cosine_sim DESC, vec_id
    LIMIT {topk}
    """


@_register("ivf_kmeans_topk", _kmeans_ivf_oracle())
def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with engine-trained cells: no label column needed — Lloyd's
    k-means (operators.similarity.kmeans_train) assigns the coarse
    cells, then probing works exactly as the labeled variant."""
    e = T(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return _empty_topk(spark)
    return sim.ivf_topk(e, "vec_id", "embedding", qv, k=10, label_col=None)


# ---------------------------------------------------------------------------
# End-to-end near-dup dedup: keep every document that is not the
# higher-id member of a >= 0.5-Jaccard pair (the "drop later copies"
# policy of training-data pipelines; with transitive chains the kept
# set is a superset of the minimal cover — the standard one-pass rule).
# ---------------------------------------------------------------------------


@_register(
    "neardup_dedup_docs",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i.i:i.i+2], ' ') AS s
      FROM toks, unnest(range(1, len(t) - 1)) AS i(i)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    dups AS (
      SELECT DISTINCT id_b
      FROM inter
      JOIN cnt ca ON inter.id_a = ca.doc_id
      JOIN cnt cb ON inter.id_b = cb.doc_id
      WHERE round(c * 1.0 / (ca.n + cb.n - c), 4) >= 0.5
    )
    SELECT doc_id, lang, source
    FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM dups)
    ORDER BY doc_id
    """,
)
def neardup_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    # max_candidates pinned: oracle-gated output must be env-independent
    pairs = mh.exact_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_candidates=mh.DEFAULT_ALLPAIRS_MAX_CANDIDATES
    )
    dups = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        d.join(dups, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the ≥0.5-Jaccard pair
# graph (operators/graph.py — iterative min-label propagation). The
# one-pass "drop id_b" policy above under-merges transitive chains;
# grouping by component is the correct dedup unit. Oracle: DuckDB
# recursive CTE enumerating reachability, component = min reachable id.
# ---------------------------------------------------------------------------


@_register(
    "neardup_components",
    f"""
    WITH RECURSIVE {_SH_CTES},
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN cnt ca ON id_a = ca.doc_id
      JOIN cnt cb ON id_b = cb.doc_id
      WHERE round(c * 1.0 / (ca.n + cb.n - c), 4) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(id, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    )
    SELECT id AS doc_id, min(reach) AS component_id
    FROM walk GROUP BY id
    ORDER BY doc_id
    """,
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.operators.graph import connected_components

    d = T(spark, sf_dir, "documents")
    # max_candidates pinned: oracle-gated output must be env-independent
    pairs = mh.exact_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_candidates=mh.DEFAULT_ALLPAIRS_MAX_CANDIDATES
    )
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return comps.select(
        F.col("id").alias("doc_id"), F.col("component").alias("component_id")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic hash-mod sampling: the reproducible alternative to
# TABLESAMPLE/sampleBy that training-data pipelines use — membership is
# a pure function of the key (portable md5-prefix hash), so the sample
# is stable across engines, runs, and partitionings, and two pipelines
# sampling the same corpus agree row-for-row. 10% stratum shown;
# rate = bucket_count/100.
# ---------------------------------------------------------------------------


@_register(
    "deterministic_doc_sample",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
    ORDER BY doc_id
    """,
)
def deterministic_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    bucket = F.pmod(mh.portable_hash32(F.col("doc_id").cast("string")), F.lit(100))
    return d.filter(bucket < 10).select("doc_id", "lang", "source").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus statistics & training-batch assembly (operators/corpus.py):
# TF-IDF term weighting, Gopher-style repetition signals, token-budget
# sequence packing, stratified sampling, embedding norm profiles.
# ---------------------------------------------------------------------------

from power_generation_etl_spark.operators import corpus as cp  # noqa: E402


@_register(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    st AS (
      SELECT term, count(*) AS df_docs, CAST(sum(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY 1
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT term, df_docs, total_tf,
           round(total_tf * ln(n_docs * 1.0 / df_docs), 4) AS tfidf
    FROM st, n
    ORDER BY tfidf DESC, term
    LIMIT 40
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-40 terms by summed TF-IDF (ln IDF). Two shuffles —
    (doc_id, term) then (term) — both map-side combined; N is a 1-row
    broadcast, not a driver collect."""
    d = T(spark, sf_dir, "documents")
    return cp.tfidf_top_terms(d, "doc_id", "text", top_n=40)


@_register(
    "doc_repetition",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    big AS (
      SELECT doc_id, array_to_string(t[i.i:i.i+1], ' ') AS bg
      FROM toks, unnest(range(1, len(t))) AS i(i)
    ),
    per AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_bigrams,
             count(*) AS n_distinct,
             CAST(max(c) AS BIGINT) AS top_count
      FROM per GROUP BY 1
    )
    SELECT doc_id, n_bigrams, n_distinct, top_count,
           round(1.0 - n_distinct * 1.0 / n_bigrams, 4) AS dup_bigram_frac,
           round(top_count * 1.0 / n_bigrams, 4) AS top_bigram_frac
    FROM rep
    ORDER BY doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (word-bigram duplicate fraction +
    most-common-bigram fraction) — the Gopher repetition filter family
    as a single window + two doc-keyed aggregations."""
    d = T(spark, sf_dir, "documents")
    return cp.repetition_metrics(d, "doc_id", "text").orderBy("doc_id")


@_register(
    "pack_sequences",
    """
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM tok
    )
    SELECT source, (cum - n_tok) // 2048 AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c
    GROUP BY 1, 2
    ORDER BY source, seq_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget (2048) sequence packing per source shard: exclusive
    prefix-sum integer division assigns docs to training sequences —
    closed-form, per-shard windows (no global ordering)."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", tx.token_count(F.col("text")).alias("n_tok")
    )
    return cp.pack_sequences(toks, "source", "doc_id", "n_tok", budget=2048)


@_register(
    "stratified_doc_sample",
    """
    WITH h AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               AS hk
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM h
    )
    SELECT doc_id, lang
    FROM r
    WHERE rn <= CAST(ceil(n * 0.2) AS BIGINT)
    ORDER BY doc_id
    """,
)
def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 20% sample per language: lowest
    portable-hash rows per stratum, exact proportional share for every
    stratum (vs the global hash-mod sample's per-stratum variance)."""
    d = T(spark, sf_dir, "documents")
    hk = mh.portable_hash32(F.col("doc_id").cast("string"))
    return cp.stratified_sample(d, "lang", "doc_id", hk, fraction=0.2).orderBy(
        "doc_id"
    )


@_register(
    "embedding_norm_stats",
    """
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (
      SELECT label,
             sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
      FROM v
    )
    SELECT label, count(*) AS n_vecs,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM n
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding L2-norm profile (count/avg/min/max) — the
    sanity scan a vector pipeline runs before indexing (un-normalized
    or degenerate vectors break cosine ANN). Sequential-fold norm,
    single aggregation."""
    e = T(spark, sf_dir, "embeddings")
    nrm = sim.norm(sim.as_double_array(F.col("embedding")))
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
        .orderBy("label")
    )


@_register(
    "filtered_ann_topk",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v, d.lang, d.source
      FROM embeddings e
      JOIN documents d ON e.vec_id = d.doc_id
      WHERE e.vec_id <> 0 AND d.lang = 'en'
    )
    SELECT vec_id, lang, source, round({_COS_SQL}, 4) AS cosine_sim
    FROM s, q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filtered ANN: top-k cosine restricted by a METADATA
    predicate (English documents only) — the filtered-vector-search
    pattern real systems need (post-filtering a plain top-k under-
    fills k when the predicate is selective). The metadata join runs
    BEFORE scoring, so the kernel touches only qualifying vectors, and
    the predicate/join-key scan prunes columns (no document bodies
    move)."""
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return local_frame(
            spark, [], "vec_id bigint, lang string, source string, cosine_sim double"
        )
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    d = (
        T(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"), "lang", "source")
    )
    joined = e.join(d, "vec_id")
    qa = F.array(*[F.lit(float(x)) for x in qv])
    score = sim.cosine(sim.as_double_array(F.col("embedding")), qa)
    return (
        joined.select(
            "vec_id", "lang", "source", F.round(score, 4).alias("cosine_sim")
        )
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


@_register(
    "weighted_doc_sample",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 2000 < n_chars // 2
    ORDER BY doc_id
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LENGTH-WEIGHTED sampling: each doc kept with
    probability proportional to n_chars (~1% per 40 chars) — the
    pattern for oversampling long/high-value documents in a training
    mix. Membership is exact integer arithmetic over a portable hash
    (hash mod M < weight), so the sample is reproducible across
    engines, runs, and partitionings — no RNG, no float boundary."""
    d = T(spark, sf_dir, "documents")
    bucket = F.pmod(mh.portable_hash32(F.col("doc_id").cast("string")), F.lit(2000))
    weight = F.expr("n_chars div 2")
    return (
        d.filter(bucket < weight).select("doc_id", "n_chars").orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Containment near-dup: |A∩B| / min(|A|,|B|) over the same inverted
# shingle index — the asymmetric screen that catches a short document
# embedded inside a long one (Jaccard structurally misses those: a
# fully-contained 50-shingle doc in a 1000-shingle doc scores ≈0.05
# symmetric but 1.0 containment).
# ---------------------------------------------------------------------------


@_register(
    "ngram_containment_pairs",
    f"""
    WITH {_SH_CTES},
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(c * 1.0 / least(ca.n, cb.n), 4) AS containment
    FROM inter
    JOIN cnt ca ON inter.id_a = ca.doc_id
    JOIN cnt cb ON inter.id_b = cb.doc_id
    WHERE round(c * 1.0 / least(ca.n, cb.n), 4) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return mh.exact_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, metric="containment",
        max_candidates=mh.DEFAULT_ALLPAIRS_MAX_CANDIDATES,  # env-independent oracle output
    )


@_register(
    "vocab_oov_coverage",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    freq AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    vocab AS (SELECT tok FROM freq ORDER BY c DESC, tok LIMIT 30),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (tok NOT IN (SELECT tok FROM vocab))
                  AS BIGINT) AS n_oov
      FROM t GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_oov,
           CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm
    FROM per_doc ORDER BY doc_id
    """,
)
def vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage profile: per-doc out-of-vocabulary rate
    against the corpus top-30 vocabulary (`corpus.vocab_oov`)."""
    d = T(spark, sf_dir, "documents")
    return cp.vocab_oov(d, "doc_id", "text", vocab_size=30).orderBy("doc_id")


# Registered with the IDENTICAL oracle SQL as `ngram_jaccard_pairs`:
# two independent Spark plans (full inverted index vs AllPairs prefix
# filtering) must both reproduce the same DuckDB truth — the candidate
# strategy is an optimization, never a semantics change.
@_register("prefix_jaccard_pairs", ORACLES["ngram_jaccard_pairs"])
def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs via AllPairs prefix filtering — only the
    rare head of each doc's shingle list enters candidate generation
    (zero recall loss, `operators/minhash.py::prefix_jaccard_pairs`)."""
    d = T(spark, sf_dir, "documents")
    return mh.prefix_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_candidates=mh.DEFAULT_ALLPAIRS_MAX_CANDIDATES
    )  # pinned: env-independent oracle output


# The df_cap rarity knob (r8: added after derived-corpus probes showed
# candidate volume going quadratic on uniform corpora). Unlike the
# uncapped entry — whose oracle is the FULL-index truth, because the
# prefix filter is lossless there — the capped variant changes WHICH
# pairs are found, so its oracle mirrors the capped candidate
# generation itself: df-ranked prefixes, cap filter, candidate join,
# exact verification. The prefix-length arithmetic runs in DOUBLE on
# both engines (DuckDB's bare 0.4999 literal would be DECIMAL —
# exact-decimal ceil diverges from Spark's IEEE-double ceil at integer
# boundaries).
_PREFIX_DF_CAP = 4  # bites at every shipped sf (max df: 7 @0.01, 25 @0.1)


def _prefix_capped_oracle(threshold: float = 0.5, cap: int = _PREFIX_DF_CAP) -> str:
    t_eff = threshold - 1e-4
    return f"""
    WITH {_SH_CTES},
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
    pref AS (
      SELECT doc_id, s FROM (
        SELECT sh.doc_id, sh.s, dfreq.df, cnt.n,
               row_number() OVER (
                 PARTITION BY sh.doc_id ORDER BY dfreq.df, sh.s
               ) AS r
        FROM sh JOIN dfreq USING (s) JOIN cnt USING (doc_id)
      )
      WHERE r <= n - CAST(ceil(CAST({t_eff} AS DOUBLE) * n) AS BIGINT) + 1
        AND df <= {cap}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT id_a, id_b, count(*) AS c
      FROM cands
      JOIN sh sa ON sa.doc_id = cands.id_a
      JOIN sh sb ON sb.doc_id = cands.id_b AND sb.s = sa.s
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c * 1.0 / (ca.n + cb.n - c), 4) AS jaccard
    FROM inter
    JOIN cnt ca ON inter.id_a = ca.doc_id
    JOIN cnt cb ON inter.id_b = cb.doc_id
    WHERE round(c * 1.0 / (ca.n + cb.n - c), 4) >= {threshold}
    ORDER BY id_a, id_b
    """


@_register("prefix_jaccard_capped", _prefix_capped_oracle())
def prefix_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df_cap'd AllPairs variant — the linear-in-N plan for
    corpora whose shingle frequencies grow with corpus size (uniform /
    synthetic text; SCALING_MEASURED.md measures the uncapped form at
    alpha~2 there). Shingles above the cap generate no candidates;
    verification similarity stays exact."""
    d = T(spark, sf_dir, "documents")
    return mh.prefix_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, df_cap=_PREFIX_DF_CAP
    )


@_register(
    "label_centroid_profile",
    """
    WITH v AS (
      SELECT label, embedding FROM embeddings WHERE embedding IS NOT NULL
    ),
    comp AS (
      SELECT label, i.i AS dim,
             CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT)
                 AS q
      FROM v, unnest(range(1, len(embedding) + 1)) AS i(i)
    ),
    sums AS (
      SELECT label, dim, CAST(sum(q) AS BIGINT) AS sq
      FROM comp GROUP BY label, dim
    ),
    n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM v GROUP BY label),
    norm2 AS (
      SELECT sums.label,
             CAST(sum((sq // n_vecs) * (sq // n_vecs)) AS BIGINT) AS nsq
      FROM sums JOIN n ON sums.label = n.label
      GROUP BY sums.label
    )
    SELECT n.label, n_vecs,
           CAST(floor(sqrt(CAST(nsq AS DOUBLE))) AS BIGINT)
               AS centroid_l2_x1e6
    FROM n JOIN norm2 ON n.label = norm2.label
    ORDER BY n.label
    """,
)
def label_centroid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid magnitude profile with EXACT arithmetic:
    components are quantized to integer millionths, per-dimension sums
    and the mean (integer div) are exact, and the final magnitude is
    floor(sqrt(Σ mean²)) — IEEE sqrt is correctly rounded, so even the
    one float op is bit-identical across engines (unlike log/exp).
    The well-clustered-labels sanity check: a centroid magnitude near
    zero means the label's vectors cancel (not a cluster); near the
    per-vector norm means tight clustering. One (label, dim) shuffle of
    integer sums — vectors never move whole."""
    e = T(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    comp = e.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim0", "x"),
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").alias("q"),
    )
    sums = comp.groupBy("label", "dim").agg(F.sum("q").cast("bigint").alias("sq"))
    n = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    norm2 = (
        sums.join(F.broadcast(n), "label")
        .select("label", F.expr("(sq div n_vecs) * (sq div n_vecs)").alias("t"))
        .groupBy("label")
        .agg(F.sum("t").cast("bigint").alias("nsq"))
    )
    return (
        n.join(norm2, "label")
        .select(
            "label",
            "n_vecs",
            F.expr("CAST(floor(sqrt(CAST(nsq AS DOUBLE))) AS BIGINT)").alias(
                "centroid_l2_x1e6"
            ),
        )
        .orderBy("label")
    )


def _pq_adc_oracle(
    m: int = 4, k_sub: int = 8, iters: int = 2, topk: int = 10
) -> str:
    """Generated DuckDB twin of pq_train + pq_topk: per-subspace
    Lloyd's unrolled as CTE pairs (same lowest-id seeds, 6-dp-rounded
    centroid trajectory, lowest-cell tie-breaks as `_kmeans_ivf_oracle`),
    then code assignment by final-codebook argmin and the ADC sum as a
    left-to-right add of per-subspace lookup joins — every double
    reproduces the Spark literal bit-for-bit."""
    sub = _EMBED_DIM // m
    d2 = (
        "list_aggregate(list_transform(range(1, len(s.s) + 1),"
        " i -> (s.s[i] - c.cv[i]) * (s.s[i] - c.cv[i])), 'sum')"
    )
    qd2 = (
        "list_aggregate(list_transform(range(1, len(q.qs) + 1),"
        " i -> (q.qs[i] - c.cv[i]) * (q.qs[i] - c.cv[i])), 'sum')"
    )
    parts = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings"
        " WHERE embedding IS NOT NULL)",
        "qv AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)",
    ]
    code_joins, lut_joins, adc_terms = [], [], []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f"s{j} AS (SELECT vec_id, e[{lo}:{hi}] AS s FROM v)")
        parts.append(f"q{j} AS (SELECT qe[{lo}:{hi}] AS qs FROM qv)")
        parts.append(
            f"c{j}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,"
            f" s AS cv FROM (SELECT vec_id, s FROM s{j} ORDER BY vec_id"
            f" LIMIT {k_sub}))"
        )
        for it in range(1, iters + 1):
            prev = f"c{j}_{it - 1}"
            parts.append(
                f"a{j}_{it} AS (SELECT vec_id, s, cell FROM ("
                f"SELECT s.vec_id, s.s, c.cell,"
                f" row_number() OVER (PARTITION BY s.vec_id ORDER BY {d2},"
                f" c.cell) AS rn FROM s{j} s, {prev} c) WHERE rn = 1)"
            )
            parts.append(
                f"c{j}_{it} AS (SELECT cell, list(ci ORDER BY i) AS cv FROM ("
                f"SELECT cell, i.i AS i, round(avg(s[i.i]), 6) AS ci"
                f" FROM a{j}_{it}, unnest(range(1, {sub + 1})) AS i(i)"
                f" GROUP BY cell, i.i) GROUP BY cell)"
            )
        last = f"c{j}_{iters}"
        parts.append(
            f"code{j} AS (SELECT vec_id, cell FROM ("
            f"SELECT s.vec_id, c.cell,"
            f" row_number() OVER (PARTITION BY s.vec_id ORDER BY {d2},"
            f" c.cell) AS rn FROM s{j} s, {last} c) WHERE rn = 1)"
        )
        parts.append(
            f"lut{j} AS (SELECT c.cell, {qd2} AS ld FROM {last} c, q{j} q)"
        )
        code_joins.append(
            f"JOIN code{j} ON v.vec_id = code{j}.vec_id"
        )
        lut_joins.append(f"JOIN lut{j} ON code{j}.cell = lut{j}.cell")
        adc_terms.append(f"lut{j}.ld")
    adc = " + ".join(adc_terms)
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT v.vec_id, round({adc}, 4) AS adc_d2
    FROM v {' '.join(code_joins)} {' '.join(lut_joins)}
    ORDER BY adc_d2, v.vec_id
    LIMIT {topk}
    """
    )


@_register("pq_adc_topk", _pq_adc_oracle())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-k via asymmetric distance computation:
    4 subspaces × 8 sub-centroids (64× vector compression at scale),
    query-to-centroid lookup tables as driver literals, ranked by the
    fixed-order ADC sum (`operators/similarity.py::pq_topk`)."""
    e = T(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return local_frame(spark, [], "vec_id bigint, adc_d2 double")
    return sim.pq_topk(e, "vec_id", "embedding", qv, m=4, k_sub=8, iters=2, k=10)


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (Lucene idf) over the documents corpus — the
# ranking half of a text-search stack (the persisted inverted index in
# store.py provides the lookup half). Score arithmetic is engineered
# for cross-engine bit-equality: the tf-saturation factor combines
# exact integer inputs with fixed-association IEEE double ops (the
# S-scale constants leave int64 before any per-row multiply, so no
# product overflows at corpus scale), idf literals are computed
# driver-side with the same C math library the oracle's ln() resolves
# to, and the per-term products sum in fixed order.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["vector", "stream", "window"]


def _bm25_oracle(tail: str = "") -> str:
    t1, t2, t3 = _BM25_TERMS
    tf_cols = ", ".join(
        "CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), "
        f"x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    # Mirrors operators/text.py::bm25_scores exactly: the S-scale
    # constants (44·S, 20·S, 6·S) go to DOUBLE before the tf multiply
    # (no S·tf bigint product — int64 overflow at corpus scale), the
    # only integer product is 18·dl·n, and the den additions associate
    # left — fixed-order IEEE ops are bit-identical across engines.
    score_terms = " + ".join(
        f"ln((g.n + 1.0) / (d.df{i} + 0.5)) * "
        f"((CAST(44 * g.s AS DOUBLE) * CAST(h.tf{i} AS DOUBLE)) / "
        f"(CAST(20 * g.s AS DOUBLE) * CAST(h.tf{i} AS DOUBLE) "
        f"+ CAST(6 * g.s AS DOUBLE) + CAST(18 * h.dl * g.n AS DOUBLE)))"
        for i in range(len(_BM25_TERMS))
    )
    df_cols = ", ".join(
        f"CAST(count_if(tf{i} > 0) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH l AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS dl,
               {tf_cols}
        FROM documents WHERE text IS NOT NULL
    ),
    h AS (SELECT * FROM l WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s
          FROM l),
    d AS (SELECT {df_cols} FROM h)
    SELECT h.doc_id, {score_terms} AS score
    FROM h CROSS JOIN g CROSS JOIN d{tail}
    """


def _bm25_oracle_topk() -> str:
    return _bm25_oracle(
        tail="""
    ORDER BY score DESC, h.doc_id
    LIMIT 20"""
    )


@_register("bm25_doc_scores", _bm25_oracle_topk())
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 (k1=1.2, b=0.75) for a fixed 3-term
    query. One explode+groupBy pass over matching tokens; N/S/df are
    two 1-row driver aggregates; the corpus is never sorted — the
    top-20 compiles to TakeOrderedAndProject."""
    d = T(spark, sf_dir, "documents")
    scored = tx.bm25_scores(d, "doc_id", "text", _BM25_TERMS)
    return scored.orderBy(F.desc("score"), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-50
# and the dense cosine top-50 (RRF, Cormack et al.) — the standard
# fusion for lexical+vector search. Both candidate lists are tiny
# (LIMIT 50), so the rank windows run over ≤50 rows by construction;
# the fusion scores are sums of exact 1/(60+rank) divisions — same
# IEEE ops in both engines.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPK = 50


def _hybrid_oracle() -> str:
    return f"""
    WITH lex AS ({_bm25_oracle()}),
    lexr AS (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rl
        FROM lex ORDER BY score DESC, doc_id LIMIT {_RRF_TOPK}
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id <> 0),
    den AS (
        SELECT vec_id AS doc_id, round({_COS_SQL}, 4) AS cs
        FROM s, q ORDER BY cs DESC, doc_id LIMIT {_RRF_TOPK}
    ),
    denr AS (
        SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id) AS rd
        FROM den
    )
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + a.rl), 0)
             + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + b.rd), 0) AS rrf
    FROM lexr a FULL JOIN denr b ON a.doc_id = b.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """


@_register("hybrid_search_rrf", _hybrid_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 by reciprocal-rank fusion of BM25 (3 fixed terms) and
    cosine (shared query vector, vec_id 0 excluded as in
    `ann_topk_cosine`). The corpus-scale work is the two top-k
    generators; fusion itself touches 2×50 rows."""
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents")
    lex50 = (
        tx.bm25_scores(d, "doc_id", "text", _BM25_TERMS)
        .orderBy(F.desc("score"), "doc_id")
        .limit(_RRF_TOPK)
    )
    lexr = lex50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("rl"),
    )
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        den50 = local_frame(spark, [], "doc_id bigint, cosine_sim double")
    else:
        den50 = sim.brute_force_topk(
            e, "vec_id", "embedding", qv, k=_RRF_TOPK
        ).withColumnRenamed("vec_id", "doc_id")
    denr = den50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine_sim"), "doc_id"))
        .alias("rd"),
    )
    fused = lexr.join(denr, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rl")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rd")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# Unigram rarity scoring — the LM-based quality signal without the
# float-summation hazard: Σ (T div c_t) over exact integer corpus
# counts is order-free and engine-identical, unlike a mean log-prob
# (doubles summed in aggregation order). Corpus total T is a driver
# literal on the Spark side; the oracle carries it as a 1-row cross.
# ---------------------------------------------------------------------------


@_register(
    "doc_rarity_scores",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY t),
    g AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM toks)
    SELECT toks.doc_id,
           CAST(sum(g.tot // c.cnt) AS BIGINT) AS rarity,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(g.tot // c.cnt) // count(*) AS BIGINT) AS avg_rarity
    FROM toks JOIN c USING (t) CROSS JOIN g
    GROUP BY toks.doc_id
    ORDER BY toks.doc_id
    """,
)
def doc_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return tx.rarity_scores(d, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE tokenizer training, pair-count stage: the first merge round of
# byte-pair encoding, computed the way BPE is actually trained at
# corpus scale — reduce the corpus to its word-frequency table first
# (vocab-scale: ~1e7 rows at 100 TB, vs 1e13 tokens), then count
# adjacent symbol pairs over the VOCAB weighted by word frequency.
# The corpus is touched exactly once (tokenize + word groupBy with
# map-side combine); every later merge round would iterate on the
# tiny vocab table only — the same unrolled-iteration pattern as the
# k-means IVF training. Top pair = the merge BPE would apply.
# ---------------------------------------------------------------------------


@_register(
    "bpe_pair_stage",
    """
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents
    ),
    wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1),
    pairs AS (
      SELECT substr(w, CAST(i.i AS INTEGER), 1) AS sym_a,
             substr(w, CAST(i.i AS INTEGER) + 1, 1) AS sym_b,
             f
      FROM wf, unnest(range(1, len(w))) AS i(i)
      WHERE len(w) >= 2
    )
    SELECT sym_a, sym_b, CAST(sum(f) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1, 2
    ORDER BY pair_count DESC, sym_a, sym_b
    LIMIT 20
    """,
)
def bpe_pair_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs by corpus frequency — BPE
    training's first merge candidates. Corpus → word-frequency table
    (one tokenize pass, one map-side-combined groupBy), pair explode
    over the vocab only, TakeOrderedAndProject for the top-k (no
    global sort). Deterministic ties: (count desc, sym_a, sym_b)."""
    d = T(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = (
        wf.where(F.length("w") >= 2)
        .select(
            "w",
            "f",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(
            F.expr("substring(w, i, 1)").alias("sym_a"),
            F.expr("substring(w, i + 1, 1)").alias("sym_b"),
            "f",
        )
    )
    return (
        pairs.groupBy("sym_a", "sym_b")
        .agg(F.sum("f").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "sym_a", "sym_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Full BPE training, k merge rounds: pair-count -> argmax -> merge,
# iterated on the vocab-scale segmented word-frequency table. The
# DuckDB oracle unrolls every round as MATERIALIZED CTE triples with
# scalar subqueries for the learned pattern — the k-means-IVF oracle
# strategy applied to tokenizer training. operators/bpe.py has the
# two-pass merge proof and the 100 TB shape notes.
# ---------------------------------------------------------------------------

from power_generation_etl_spark.operators import bpe as _bpe  # noqa: E402

_BPE_ROUNDS = 4


def _bpe_ctes(rounds: int, final_seg: bool = False) -> str:
    """The unrolled training rounds as CTE text. `final_seg` also
    applies round `rounds`'s merge (the encoder needs s{rounds}; the
    merge-table query stops at m{rounds})."""
    merged = "' ' || replace((SELECT gram FROM m{r}), ' ', '') || ' '"
    pat = "' ' || replace((SELECT gram FROM m{r}), ' ', '  ') || ' '"
    ctes = [
        """wf AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE w <> '' GROUP BY 1
    )""",
        """s0 AS MATERIALIZED (
      SELECT w, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS seg, f
      FROM wf
    )""",
    ]
    for r in range(1, rounds + 1):
        prev = f"s{r - 1}"
        ctes.append(
            f"""p{r} AS MATERIALIZED (
      SELECT array_to_string(t[i.i:i.i+1], ' ') AS gram,
             CAST(sum(f) AS BIGINT) AS cnt
      FROM (SELECT string_split(trim(seg), '  ') AS t, f FROM {prev}) q,
           unnest(range(1, len(t))) AS i(i)
      GROUP BY 1
    )"""
        )
        ctes.append(
            f"""m{r} AS MATERIALIZED (
      SELECT gram, cnt FROM p{r} ORDER BY cnt DESC, gram LIMIT 1
    )"""
        )
        if r < rounds or final_seg:
            p = pat.format(r=r)
            m = merged.format(r=r)
            ctes.append(
                f"""s{r} AS MATERIALIZED (
      SELECT w, replace(seg, {p}, {m}) AS seg, f
      FROM {prev}
    )"""
            )
    return ",\n    ".join(ctes)


def _bpe_oracle(rounds: int) -> str:
    sel = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS round, gram AS merge,"
        f" cnt AS pair_count FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + _bpe_ctes(rounds)
        + f"\n    SELECT * FROM ({sel})\n    ORDER BY round"
    )


@_register("bpe_train_rounds", _bpe_oracle(_BPE_ROUNDS))
def bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First {rounds} learned BPE merges over the corpus: (round,
    merge, pair_count) in learning order — the merge table a tokenizer
    persists. Corpus touched once (word-frequency groupBy); each round
    is one vocab-scale pair aggregation + a 1-row driver collect +
    two literal replaces, localCheckpoint per round."""
    d = T(spark, sf_dir, "documents")
    return _bpe.train_merges(d, "text", rounds=_BPE_ROUNDS).orderBy("round")


@_register(
    "bpe_encode_doc_lengths",
    "WITH "
    + _bpe_ctes(_BPE_ROUNDS, final_seg=True)
    + f""",
    vs AS MATERIALIZED (
      SELECT w, CAST(len(string_split(trim(seg), '  ')) AS BIGINT) AS n_syms
      FROM s{_BPE_ROUNDS}
    ),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_syms) AS BIGINT) AS n_symbols
    FROM (SELECT doc_id, w FROM tok WHERE w <> '') t JOIN vs USING (w)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def bpe_encode_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE over the trained merges: per-document sequence
    length after {rounds} merges — the number a token-budget planner
    (pack_sequences) actually needs. Applying a frozen merge list is a
    vocab join: explode doc words, join the trained segmentation
    (broadcast at real scale — the vocab table is ~1e7 rows no matter
    how big the corpus), sum symbol counts per doc. No per-document
    re-segmentation work at encode time."""
    d = T(spark, sf_dir, "documents")
    seg = _bpe.trained_segmentation(d, "text", rounds=_BPE_ROUNDS)
    vs = seg.select(
        "w",
        F.size(F.split(F.trim(F.col("seg")), "  ")).cast("bigint").alias(
            "n_syms"
        ),
    )
    toks = (
        d.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    return (
        toks.join(F.broadcast(vs), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_symbols"),
        )
        .orderBy("doc_id")
    )


@_register(
    "bpe_fertility_by_lang",
    "WITH "
    + _bpe_ctes(_BPE_ROUNDS, final_seg=True)
    + f""",
    vs AS MATERIALIZED (
      SELECT w, CAST(len(string_split(trim(seg), '  ')) AS BIGINT) AS n_syms
      FROM s{_BPE_ROUNDS}
    ),
    tok AS (
      SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    agg AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(n_syms) AS BIGINT) AS n_symbols
      FROM (SELECT lang, w FROM tok WHERE w <> '') t JOIN vs USING (w)
      GROUP BY lang
    )
    SELECT lang, n_words, n_symbols,
           CAST((n_symbols * 100 // n_words) * 10000
              + ((n_symbols * 100 % n_words) * 100 // n_words) * 100
              + ((n_symbols * 100 % n_words) * 100 % n_words) * 100
                // n_words AS BIGINT) AS fertility_ppm
    FROM agg
    ORDER BY lang
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (BPE symbols per word, exact integer ppm)
    per language — the fairness statistic multilingual tokenizer work
    tracks (languages the merges under-serve pay more sequence length
    per word). Same broadcast-vocab encode as bpe_encode_doc_lengths,
    aggregated by language; the ppm ratio runs through the staged ×100
    long division (customer_spend_gini pattern) so n_symbols ~ 1e13 at
    100 TB never overflows int64 under ANSI."""
    d = T(spark, sf_dir, "documents")
    seg = _bpe.trained_segmentation(d, "text", rounds=_BPE_ROUNDS)
    vs = seg.select(
        "w",
        F.size(F.split(F.trim(F.col("seg")), "  ")).cast("bigint").alias(
            "n_syms"
        ),
    )
    toks = (
        d.where(F.col("text").isNotNull())
        .select(
            "lang",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    return (
        toks.join(F.broadcast(vs), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_symbols"),
        )
        .withColumn(
            "fertility_ppm",
            F.expr(
                "CAST((n_symbols * 100 div n_words) * 10000"
                " + ((n_symbols * 100 % n_words) * 100 div n_words) * 100"
                " + ((n_symbols * 100 % n_words) * 100 % n_words) * 100"
                " div n_words AS BIGINT)"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al., 2023): semantic dedup of the embedding corpus
# — k-means clusters, within-cluster cosine pairs, drop the higher-id
# member above the threshold. The oracle unrolls the identical Lloyd's
# trajectory (seeded centroids, 6-decimal rounding per round, lowest-
# cell tie-break) as CTE pairs, then mirrors the pair join per cell.
# ---------------------------------------------------------------------------

_SEMDEDUP_K = 8
_SEMDEDUP_ITERS = 2
# The published SemDeDup tau is ~0.95 for web-scale corpora full of
# boilerplate near-duplicates; this synthetic corpus has NO near-dups
# (max pairwise cosine ~0.5 at sf0.01), so the catalog entry runs at a
# demo threshold that actually exercises the drop path. The operator
# default stays at 0.95.
_SEMDEDUP_TAU = 0.4


def _semdedup_oracle(
    k: int = _SEMDEDUP_K,
    iters: int = _SEMDEDUP_ITERS,
    threshold: float = _SEMDEDUP_TAU,
) -> str:
    """DuckDB twin of operators.similarity.semdedup: same unrolled
    k-means trajectory as `_kmeans_ivf_oracle`, then within-cell pairs
    at round(cosine, 4) >= threshold; afin is MATERIALIZED because
    three consumers reference it (both pair sides + the counts)."""
    dim1 = _EMBED_DIM + 1
    d2 = (
        "list_aggregate(list_transform(range(1, len(v.e) + 1),"
        " i -> (v.e[i] - c.cv[i]) * (v.e[i] - c.cv[i])), 'sum')"
    )

    def cos(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, len({a}) + 1),"
            f" i -> {a}[i] * {b}[i]), 'sum')"
            f" / (sqrt(list_aggregate(list_transform({a}, x -> x * x), 'sum'))"
            f" * sqrt(list_aggregate(list_transform({b}, x -> x * x), 'sum')))"
        )

    steps = []
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        steps.append(f"""a{it} AS (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {d2}, c.cell) AS rn
        FROM v, {prev} c) WHERE rn = 1
    ),
    c{it} AS (
      SELECT cell, list(ci ORDER BY i) AS cv FROM (
        SELECT cell, i.i AS i, round(avg(e[i.i]), 6) AS ci
        FROM a{it}, unnest(range(1, {dim1})) AS i(i) GROUP BY cell, i.i
      ) GROUP BY cell
    )""")
    last = f"c{iters}"
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS cv
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k})
    ),
    {unrolled},
    afin AS MATERIALIZED (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {d2}, c.cell) AS rn
        FROM v, {last} c) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT a.cell, b.vec_id AS id2
      FROM afin a JOIN afin b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round({cos('a.e', 'b.e')}, 4) >= {threshold}
    ),
    counts AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
      FROM afin GROUP BY cell
    ),
    drops AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n_dropped
      FROM dropped GROUP BY cell
    )
    SELECT CAST(counts.cell AS INTEGER) AS cell, n_vectors,
           CAST(coalesce(drops.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM counts LEFT JOIN drops ON counts.cell = drops.cell
    ORDER BY cell
    """


@_register("semdedup_embeddings", _semdedup_oracle())
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup per-cluster dedup report over the embeddings corpus
    (operators/similarity.py::semdedup): k-means cells bound the pair
    join to O(Σ cluster²); higher-id members of >= tau cosine pairs
    are the drop set."""
    e = T(spark, sf_dir, "embeddings")
    return sim.semdedup(
        e,
        "vec_id",
        "embedding",
        k=_SEMDEDUP_K,
        iters=_SEMDEDUP_ITERS,
        threshold=_SEMDEDUP_TAU,
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al., 2023): rank raw documents by how
# much their hashed-bigram distribution resembles the labeled-English
# target slice. Per-bucket log-ratios are driver-computed libm literals
# (the bm25 idf pattern), floor-scaled to ppm; per-doc scores are exact
# bigint sums — order-free on both engines.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 64


@_register(
    "dsir_importance_weights",
    f"""
    WITH toks AS (
        SELECT doc_id, (lang = 'en') AS is_t,
               string_split_regex(lower(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
        SELECT doc_id, is_t,
               CAST(('0x' || substr(md5(t[i.i] || ' ' || t[i.i + 1]), 1, 8))
                    AS BIGINT) % {_DSIR_BUCKETS} AS b
        FROM toks, unnest(range(1, len(t))) AS i(i)
    ),
    tot AS (
        SELECT b, CAST(count(*) AS BIGINT) AS cr,
               CAST(count_if(is_t) AS BIGINT) AS ct
        FROM bg GROUP BY b
    ),
    s AS (SELECT CAST(sum(cr) AS BIGINT) AS sr, CAST(sum(ct) AS BIGINT) AS st
          FROM tot),
    w AS (
        SELECT b,
               CAST(floor(ln(CAST((ct + 1) * (sr + {_DSIR_BUCKETS}) AS DOUBLE) /
                             CAST((cr + 1) * (st + {_DSIR_BUCKETS}) AS DOUBLE))
                          * 1000000) AS BIGINT) AS w_ppm
        FROM tot, s
    ),
    cnt AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
            FROM bg GROUP BY 1, 2)
    SELECT doc_id, CAST(sum(c * w_ppm) AS BIGINT) AS weight_ppm
    FROM cnt JOIN w USING (b)
    GROUP BY doc_id
    ORDER BY weight_ppm DESC, doc_id
    LIMIT 100
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 most target-like documents by DSIR hashed-bigram
    importance weight, target = the lang='en' slice
    (operators/text.py::dsir_importance_weights)."""
    d = T(spark, sf_dir, "documents")
    scored = tx.dsir_importance_weights(
        d, "doc_id", "text", F.col("lang") == "en", n_buckets=_DSIR_BUCKETS
    )
    return scored.orderBy(F.desc("weight_ppm"), "doc_id").limit(100)


# ---------------------------------------------------------------------------
# ExactSubstr duplicated spans (Lee et al., 2021): positions whose
# L-token window repeats anywhere in the corpus, interval-merged per
# document. The oracle builds the identical L-grams by list slicing
# and mirrors the digest count + running-max island merge. L=20 here
# (the synthetic docs average ~54 tokens; the operator default is the
# published 50).
# ---------------------------------------------------------------------------

_XSUB_L = 20


@_register(
    "exact_substring_dup_spans",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    ntok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
    grams AS (
      SELECT doc_id, i.i AS pos,
             md5(array_to_string(t[i.i:i.i+{_XSUB_L - 1}], ' ')) AS g
      FROM toks, unnest(range(1, len(t) - {_XSUB_L} + 2)) AS i(i)
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
    hits AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {_XSUB_L}) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) >= pos THEN 0 ELSE 1 END AS new_iv
      FROM hits
    ),
    islands AS (
      SELECT doc_id, pos,
             CAST(sum(new_iv) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS island
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, island, CAST(count(*) AS BIGINT) AS n_pos,
             max(pos) + {_XSUB_L} - min(pos) AS covered
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, CAST(sum(n_pos) AS BIGINT) AS n_dup_grams,
             CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(covered) AS BIGINT) AS dup_tokens
      FROM merged GROUP BY doc_id
    )
    SELECT n.doc_id, n.n_tokens,
           CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(coalesce(p.dup_tokens, 0) * 1000000 // n.n_tokens AS BIGINT)
             AS dup_ppm
    FROM ntok n LEFT JOIN per_doc p USING (doc_id)
    ORDER BY doc_id
    """,
)
def exact_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. ExactSubstr duplicated-span report
    (operators/corpus.py::exact_substring_spans): repeated L-gram
    positions via a digest-only groupBy, per-doc interval merge —
    suffix-array semantics without a suffix array or global sort."""
    d = T(spark, sf_dir, "documents")
    return cp.exact_substring_spans(d, "doc_id", "text", length=_XSUB_L)


# ---------------------------------------------------------------------------
# IVF-PQ (FAISS IndexIVFPQ, by_residual=False): coarse k-means prunes
# to the probed cells, PQ-ADC ranks inside them. The oracle glues the
# two existing unrolled trajectories — the coarse Lloyd's CTE chain
# (a{it}/c{it}, as _kmeans_ivf_oracle) and the per-subspace chains
# (a{j}_{it}/c{j}_{it}, as _pq_adc_oracle) — and filters the ADC
# ranking to the probed cell set.
# ---------------------------------------------------------------------------


def _ivfpq_oracle(
    n_cells: int = 8,
    coarse_iters: int = 2,
    probe_fraction: float = 0.25,
    m: int = 4,
    k_sub: int = 8,
    iters: int = 1,
    topk: int = 10,
    residual: bool = False,
) -> str:
    dim1 = _EMBED_DIM + 1
    sub = _EMBED_DIM // m
    gd2 = (
        "list_aggregate(list_transform(range(1, len(v.e) + 1),"
        " i -> (v.e[i] - c.cv[i]) * (v.e[i] - c.cv[i])), 'sum')"
    )
    sd2 = (
        "list_aggregate(list_transform(range(1, len(s.s) + 1),"
        " i -> (s.s[i] - c.cv[i]) * (s.s[i] - c.cv[i])), 'sum')"
    )
    qd2 = (
        "list_aggregate(list_transform(range(1, len(q.qs) + 1),"
        " i -> (q.qs[i] - c.cv[i]) * (q.qs[i] - c.cv[i])), 'sum')"
    )

    def cos(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, len({a}) + 1),"
            f" i -> {a}[i] * {b}[i]), 'sum')"
            f" / (sqrt(list_aggregate(list_transform({a}, x -> x * x), 'sum'))"
            f" * sqrt(list_aggregate(list_transform({b}, x -> x * x), 'sum')))"
        )

    parts = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings"
        " WHERE embedding IS NOT NULL)",
        "qq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS cv"
        f" FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {n_cells}))",
    ]
    for it in range(1, coarse_iters + 1):
        prev = f"c{it - 1}"
        parts.append(
            f"a{it} AS (SELECT vec_id, e, cell FROM ("
            f"SELECT v.vec_id, v.e, c.cell,"
            f" row_number() OVER (PARTITION BY v.vec_id ORDER BY {gd2},"
            f" c.cell) AS rn FROM v, {prev} c) WHERE rn = 1)"
        )
        parts.append(
            f"c{it} AS (SELECT cell, list(ci ORDER BY i) AS cv FROM ("
            f"SELECT cell, i.i AS i, round(avg(e[i.i]), 6) AS ci"
            f" FROM a{it}, unnest(range(1, {dim1})) AS i(i)"
            f" GROUP BY cell, i.i) GROUP BY cell)"
        )
    glast = f"c{coarse_iters}"
    parts.append(
        f"ranked AS (SELECT cell, {cos('cv', 'qv')} AS cell_sim"
        f" FROM {glast}, qq)"
    )
    parts.append(
        f"probed AS (SELECT cell FROM ranked ORDER BY cell_sim DESC, cell"
        f" LIMIT (SELECT CAST(ceil(count(*) * {probe_fraction}) AS BIGINT)"
        f" FROM ranked))"
    )
    parts.append(
        f"afin AS MATERIALIZED (SELECT vec_id, cell FROM ("
        f"SELECT v.vec_id, c.cell,"
        f" row_number() OVER (PARTITION BY v.vec_id ORDER BY {gd2},"
        f" c.cell) AS rn FROM v, {glast} c) WHERE rn = 1)"
    )
    if residual:
        # every subspace CTE references the residual table — MATERIALIZED
        # or DuckDB's CTE inlining re-expands the full assignment m times
        parts.append(
            f"rres AS MATERIALIZED (SELECT a.vec_id, a.cell,"
            f" list_transform(range(1, {dim1}), i -> v.e[i] - g.cv[i]) AS re"
            f" FROM afin a JOIN v ON a.vec_id = v.vec_id"
            f" JOIN {glast} g ON a.cell = g.cell)"
        )
    code_joins, lut_joins, adc_terms = [], [], []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        if residual:
            parts.append(
                f"s{j} AS (SELECT vec_id, re[{lo}:{hi}] AS s FROM rres)"
            )
        else:
            parts.append(f"s{j} AS (SELECT vec_id, e[{lo}:{hi}] AS s FROM v)")
            parts.append(f"q{j} AS (SELECT qv[{lo}:{hi}] AS qs FROM qq)")
        parts.append(
            f"c{j}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,"
            f" s AS cv FROM (SELECT vec_id, s FROM s{j} ORDER BY vec_id"
            f" LIMIT {k_sub}))"
        )
        for it in range(1, iters + 1):
            prev = f"c{j}_{it - 1}"
            parts.append(
                f"a{j}_{it} AS (SELECT vec_id, s, cell FROM ("
                f"SELECT s.vec_id, s.s, c.cell,"
                f" row_number() OVER (PARTITION BY s.vec_id ORDER BY {sd2},"
                f" c.cell) AS rn FROM s{j} s, {prev} c) WHERE rn = 1)"
            )
            parts.append(
                f"c{j}_{it} AS (SELECT cell, list(ci ORDER BY i) AS cv FROM ("
                f"SELECT cell, i.i AS i, round(avg(s[i.i]), 6) AS ci"
                f" FROM a{j}_{it}, unnest(range(1, {sub + 1})) AS i(i)"
                f" GROUP BY cell, i.i) GROUP BY cell)"
            )
        blast = f"c{j}_{iters}"
        parts.append(
            f"code{j} AS (SELECT vec_id, cell FROM ("
            f"SELECT s.vec_id, c.cell,"
            f" row_number() OVER (PARTITION BY s.vec_id ORDER BY {sd2},"
            f" c.cell) AS rn FROM s{j} s, {blast} c) WHERE rn = 1)"
        )
        if residual:
            # query-residual LUT per coarse cell: the same
            # ((q[i] - g.cv[i]) - c.cv[i]) left-associated fold the
            # Spark driver computes in Python
            qres_d2 = (
                f"list_aggregate(list_transform(range(1, {sub + 1}),"
                f" i -> (qq.qv[{lo} + i - 1] - g.cv[{lo} + i - 1] - c.cv[i])"
                f" * (qq.qv[{lo} + i - 1] - g.cv[{lo} + i - 1] - c.cv[i])),"
                f" 'sum')"
            )
            parts.append(
                f"lut{j} AS (SELECT g.cell AS gcell, c.cell AS code,"
                f" {qres_d2} AS ld FROM {glast} g, {blast} c, qq)"
            )
            lut_joins.append(
                f"JOIN lut{j} ON lut{j}.gcell = afin.cell"
                f" AND lut{j}.code = code{j}.cell"
            )
        else:
            parts.append(
                f"lut{j} AS (SELECT c.cell, {qd2} AS ld FROM {blast} c, q{j} q)"
            )
            lut_joins.append(f"JOIN lut{j} ON code{j}.cell = lut{j}.cell")
        code_joins.append(f"JOIN code{j} ON v.vec_id = code{j}.vec_id")
        adc_terms.append(f"lut{j}.ld")
    adc = " + ".join(adc_terms)
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT v.vec_id, CAST(afin.cell AS INTEGER) AS cell,
           round({adc}, 4) AS adc_d2
    FROM v JOIN afin ON v.vec_id = afin.vec_id
    {' '.join(code_joins)} {' '.join(lut_joins)}
    WHERE afin.cell IN (SELECT cell FROM probed)
    ORDER BY adc_d2, v.vec_id
    LIMIT {topk}
    """
    )


@_register("ivfpq_adc_topk", _ivfpq_oracle())
def ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving-layout top-k
    (operators/similarity.py::ivfpq_topk): coarse cells prune the scan,
    PQ-ADC ranks the probed subset — cell pruning × 64× code
    compression, the FAISS IndexIVFPQ composition."""
    e = T(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return local_frame(spark, [], "vec_id bigint, cell int, adc_d2 double")
    return sim.ivfpq_topk(
        e,
        "vec_id",
        "embedding",
        qv,
        n_cells=8,
        coarse_iters=2,
        n_probe_fraction=0.25,
        m=4,
        k_sub=8,
        iters=1,
        k=10,
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity filtering (Wenzek et al. 2020), with the LM a
# corpus-trained add-one bigram model: per-doc mean surprisal in exact
# integer micro-nats. ln evaluates only on integer-valued doubles —
# Python/glibc builds the Spark-side LUT, the oracle runs DuckDB's
# std::log on the identical inputs (the bm25 idf equivalence).
# ---------------------------------------------------------------------------

from power_generation_etl_spark.operators import scoring as _scoring  # noqa: E402


@_register(
    "bigram_lm_surprisal",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    voc AS (
      SELECT CAST(count(DISTINCT t[i.i]) AS BIGINT) AS v
      FROM toks, unnest(range(1, len(t) + 1)) AS i(i)
    ),
    big AS (
      SELECT doc_id, t[i.i] AS w1, t[i.i + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS i(i)
    ),
    c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
    sc AS (
      SELECT doc_id,
             CAST(floor(ln(CAST(c1.c1 + voc.v AS DOUBLE)) * 1000000)
                  - floor(ln(CAST(c2.c2 + 1 AS DOUBLE)) * 1000000)
                  AS BIGINT) AS s
      FROM big
      JOIN c2 USING (w1, w2)
      JOIN c1 USING (w1), voc
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(s) AS BIGINT) AS total_unats,
           CAST(CAST(sum(s) AS BIGINT) // count(*) AS BIGINT) AS mean_unats
    FROM sc GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def bigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram-LM surprisal in exact integer micro-nats
    (operators/scoring.py::bigram_lm_surprisal) — the perplexity-filter
    ranking of the CCNet pipeline, reproduced bit-for-bit across
    engines via the distinct-count-domain ln LUT."""
    d = T(spark, sf_dir, "documents")
    return _scoring.bigram_lm_surprisal(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# Distributed suffix array (prefix doubling): the top of the corpus-
# wide lexicographic suffix order, previewed. The oracle sorts the
# materialized suffix strings directly — valid because tokens contain
# no whitespace, so joining with ' ' (below every token character)
# reproduces token-wise order with end-of-suffix first.
# ---------------------------------------------------------------------------

from power_generation_etl_spark.operators import suffix as _suffix  # noqa: E402

_SA_TOPK = 100


@_register(
    "suffix_array_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    sfx AS (
      SELECT doc_id, i.i AS pos,
             array_to_string(t[i.i:len(t)], ' ') AS suffix,
             array_to_string(t[i.i:least(i.i + 4, len(t))], ' ') AS preview
      FROM toks, unnest(range(1, len(t) + 1)) AS i(i)
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY suffix, doc_id, pos) AS sa_rank,
             doc_id, pos, preview
      FROM sfx
    )
    SELECT CAST(sa_rank AS BIGINT) AS sa_rank, doc_id,
           CAST(pos AS INTEGER) AS pos, preview
    FROM ranked WHERE sa_rank <= {_SA_TOPK}
    ORDER BY sa_rank
    """,
)
def suffix_array_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First {_SA_TOPK} suffixes of the corpus-wide suffix array
    (operators/suffix.py::suffix_array — prefix doubling, distributed
    dense ranks, no global window), with a 5-token preview joined back
    from the source text."""
    d = T(spark, sf_dir, "documents")
    sa = _suffix.suffix_array(d, "doc_id", "text")
    top = sa.where(F.col("sa_rank") <= _SA_TOPK)
    toks = d.where(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("_tk")
    )
    return (
        top.join(toks, "doc_id")
        .select(
            "sa_rank",
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.array_join(
                F.slice(
                    F.col("_tk"),
                    F.col("pos"),
                    F.least(F.lit(5), F.size("_tk") - F.col("pos") + 1),
                ),
                " ",
            ).alias("preview"),
        )
        .orderBy("sa_rank")
    )


# ---------------------------------------------------------------------------
# Overlapping token-window chunking (RAG/embedding prep): stride-24
# windows of 32 tokens with 8-token overlap, identity-hashed.
# ---------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_OVERLAP = 32, 8
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


@_register(
    "doc_chunk_spans",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    ks AS (
      SELECT doc_id, t, len(t) AS n, k.k AS k
      FROM toks, unnest(range(0, (len(t) - 1) // {_CHUNK_STRIDE} + 1)) AS k(k)
      WHERE len(t) >= 1
    )
    SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
           CAST(k * {_CHUNK_STRIDE} + 1 AS INTEGER) AS start_pos,
           CAST(least({_CHUNK_SIZE}, n - k * {_CHUNK_STRIDE}) AS INTEGER)
             AS n_tokens,
           md5(array_to_string(
             t[k * {_CHUNK_STRIDE} + 1 :
               least(k * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n)], ' ')) AS chunk_md5
    FROM ks
    ORDER BY doc_id, chunk_id
    """,
)
def doc_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks with verifiable span hashes
    (operators/corpus.py::chunk_spans) — the document-side half of an
    embedding/RAG indexing pipeline."""
    d = T(spark, sf_dir, "documents")
    return cp.chunk_spans(
        d, "doc_id", "text", size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )


@_register("ivfpq_residual_topk", _ivfpq_oracle(residual=True))
def ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ top-k (by_residual=True — FAISS's
    default quality mode): PQ codes the residual against each vector's
    coarse centroid; ADC uses a per-probed-cell query-residual LUT
    (operators/similarity.py::ivfpq_topk)."""
    e = T(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return local_frame(spark, [], "vec_id bigint, cell int, adc_d2 double")
    return sim.ivfpq_topk(
        e,
        "vec_id",
        "embedding",
        qv,
        n_cells=8,
        coarse_iters=2,
        n_probe_fraction=0.25,
        m=4,
        k_sub=8,
        iters=1,
        k=10,
        by_residual=True,
    )


# ---------------------------------------------------------------------------
# Binary sign-quantized ANN (1 bit/dim, mean thresholds) with exact
# cosine re-rank of the Hamming shortlist — the coarsest point on the
# quantization ladder (float -> int8 -> PQ -> binary).
# ---------------------------------------------------------------------------


def _binary_sign_oracle(shortlist: int = 50, topk: int = 10) -> str:
    dim = _EMBED_DIM

    def word(src: str, j_lo: int, j_hi: int, shift_base: int) -> str:
        return (
            f"CAST(list_aggregate(list_transform(range({j_lo}, {j_hi + 1}),"
            f" j -> CASE WHEN {src}[j] > t.tl[j] THEN 1::BIGINT"
            f" << ({shift_base} - j) ELSE 0::BIGINT END), 'sum') AS BIGINT)"
        )

    cos = (
        "list_aggregate(list_transform(range(1, len(e) + 1),"
        " i -> e[i] * qv[i]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum'))"
        " * sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum')))"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE embedding IS NOT NULL),
    qq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    t AS (SELECT list(tv ORDER BY i) AS tl FROM (
        SELECT i.i AS i, round(avg(e[i.i]), 6) AS tv
        FROM v, unnest(range(1, {dim + 1})) AS i(i) GROUP BY i.i)),
    packed AS (SELECT vec_id, e,
        {word('v.e', 1, 32, 32)} AS w0,
        {word('v.e', 33, 64, 64)} AS w1
        FROM v, t),
    qw AS (SELECT
        {word('qq.qv', 1, 32, 32)} AS q0,
        {word('qq.qv', 33, 64, 64)} AS q1
        FROM qq, t),
    short AS (SELECT vec_id, e,
        CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) AS INTEGER)
          AS hamming
        FROM packed, qw ORDER BY hamming, vec_id LIMIT {shortlist})
    SELECT vec_id, hamming, round({cos}, 4) AS cosine_sim
    FROM short, qq
    ORDER BY cosine_sim DESC, vec_id
    LIMIT {topk}
    """


@_register("binary_sign_topk", _binary_sign_oracle())
def binary_sign_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit/dim sign-quantized ANN with exact re-rank
    (operators/similarity.py::binary_sign_topk): codegen
    bit_count(xor) Hamming shortlist, exact cosine final order."""
    e = T(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return local_frame(spark, [], "vec_id bigint, hamming int, cosine_sim double")
    return sim.binary_sign_topk(e, "vec_id", "embedding", qv, shortlist=50, k=10)


# ---------------------------------------------------------------------------
# Matryoshka two-stage retrieval: prefix-dim cosine shortlist, exact
# full-dim re-rank (Kusupati et al. 2022).
# ---------------------------------------------------------------------------


def _matryoshka_oracle(
    prefix_dim: int = 16, shortlist: int = 50, topk: int = 10
) -> str:
    def cos(a: str, b: str) -> str:
        return (
            f"list_aggregate(list_transform(range(1, len({a}) + 1),"
            f" i -> {a}[i] * {b}[i]), 'sum')"
            f" / (sqrt(list_aggregate(list_transform({a}, x -> x * x), 'sum'))"
            f" * sqrt(list_aggregate(list_transform({b}, x -> x * x), 'sum')))"
        )

    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE embedding IS NOT NULL),
    qq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    pre AS (SELECT vec_id, e, e[1:{prefix_dim}] AS ep,
                   qv[1:{prefix_dim}] AS qp, qv
            FROM v, qq),
    short AS (SELECT vec_id, e, qv,
                     round({cos('ep', 'qp')}, 4) AS prefix_sim
              FROM pre ORDER BY prefix_sim DESC, vec_id LIMIT {shortlist})
    SELECT vec_id, prefix_sim, round({cos('e', 'qv')}, 4) AS cosine_sim
    FROM short
    ORDER BY cosine_sim DESC, vec_id
    LIMIT {topk}
    """


@_register("matryoshka_rerank_topk", _matryoshka_oracle())
def matryoshka_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dim shortlist + full-dim exact re-rank
    (operators/similarity.py::matryoshka_rerank_topk): the first stage
    reads a quarter of the float data, the exact stage touches only
    the shortlist."""
    e = T(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return local_frame(
            spark, [], "vec_id bigint, prefix_sim double, cosine_sim double"
        )
    return sim.matryoshka_rerank_topk(
        e, "vec_id", "embedding", qv, prefix_dim=16, shortlist=50, k=10
    )


# ---------------------------------------------------------------------------
# Longest repeated substrings — the classic suffix-array application:
# max LCP over ADJACENT suffixes in SA order (every repeat is a prefix
# of two adjacent suffixes, so O(n) pairs suffice). The oracle sorts
# suffix strings directly and mirrors the zip/first-false LCP.
# ---------------------------------------------------------------------------


@_register(
    "longest_repeated_substrings",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    sfx AS (
      SELECT doc_id, i.i AS pos,
             array_to_string(t[i.i:len(t)], ' ') AS suffix,
             t[i.i:len(t)] AS sl
      FROM toks, unnest(range(1, len(t) + 1)) AS i(i)
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY suffix, doc_id, pos) AS sa_rank,
             doc_id, pos, sl
      FROM sfx
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, a.pos AS pos_a,
             b.doc_id AS doc_b, b.pos AS pos_b,
             a.sl AS sa, b.sl AS sb
      FROM ranked a JOIN ranked b ON b.sa_rank = a.sa_rank + 1
    ),
    scored AS (
      SELECT doc_a, pos_a, doc_b, pos_b, sa,
             CAST(coalesce(
               list_position(
                 list_transform(list_zip(sa, sb),
                                p -> coalesce(p[1] = p[2], false)),
                 false) - 1,
               least(len(sa), len(sb))) AS INTEGER) AS lcp
      FROM pairs
    )
    SELECT lcp, doc_a, CAST(pos_a AS INTEGER) AS pos_a,
           doc_b, CAST(pos_b AS INTEGER) AS pos_b,
           array_to_string(sa[1:least(lcp, 8)], ' ') AS repeat_preview
    FROM scored WHERE lcp >= 1
    ORDER BY lcp DESC, doc_a, pos_a
    LIMIT 10
    """,
)
def longest_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 longest repeated token substrings via adjacent-suffix
    LCP over the distributed suffix array
    (operators/suffix.py::longest_repeated_substrings)."""
    d = T(spark, sf_dir, "documents")
    out = _suffix.longest_repeated_substrings(d, "doc_id", "text", top=10)
    return out.select(
        "lcp",
        "doc_a",
        F.col("pos_a").cast("int").alias("pos_a"),
        "doc_b",
        F.col("pos_b").cast("int").alias("pos_b"),
        "repeat_preview",
    )


# ---------------------------------------------------------------------------
# Semantic decontamination: corpus vectors too close (cosine) to a
# fixed benchmark embedding set — the embedding-space complement of
# the n-gram decontamination family. The benchmark here is a
# deterministic 20-vector subset (every 50th id, limit-bounded), the
# corpus is everything else.
# ---------------------------------------------------------------------------

_SEMDECON_TAU = 0.35
_SEMDECON_N = 20


@_register(
    "semantic_decontam_embeddings",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE embedding IS NOT NULL),
    bench AS (SELECT vec_id AS bench_id, e AS bv FROM v
              WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT {_SEMDECON_N}),
    corpus AS (SELECT vec_id AS id, e FROM v WHERE vec_id % 50 <> 0),
    scored AS (
      SELECT id, bench_id,
             round(
               list_aggregate(list_transform(range(1, len(e) + 1),
                              i -> e[i] * bv[i]), 'sum')
               / (sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(bv, x -> x * x),
                                        'sum'))), 4) AS sim
      FROM corpus, bench
    ),
    best AS (
      SELECT id, bench_id, sim FROM (
        SELECT id, bench_id, sim,
               row_number() OVER (PARTITION BY id
                                  ORDER BY sim DESC, bench_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT id, bench_id, sim FROM best
    WHERE sim >= {_SEMDECON_TAU}
    ORDER BY id
    """,
)
def semantic_decontam_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-leak screen
    (operators/similarity.py::semantic_decontam): broadcast the
    fixed-size benchmark, scan the corpus once, keep each flagged
    vector's best benchmark match."""
    e = T(spark, sf_dir, "embeddings")
    bench = (
        e.where(F.col("vec_id") % 50 == 0)
        .orderBy("vec_id")
        .limit(_SEMDECON_N)
    )
    corpus = e.where(F.col("vec_id") % 50 != 0)
    return sim.semantic_decontam(
        corpus,
        "vec_id",
        "embedding",
        bench,
        "vec_id",
        "embedding",
        threshold=_SEMDECON_TAU,
    ).select(F.col("id"), F.col("bench_id"), F.col("sim"))


@_register(
    "phrase_search_docs",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
      SELECT doc_id, t[i.i] || ' ' || t[i.i + 1] AS b
      FROM toks, unnest(range(1, len(t))) AS i(i)
    ),
    cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
    best AS (SELECT min(b) AS phrase FROM cnt
             WHERE c = (SELECT max(c) FROM cnt))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM bg, best WHERE b = phrase
    GROUP BY doc_id
    ORDER BY n_occurrences DESC, doc_id
    LIMIT 20
    """,
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase retrieval (adjacency-exact, the capability a
    bag-of-words inverted index cannot express): rank documents by
    occurrences of the corpus's most frequent word bigram. Completes
    the retrieval family (BM25 / TF-IDF / RRF hybrid / boolean
    inverted-index) with the positional-index plan; reference has no
    text retrieval at all."""
    from power_generation_etl_spark.operators import textindex as ti

    return ti.phrase_search(T(spark, sf_dir, "documents"), "doc_id", "text", k=20)


@_register(
    "pmi_collocations_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
      SELECT doc_id, t[i.i] || ' ' || t[i.i + 1] AS b
      FROM toks, unnest(range(1, len(t))) AS i(i)
    ),
    cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY b),
    n AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cnt),
    lm AS (SELECT split_part(b, ' ', 1) AS x, CAST(sum(c) AS BIGINT) AS cx
           FROM cnt GROUP BY 1),
    rm AS (SELECT split_part(b, ' ', 2) AS y, CAST(sum(c) AS BIGINT) AS cy
           FROM cnt GROUP BY 1),
    sc AS (
      SELECT b AS bigram, c AS n_pair, cx AS n_left, cy AS n_right,
             c * n.n AS a, cx * cy AS den
      FROM cnt
      JOIN lm ON split_part(cnt.b, ' ', 1) = lm.x
      JOIN rm ON split_part(cnt.b, ' ', 2) = rm.y
      CROSS JOIN n
      WHERE c >= 5
    )
    SELECT bigram, n_pair, n_left, n_right,
           (a // den) * 1000000
           + ((a % den) * 100 // den) * 10000
           + (((a % den) * 100 % den) * 100 // den) * 100
           + ((((a % den) * 100 % den) * 100 % den) * 100 // den) AS lift_ppm
    FROM sc
    ORDER BY lift_ppm DESC, bigram
    LIMIT 20
    """,
)
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining over documents (r11 third wave): the 20
    highest-lift word bigrams with exact integer ppm scores — the
    statistical phrase-detection layer (Mikolov-style collocation
    scoring) completing the text-statistics family next to
    `phrase_search_docs` (adjacency retrieval) and `top_event_trigrams`
    (frequency n-grams). The oracle recomputes the identical staged
    long division, so a marginal computed over the wrong side, a
    dropped rare-pair filter, or int64 overflow in the scaling breaks
    the value hash."""
    from power_generation_etl_spark.operators import textindex as ti

    return ti.pmi_collocations(
        T(spark, sf_dir, "documents"), "doc_id", "text", min_count=5, k=20
    )


@_register(
    "mutual_knn_edges",
    """
    WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    d AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             round(
               list_aggregate(list_transform(range(1, len(a.e) + 1),
                                             i -> a.e[i] * b.e[i]), 'sum')
               / (sqrt(list_aggregate(list_transform(a.e, x -> x * x), 'sum'))
                * sqrt(list_aggregate(list_transform(b.e, x -> x * x), 'sum'))),
               4) AS s4
      FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    t AS (
      SELECT ida, idb, s4,
             row_number() OVER (PARTITION BY ida ORDER BY s4 DESC, idb) AS rn
      FROM d
    ),
    e AS (SELECT ida, idb, s4 FROM t WHERE rn <= 5)
    SELECT x.ida AS id_a, x.idb AS id_b, x.s4 AS cosine_sim
    FROM e x JOIN e y ON x.ida = y.idb AND x.idb = y.ida
    WHERE x.ida < x.idb
    ORDER BY id_a, id_b
    """,
)
def mutual_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN similarity graph over embeddings (r11 third wave) —
    the reciprocal-neighbor edge list feeding cluster-based curation
    (SemDeDup clusters, LPA communities); exact O(n²) baseline at the
    shipped corpus, IVF/LSH candidate pruning is the documented scale
    path (operators/similarity.py::mutual_knn_edges)."""
    return sim.mutual_knn_edges(
        T(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=5
    )


# ---------------------------------------------------------------------------
# retrieval_ndcg (r11 fourth wave) — the evaluation harness for the
# retrieval family: NDCG@10 of the BM25 ranking (the bit-exact scorer
# bm25_doc_scores already verifies) against graded relevance labels
# rel(doc) = min(3, tf of the first query term) — a GRADED label
# deliberately misaligned with the 3-term saturated BM25 score, so
# the shipped corpora measure NDCG < 1 (0.963 / 0.979 / 1.000 at the
# three SFs) and a ranking regression moves the value. Discounts are
# INTEGER literals floor(10⁶/log2(i+1)) computed once in Python and
# injected into both dialects, so DCG/IDCG are exact integer dot
# products — no transcendental ever runs in either engine and no
# float summation order can flake the hash. IDCG ranks ALL documents
# by label (the textbook ideal), so NDCG < 1 exactly when BM25 misses
# a higher-graded doc. Rank windows run over LIMIT-10 lists (the
# hybrid_search_rrf precedent); the 1-row DCG/IDCG aggregates cross.
# ---------------------------------------------------------------------------

_NDCG_D = [1000000, 630929, 500000, 430676, 386852, 356207, 333333,
           315464, 301029, 289064]  # floor(1e6 / log2(rank+1)), rank 1..10


def _ndcg_weight_sql() -> str:
    arms = " ".join(
        f"WHEN rn = {i + 1} THEN {d}" for i, d in enumerate(_NDCG_D)
    )
    return f"CASE {arms} ELSE 0 END"


@_register(
    "retrieval_ndcg",
    f"""
    WITH rels AS (
      SELECT doc_id,
             CAST(least(3, len(list_filter(string_split_regex(lower(text),
                    '\\s+'), x -> x = '{_BM25_TERMS[0]}'))) AS BIGINT) AS rel
      FROM documents WHERE text IS NOT NULL
    ),
    ret AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM ({_bm25_oracle(chr(10) + "    ORDER BY score DESC, h.doc_id LIMIT 10")})
    ),
    dcg AS (
      SELECT CAST(coalesce(sum(r.rel * {_ndcg_weight_sql()}), 0) AS BIGINT)
               AS dcg_scaled
      FROM ret JOIN rels r USING (doc_id)
    ),
    ideal AS (
      SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rn
      FROM (SELECT doc_id, rel FROM rels ORDER BY rel DESC, doc_id LIMIT 10)
    ),
    idcg AS (
      SELECT CAST(coalesce(sum(rel * {_ndcg_weight_sql()}), 0) AS BIGINT)
               AS idcg_scaled
      FROM ideal
    )
    SELECT dcg_scaled, idcg_scaled,
           CAST(CASE WHEN idcg_scaled > 0
                     THEN dcg_scaled * 1000000 // idcg_scaled END AS BIGINT)
             AS ndcg_ppm
    FROM dcg CROSS JOIN idcg
    WHERE idcg_scaled > 0 OR dcg_scaled > 0
    """,
)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = T(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.lower(F.col("text")), r"\s+")
    rel = F.least(
        F.lit(3),
        F.size(F.filter(toks, lambda x: x == F.lit(_BM25_TERMS[0]))),
    ).cast("long").alias("rel")
    rels = d.select("doc_id", rel)
    weight = F.expr(_ndcg_weight_sql())

    scored = tx.bm25_scores(d, "doc_id", "text", _BM25_TERMS)
    ret = (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(10)
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("score"), "doc_id"))
        )
        .join(rels, "doc_id")
    )
    dcg = ret.agg(
        F.coalesce(F.sum(F.col("rel") * weight), F.lit(0))
        .cast("long")
        .alias("dcg_scaled")
    )
    ideal = (
        rels.orderBy(F.desc("rel"), "doc_id")
        .limit(10)
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("rel"), "doc_id"))
        )
    )
    idcg = ideal.agg(
        F.coalesce(F.sum(F.col("rel") * weight), F.lit(0))
        .cast("long")
        .alias("idcg_scaled")
    )
    return (
        dcg.crossJoin(idcg)
        .select(
            "dcg_scaled",
            "idcg_scaled",
            F.when(
                F.col("idcg_scaled") > 0,
                F.expr("dcg_scaled * 1000000 div idcg_scaled"),
            )
            .cast("long")
            .alias("ndcg_ppm"),
        )
        .where((F.col("idcg_scaled") > 0) | (F.col("dcg_scaled") > 0))
    )

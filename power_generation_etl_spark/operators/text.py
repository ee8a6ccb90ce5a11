"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side, codegen-friendly): language-ID
(stopword heuristic), quality scoring (length / punctuation / stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting. Designed to run in a single scan over a 100 TB
`documents` table — no UDFs, no shuffles except final aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..lineage import cut as _cut
from ..session import local_frame

# Per-language stopword lists for the heuristic language ID: top
# function words, whitespace-tokenized. Counting stays a single-scan
# Column expression whatever the list size (tokenize once per language,
# membership-filter the token array).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": [
        "the", "and", "of", "to", "is", "in", "that", "it", "for", "was",
        "with", "are", "be", "as", "on", "at", "by", "this", "have", "from",
        "or", "had", "not", "but", "what", "all", "were", "when", "there", "can",
    ],
    "de": [
        "der", "die", "und", "ist", "das", "nicht", "ein", "ich", "sie",
        "mit", "den", "auf", "für", "von", "dem", "sich", "des", "auch",
        "eine", "als", "wie", "im", "zu", "werden", "aber", "noch", "nach",
        "bei", "einem", "einer",
    ],
    "fr": [
        "le", "la", "et", "est", "les", "des", "une", "dans", "que", "pour",
        "pas", "sur", "avec", "ne", "se", "ce", "il", "vous", "je", "nous",
        "au", "du", "par", "plus", "mais", "ou", "si", "leur", "être", "cette",
    ],
    "es": [
        "el", "los", "y", "es", "las", "una", "que", "por", "con", "para",
        "del", "se", "no", "un", "lo", "su", "como", "más", "pero", "sus",
        "ya", "o", "este", "sí", "porque", "esta", "entre", "cuando", "muy", "sin",
    ],
    "it": [
        "il", "la", "e", "è", "che", "di", "a", "in", "un", "per", "non",
        "sono", "una", "con", "si", "da", "come", "le", "dei", "più", "nel",
        "alla", "questo", "anche", "ma", "io", "ha", "gli", "della", "questa",
    ],
    "pt": [
        "o", "a", "e", "é", "que", "de", "do", "da", "em", "um", "para",
        "não", "com", "os", "no", "se", "na", "por", "uma", "dos", "mais",
        "as", "mas", "como", "foi", "ele", "isso", "ou", "já", "são",
    ],
    "nl": [
        "de", "het", "een", "en", "van", "is", "dat", "die", "in", "te",
        "niet", "op", "voor", "met", "zijn", "er", "maar", "om", "hij",
        "ook", "aan", "bij", "dan", "nog", "naar", "dit", "ze", "wel",
        "geen", "heeft",
    ],
    "ru": [
        "и", "в", "не", "на", "я", "что", "он", "с", "как", "это", "все",
        "она", "так", "его", "но", "да", "ты", "к", "у", "же", "вы", "за",
        "бы", "по", "только", "мне", "было", "меня", "еще", "нет",
    ],
    # zh keeps romanized-pinyin stopwords for segmented/romanized text;
    # unsegmented han text is caught by the character-class scorer below.
    "zh": ["de", "shi", "le", "zai", "he", "wo", "you", "bu", "ta", "men", "zhe", "ge"],
    "ja": [],  # whitespace tokens don't exist in Japanese — chars only
}

# Character-class evidence for unsegmented scripts: (chars, weight).
# Counted codegen-side as length(text) - length(regexp_replace(text,
# '[chars]', '')) — one single-pass replace per language, no UDF, and
# the identical expression exists in the DuckDB oracle. Kana outweighs
# han because Japanese text mixes kanji (shared with Chinese) with kana
# (unique to Japanese): any kana-bearing text should win as 'ja'.
LANG_CHAR_CLASSES: dict[str, tuple[str, int]] = {
    "zh": ("的一是不了人我在有他这中大来上国个到说们为你和地出道也子时年", 1),
    "ja": ("のにはをたがでてとしれさあるいうますこからなっへやも", 3),
}

# Fixed language order = deterministic argmax tie-break order.
LANG_ORDER: list[str] = list(LANG_STOPWORDS)

TOKEN_RE = r"\S+"
# BPE-ish word/number/punct splitter (GPT-2-style contractions + blocks).
BPE_RE = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count(text: Column, pattern: str = TOKEN_RE) -> Column:
    """Whitespace (or BPE-ish) token count. NULL text counts as NULL —
    matching SQL `len(regexp_extract_all(...))` semantics, where every
    DuckDB oracle's sum() then skips the row — NOT Spark's default
    size(NULL) = -1, which would silently subtract from aggregates."""
    return F.when(
        text.isNull(), F.lit(None)
    ).otherwise(
        F.size(F.regexp_extract_all(text, F.lit(pattern), 0))
    ).cast("bigint")


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Token-membership stopword count: tokenize once, count tokens in
    the word list — one pass over the tokens per language, vs the
    length/replace trick's full-text scan *per word* (60 scans per doc
    with 12-word lists). DuckDB twin:
    ``len(list_filter(string_split_regex(lower(text),'\\s+'), t -> t IN (...)))``."""
    toks = F.split(F.lower(text), r"\s+")
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wl, t))).cast("bigint")


def char_class_hits(text: Column, chars: str, weight: int = 1) -> Column:
    """Weighted count of characters belonging to a literal class —
    single-pass codegen (`length - length(translate)`), the
    unsegmented-script (CJK) half of the language-ID evidence.
    `translate` is a plain codepoint-map pass (no regex engine), ~10x
    cheaper than `regexp_replace` with a character class and value-
    identical for deleting a literal char set."""
    n = F.length(text) - F.length(F.translate(text, chars, ""))
    return (n * F.lit(weight)).cast("bigint")


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language evidence: whitespace-token stopword membership plus
    weighted character-class hits for unsegmented scripts."""
    scores = {}
    for lang in LANG_ORDER:
        s = None
        words = LANG_STOPWORDS.get(lang)
        if words:
            s = stopword_hits(text, words)
        if lang in LANG_CHAR_CLASSES:
            chars, weight = LANG_CHAR_CLASSES[lang]
            ch = char_class_hits(text, chars, weight)
            s = ch if s is None else (s + ch).cast("bigint")
        scores[lang] = s
    return scores


def predicted_lang(text: Column) -> Column:
    """Deterministic argmax over per-language evidence (ties → fixed
    LANG_ORDER), 'und' (undetermined) when no evidence at all.

    Per-row projection form (composes into streams/filters unchanged).
    For a whole-table scoring pass prefer `score_langs` — this form
    re-tokenizes once per language and its membership filters run as
    interpreted HOFs, which is 5-10× slower per doc."""
    scores = lang_scores(text)
    return _argmax_lang(scores)


def _argmax_lang(scores: dict[str, Column]) -> Column:
    best = F.greatest(*scores.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in LANG_ORDER:  # fixed iteration order = tie-break order
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def score_langs(
    df, id_col: str, text_col: str, carry_cols: list[str] | None = None
):
    """Whole-table language scoring: tokenize ONCE, explode, and count
    per-language stopword membership with codegen `IN`-set aggregates —
    versus the projection form's one tokenize + one interpreted HOF
    filter *per language* (10 passes). Char-class evidence is a
    single-pass projection per CJK language, carried through the
    aggregation.

    Output: one row per document with `predicted_lang` plus any
    `carry_cols`. Shuffle carries one partially-aggregated row per doc
    (map-side combine after the explode), so this scales as one
    groupBy over the corpus.
    """
    carry_cols = carry_cols or []
    text = F.col(text_col)
    pre = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.explode_outer(F.split(F.lower(text), r"\s+")).alias("_tok"),
    )
    # Two hard-won plan rules baked in here:
    #  1. Carry cols go into the grouping KEY (they are functionally
    #     dependent on id_col). A first(string) carry aggregate has an
    #     immutable buffer, which kicks the whole aggregation off
    #     HashAggregate onto a non-codegen SortAggregate.
    #  2. Char-class (CJK) evidence is summed over the exploded TOKENS,
    #     not projected from the full text. A pre-explode projection gets
    #     rewritten by Catalyst to run after the Generate — i.e. the full-
    #     document regexp_replace re-executes once per token (measured
    #     30s for 270k tokens at sf0.1 vs 0.6s token-wise). split('\s+')
    #     only removes whitespace, never class chars, so the per-token sum
    #     is exactly the per-document count.
    aggs = []
    for lang in LANG_ORDER:
        words = LANG_STOPWORDS.get(lang)
        parts = []
        if words:
            parts.append(
                F.sum(F.when(F.col("_tok").isin(words), 1).otherwise(0))
            )
        if lang in LANG_CHAR_CLASSES:
            chars, weight = LANG_CHAR_CLASSES[lang]
            parts.append(
                F.coalesce(
                    F.sum(char_class_hits(F.col("_tok"), chars, weight)), F.lit(0)
                )
            )
        s = parts[0]
        for p in parts[1:]:
            s = s + p
        aggs.append(s.cast("bigint").alias(f"_s_{lang}"))
    scored = pre.groupBy(id_col, *carry_cols).agg(*aggs)
    scores = {lang: F.col(f"_s_{lang}") for lang in LANG_ORDER}
    return scored.select(
        id_col, *carry_cols, _argmax_lang(scores).alias("predicted_lang")
    )


def quality_metrics(text: Column) -> dict[str, Column]:
    """Gopher-style quality signals, all single-pass expressions."""
    n_chars = F.length(text).cast("bigint")
    tokens = token_count(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("bigint")
    digits = F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("bigint")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", "")).cast("bigint")
    upper = F.length(F.regexp_replace(text, r"[^A-Z]", "")).cast("bigint")
    en_stop = stopword_hits(text, LANG_STOPWORDS["en"])
    nc = n_chars.cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": tokens,
        "avg_token_len": F.round(nc / F.greatest(tokens, F.lit(1)).cast("double"), 4),
        "alpha_ratio": F.round(alpha.cast("double") / F.greatest(nc, F.lit(1.0)), 4),
        "digit_ratio": F.round(digits.cast("double") / F.greatest(nc, F.lit(1.0)), 4),
        "punct_ratio": F.round(punct.cast("double") / F.greatest(nc, F.lit(1.0)), 4),
        "upper_ratio": F.round(upper.cast("double") / F.greatest(nc, F.lit(1.0)), 4),
        "stopword_count": en_stop,
    }


def quality_pass(metrics: dict[str, Column]) -> Column:
    """Filter rule in the spirit of Gopher/C4 heuristics."""
    return (
        (metrics["n_chars"] >= 50)
        & (metrics["n_chars"] <= 100_000)
        & (metrics["n_tokens"] >= 10)
        & (metrics["avg_token_len"] >= 2.0)
        & (metrics["avg_token_len"] <= 12.0)
        & (metrics["alpha_ratio"] >= 0.5)
    )


def normalized_fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the lowercased, alnum-only text —
    invariant to case/punctuation/whitespace differences."""
    return F.md5(F.regexp_replace(F.lower(text), r"[^a-z0-9]", "").cast("binary"))


def exact_dup_key(text: Column) -> Column:
    """Exact-dedup grouping key (hash-groupBy): md5 of the raw text.

    At 100 TB, grouping by the 32-char digest instead of the document
    body shrinks the dedup shuffle by orders of magnitude."""
    return F.md5(text.cast("binary"))


def bm25_scores(
    df,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1_20: int = 24,  # k1 = k1_20/20 = 1.2
    b_20: int = 15,   # b  = b_20/20  = 0.75
):
    """BM25 relevance of every document matching ≥1 query term —
    Robertson/Sparck-Jones with the Lucene `ln(1 + (N-df+0.5)/(df+0.5))
    = ln((N+1)/(df+0.5))` idf. Exactly cross-engine-reproducible:

    - the tf-saturation factor's numerator/denominator are built from
      exact integer inputs combined with IEEE-754 double `*`/`+` in a
      FIXED association — correctly-rounded ops, so both engines
      produce bit-identical doubles from the same integers. Integer
      products that could outgrow int64 at corpus scale are never
      formed: the corpus-scale constants ((20+k1_20)·S, 20·S,
      k1_20·(20-b_20)·S/20) are exact driver-side Python ints cast to
      double BEFORE the per-row tf multiply (the round-4 form
      multiplied 44·S·tf in bigint — overflow at S~1e13, tf≥21);
    - idf is computed on the DRIVER with Python's libm from exact
      (N, df) counts and injected as a literal — the oracle's `ln` on
      the identical input double resolves through the same C library,
      so no JVM-vs-C last-ulp divergence enters the plan;
    - the score is a fixed-order sum of the per-term products.

    Headroom (int64 stays exact): S < 2^63/44 ≈ 2.1e17 corpus tokens
    for the driver constants, and dl·N < 2^63/k1b ≈ 5.1e17 for the
    per-row `c2·dl·N` term (N docs, dl tokens/doc) — both orders of
    magnitude above the 100 TB design point (S ~1e13, N ~1e10).

    One explode+groupBy over matching tokens (map-side combined) + two
    1-row driver aggregates (N/S and per-term df) — the corpus is
    never sorted or broadcast. k1/b arrive as twentieths to keep the
    driver-side constants integral."""
    import math

    text = F.col(text_col)
    base = df.where(text.isNotNull()).select(
        F.col(id_col), token_count(text).alias("dl")
    )
    g = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").cast("bigint").alias("s")
    ).collect()[0]
    n_docs, s_tokens = g["n"] or 0, g["s"] or 0
    if n_docs == 0 or s_tokens == 0:
        # Empty result carries the INPUT id column's type (a hardcoded
        # bigint would change the schema vs the normal path for
        # string-typed ids, breaking downstream unions on empty input).
        return df.select(F.col(id_col)).limit(0).withColumn(
            "score", F.lit(0.0)
        )
    toks = df.where(text.isNotNull()).select(
        F.col(id_col),
        F.explode(F.split(F.lower(text), r"\s+")).alias("_tok"),
    )
    hits = (
        toks.where(F.col("_tok").isin(terms))
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.when(F.col("_tok") == t, 1).otherwise(0))
                .cast("bigint")
                .alias(f"tf{i}")
                for i, t in enumerate(terms)
            ]
        )
    )
    dfs = hits.agg(
        *[
            F.count_if(F.col(f"tf{i}") > 0).alias(f"df{i}")
            for i in range(len(terms))
        ]
    ).collect()[0]
    # Driver-side idf literals: ln((N+1)/(df+0.5)), glibc on both engines.
    idf = [
        math.log((n_docs + 1) / (dfs[f"df{i}"] + 0.5)) for i in range(len(terms))
    ]
    scored = hits.join(base, id_col)
    # s_t = tf·(k1+1) / (tf + k1(1-b) + k1·b·dl/avg), cross-multiplied
    # by 20·S: num = (20+k1_20)·S·tf, den = 20·S·tf + k1_20·(20-b_20)/20·S
    # + k1_20·b_20/20·dl·N. The S-scale constants are exact Python ints
    # (k1_20·b_20 divisible by 20 for the default 1.2/0.75 pair keeps
    # them integral) cast to double BEFORE the tf multiply, so no
    # bigint product carries S·tf (int64 overflow at 100 TB scale).
    # The only executor-side integer product is c2·dl·N (headroom in
    # the docstring); every double op is fixed-association IEEE —
    # bit-identical in the DuckDB oracle's mirrored expression.
    c_num = (20 + k1_20) * s_tokens
    c1 = k1_20 * (20 - b_20) * s_tokens // 20
    c2 = k1_20 * b_20 // 20
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf{i}").cast("double")
        num = F.lit(float(c_num)) * tf
        den = (
            F.lit(float(20 * s_tokens)) * tf
            + F.lit(float(c1))
            + (F.lit(c2) * F.col("dl") * F.lit(n_docs)).cast("double")
        )
        s_t = F.lit(idf[i]) * (num / den)
        score = s_t if score is None else score + s_t
    return scored.select(F.col(id_col), score.alias("score"))


def rarity_scores(df, id_col: str, text_col: str):
    """Unigram-LM surprisal proxy: per-document rarity
    `Σ_tokens (T div c_t)` where `c_t` is the token's corpus frequency
    and `T` the corpus token total — rare tokens contribute large
    integer quanta, boilerplate contributes ~1 each. The log-free
    integer form exists for a reason: a true mean-log-prob score sums
    doubles in aggregation order (non-deterministic across runs AND
    engines), while integer division makes the per-doc sum exact and
    order-free. Headroom: T ≤ 1e13 tokens (100 TB) × 1e5 tokens/doc
    caps the sum at 1e18 < 2^63.

    One tokenize+explode pass, one token-count aggregation, one
    shuffle join on the token (broadcast the top-V vocabulary at real
    scale), one per-doc sum. `T` rides as a driver literal — no 1-row
    cross join in the plan.

    Output: (id, rarity, n_tokens, avg_rarity) with
    avg_rarity = rarity div n_tokens (exact integer mean)."""
    text = F.col(text_col)
    toks = df.where(text.isNotNull()).select(
        F.col(id_col),
        F.explode(F.split(F.lower(text), r"\s+")).alias("_tok"),
    )
    counts = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_cnt"))
    t_total = toks.count()
    return (
        toks.join(counts, "_tok")
        .groupBy(id_col)
        .agg(
            F.sum(F.expr(f"CAST({t_total} AS BIGINT) div _cnt"))
            .cast("bigint")
            .alias("rarity"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .withColumn(
            "avg_rarity", F.expr("CAST(rarity div n_tokens AS BIGINT)")
        )
    )


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style within-document repetition statistics (Rae et al.
    2021 §A1.1 repetition filters, count-based variant): documents that
    loop boilerplate — nav menus, keyword stuffing, scraper echo — are
    flagged by how concentrated their own n-gram mass is, before any
    cross-document dedup runs.

    Per document:
      * ``n_tokens``        whitespace token count
      * ``ttr_ppm``         type-token ratio (distinct div total, ppm)
      * ``top_bigram_ppm``  share of word-bigram occurrences claimed by
                            the single most frequent bigram
      * ``dup_5gram_ppm``   share of word-5-gram occurrences whose
                            5-gram appears >= 2 times in the document
      * ``repetitive``      Gopher-threshold flag
                            (top bigram > 20% OR dup 5-grams > 15%)

    All ratios are exact integer ppm (``x * 1000000 div total``) so the
    flag is bit-identical across engines — no float thresholds.

    Shape for 100 TB: the token table is built once (posexplode + one
    lead() window partitioned BY DOCUMENT — never a global window) and
    localCheckpoint'ed because three aggregation subtrees consume it.
    Every groupBy is keyed by doc_id (or doc_id + gram), so the shuffle
    is document-partitioned and skew-free; nothing leaves its document.
    The three per-doc aggregates join back on doc_id — co-partitioned
    exchanges, no broadcast needed, no O(corpus) driver state."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
            "pos", "w"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    g = toks
    for j in range(1, 5):
        g = g.withColumn(f"w{j}", F.lead("w", j).over(w))
    g = g.transform(_cut)

    tstat = g.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_types"),
    )
    bi = (
        g.where(F.col("w1").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top2"), F.sum("c").alias("tot2"))
    )
    g5 = (
        g.where(F.col("w4").isNotNull())
        .select(
            "doc_id", F.concat_ws(" ", "w", "w1", "w2", "w3", "w4").alias("gram")
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
            .alias("dup5"),
            F.sum("c").alias("tot5"),
        )
    )
    return (
        tstat.join(bi, "doc_id")
        .join(g5, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("CAST(n_types * 1000000 div n_tokens AS BIGINT)").alias(
                "ttr_ppm"
            ),
            F.expr("CAST(top2 * 1000000 div tot2 AS BIGINT)").alias(
                "top_bigram_ppm"
            ),
            F.expr("CAST(dup5 * 1000000 div tot5 AS BIGINT)").alias(
                "dup_5gram_ppm"
            ),
            F.expr(
                "top2 * 1000000 div tot2 > 200000"
                " OR dup5 * 1000000 div tot5 > 150000"
            ).alias("repetitive"),
        )
    )


def dsir_importance_weights(
    df,
    id_col: str,
    text_col: str,
    target_cond: Column,
    n_buckets: int = 64,
):
    """DSIR-style importance weights (Xie et al., 2023, "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169):
    score every raw document by how much its hashed-bigram feature
    distribution resembles a TARGET subset (`target_cond` rows) versus
    the raw corpus. Weight(doc) = Σ_b count_doc[b] · ln(p̂_t[b]/p̂_r[b])
    with Laplace-smoothed bucket distributions p̂[b] = (c[b]+1)/(S+B).

    Cross-engine exactness: the per-bucket log-ratios are computed on
    the DRIVER with Python libm from exact integer counts (the bm25
    idf pattern — same C library the oracle's ln() resolves to),
    floor-scaled to integer ppm; the per-document score is then an
    exact bigint Σ count·ppm — order-free, no float aggregation.
    Python's arbitrary-precision ints form the smoothing products
    exactly at any scale (the DuckDB oracle twin mirrors them in
    bigint, valid to test scale).

    Scale shape: one tokenize+lead pass builds the bigram stream; the
    bucket totals aggregate to ≤ n_buckets rows (map-side combined,
    collected to the driver — bounded); per-doc scoring is a broadcast
    join of the ≤ n_buckets weight table onto doc-partitioned counts.
    Headroom: Σ count·ppm ≤ doc_bigrams · 3e7 · — int64-safe to ~1e11
    bigrams per document.

    Returns (doc_id, weight_ppm) — higher = more target-like.
    """
    import math

    from pyspark.sql.window import Window

    from power_generation_etl_spark.operators.minhash import portable_hash32

    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        target_cond.cast("int").alias("is_t"),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("pos", "w"),
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        base.withColumn("w1", F.lead("w", 1).over(wspec))
        .where(F.col("w1").isNotNull())
        .select(
            "doc_id",
            "is_t",
            (portable_hash32(F.concat_ws(" ", "w", "w1")) % n_buckets).alias("b"),
        )
        .transform(_cut)  # feeds bucket totals AND per-doc counts
    )
    totals = (
        bg.groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cr"),
            F.sum("is_t").cast("bigint").alias("ct"),
        )
        .collect()  # ≤ n_buckets rows — bounded driver state
    )
    spark = df.sparkSession
    if not totals:
        return local_frame(spark, [], "doc_id bigint, weight_ppm bigint")
    s_r = sum(r["cr"] for r in totals)
    s_t = sum(r["ct"] for r in totals)
    rows = []
    for r in sorted(totals, key=lambda r: r["b"]):
        num = (r["ct"] + 1) * (s_r + n_buckets)
        den = (r["cr"] + 1) * (s_t + n_buckets)
        # float(num)/float(den), NOT num/den: Python's true-rational
        # int division rounds differently from the oracle's
        # double-cast-then-divide for inputs beyond 2^53.
        rows.append(
            (r["b"], math.floor(math.log(float(num) / float(den)) * 1_000_000))
        )
    wtab = local_frame(spark, rows, "b bigint, w_ppm bigint")
    per_doc = bg.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        per_doc.join(F.broadcast(wtab), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("w_ppm")).cast("bigint").alias("weight_ppm")
        )
    )


# The eight function words whose presence (>= 2 distinct) is Gopher's
# "required words" quality rule (Rae et al., 2021, appendix A1.1).
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df, id_col: str, text_col: str):
    """The Gopher document-quality rules (Rae et al., 2021, "Scaling
    Language Models: ... Gopher", appendix A1.1 — the same rule bundle
    MassiveText/RefinedWeb/FineWeb derivatives apply), one flag column
    per rule plus the conjunction:

      * flag_word_count     50 <= words <= 100000
      * flag_word_length    3 <= mean word length <= 10
      * flag_symbol_ratio   (# + ellipsis) / words <= 0.1
      * flag_bullet_lines   lines starting with a bullet <= 90%
      * flag_ellipsis_lines lines ending with ellipsis <= 30%
      * flag_alpha_words    words containing a letter >= 80%
      * flag_stopwords      >= 2 of the 8 required function words
      * gopher_pass         all of the above

    Every ratio threshold is cross-multiplied to exact integer
    comparisons (10·sym <= words, 5·alpha >= 4·words, ...) — no float
    thresholds, bit-identical across engines.

    Shape for 100 TB: ONE line explode (posexplode of split-on-newline,
    partitioned by document) feeding a doc-keyed aggregation, joined
    back to a single-scan projection for the doc-level stopword
    membership — two document-partitioned shuffles, no driver state.
    """
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    lines = base.select(
        "doc_id", F.posexplode(F.split(F.col("_t"), r"\n")).alias("_p", "l")
    )
    li = F.col("l")
    n_words_l = F.size(F.regexp_extract_all(li, F.lit(r"\S+"), F.lit(0)))
    word_chars_l = F.length(F.regexp_replace(li, r"\s", ""))
    alpha_words_l = F.size(
        F.regexp_extract_all(li, F.lit(r"\S*[A-Za-z]\S*"), F.lit(0))
    )
    hash_l = F.length(li) - F.length(F.expr("replace(l, '#', '')"))
    ell3_l = (F.length(li) - F.length(F.expr("replace(l, '...', '')"))) / F.lit(3)
    ellu_l = F.length(li) - F.length(F.translate(li, "…", ""))
    bullet_l = F.substring(F.ltrim(li), 1, 1).isin("-", "*", "•")
    ellend_l = (F.expr("right(rtrim(l), 3)") == "...") | (
        F.expr("right(rtrim(l), 1)") == "…"
    )
    stats = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(n_words_l).cast("bigint").alias("n_words"),
        F.sum(word_chars_l).cast("bigint").alias("word_chars"),
        F.sum(alpha_words_l).cast("bigint").alias("alpha_words"),
        F.sum(hash_l + ell3_l.cast("bigint") + ellu_l)
        .cast("bigint")
        .alias("n_symbols"),
        F.sum(bullet_l.cast("int")).cast("bigint").alias("bullet_lines"),
        F.sum(ellend_l.cast("int")).cast("bigint").alias("ellipsis_lines"),
    )
    toks = F.split(F.lower(F.col("_t")), r"\s+")
    stop_hits = None
    for w in GOPHER_REQUIRED_WORDS:
        hit = F.array_contains(toks, w).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    doc = base.select("doc_id", stop_hits.cast("bigint").alias("stop_hits"))
    j = stats.join(doc, "doc_id")
    nw = F.col("n_words")
    flags = {
        "flag_word_count": (nw >= 50) & (nw <= 100000),
        "flag_word_length": (F.col("word_chars") >= 3 * nw)
        & (F.col("word_chars") <= 10 * nw),
        "flag_symbol_ratio": F.col("n_symbols") * 10 <= nw,
        "flag_bullet_lines": F.col("bullet_lines") * 10 <= F.col("n_lines") * 9,
        "flag_ellipsis_lines": F.col("ellipsis_lines") * 10
        <= F.col("n_lines") * 3,
        "flag_alpha_words": F.col("alpha_words") * 5 >= nw * 4,
        "flag_stopwords": F.col("stop_hits") >= 2,
    }
    gopher_pass = None
    for c in flags.values():
        gopher_pass = c if gopher_pass is None else gopher_pass & c
    return j.select(
        "doc_id",
        "n_lines",
        "n_words",
        *[expr.alias(name) for name, expr in flags.items()],
        gopher_pass.alias("gopher_pass"),
    )

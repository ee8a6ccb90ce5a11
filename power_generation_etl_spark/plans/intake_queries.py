"""Oracle-gated streaming-intake catalog queries (r11).

`streaming/ingest.py::stream_document_filter` and
`::stream_neardup_intake` are the engine's production LLM-ingest path
(quality gate → exact dedup → sink; MinHash near-dup dedup against a
persisted signature store). Until now their outputs were
pytest-asserted equal to the batch operators; these entries run the
REAL streaming intake — two ordered availableNow rounds against one
checkpoint — and put the surviving-document set under the exact DuckDB
oracle.

Shared two-round protocol (both entries):

* documents are split by a cross-engine 32-bit hash of doc_id:
  `h4 = md5_32(doc_id) % 4`. Round 1 feeds the `h4 % 2 = 0` originals;
  round 2 feeds the `h4 % 2 = 1` originals PLUS two families of
  INJECTED duplicates (same text, shifted doc_ids):
    - cross-round copies (`doc_id + 10^8`) of every `h4 = 0` original —
      these arrive one checkpointed round AFTER their twin, so they are
      dropped only if the round-1 state (fingerprint store / signature
      store) actually survived the restart;
    - within-batch copies (`doc_id + 2·10^8`) of every `h4 = 1`
      original — same micro-batch as their twin, exercising in-batch
      dedup.
  Injection is what keeps the dedup path NON-DEGENERATE at every SF
  (the shipped corpora have zero exact duplicates below sf0.1), and —
  because the injected rows duplicate existing TEXT — the
  text/id-derived oracle outputs stay exactly predictable.

The rounds are staged, linked and run by the shared two-round scaffold
(`plans/queries.py::overlap_two_rounds` under `stream_dirs`), as are
the two hash-split entries here (`stream_expectations_by_source`,
`stream_text_index_terms`, halves from `hash_halves`).

Scale notes: both intakes are the canonical bounded-state shapes — the
filter's dedup state is keyed by content fingerprint with an event-time
TTL knob; the near-dup store is banded + bucket-capped (the counted
volume guard every banded family here carries) and partition-pruned by
band at probe time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from power_generation_etl_spark.operators import minhash as mh
from power_generation_etl_spark.plans.queries import (
    T,
    _register,
    hash_halves,
    overlap_two_rounds,
    stream_dirs,
    stream_scoped,
)
from power_generation_etl_spark.session import local_frame

_OFF_CROSS = 100_000_000   # round-2 copies of round-1 (h4=0) docs
_OFF_WITHIN = 200_000_000  # round-2 copies of round-2 (h4=1) docs
_TS_BASE = 1_700_000_000_000_000  # synthetic ingested_at epoch-µs base

_H4_SQL = "CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 4"


def _h4():
    return mh.portable_hash32(F.col("doc_id").cast("string")) % 4


def _doc_rounds(spark: SparkSession, sf_dir: str):
    """The two staged rounds as DataFrames in DOC_STREAM_SCHEMA shape
    (ingested_at is synthesized from doc_id — the documents table has
    no event time, and the exact-oracle configuration neutralizes the
    dedup TTL anyway). Returns (r1, r2)."""
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source")
        .withColumn("h4", _h4())
        .withColumn(
            "ingested_at",
            F.timestamp_micros(F.lit(_TS_BASE) + F.col("doc_id") * 1000),
        )
    )
    cols = ["doc_id", "ingested_at", "lang", "source", "text"]
    r1 = d.filter(F.col("h4") % 2 == 0).select(*cols)
    copies_cross = (
        d.filter(F.col("h4") == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(_OFF_CROSS))
        .select(*cols)
    )
    copies_within = (
        d.filter(F.col("h4") == 1)
        .withColumn("doc_id", F.col("doc_id") + F.lit(_OFF_WITHIN))
        .select(*cols)
    )
    r2 = (
        d.filter(F.col("h4") % 2 == 1)
        .select(*cols)
        .unionByName(copies_cross)
        .unionByName(copies_within)
    )
    return r1, r2


# ---------------------------------------------------------------------------
# stream_intake_filter_docs — quality gate + global first-wins dedup.
# ---------------------------------------------------------------------------

# The doc_quality entry's predicate, inlined (same rounding, same
# greatest() guards — llm_queries.doc_quality is the oracle-verified
# source of these expressions).
_QUALITY_WHERE = """
      length(text) >= 50 AND length(text) <= 100000
      AND len(regexp_extract_all(text, '\\S+')) >= 10
      AND round(length(text) * 1.0 /
                greatest(len(regexp_extract_all(text, '\\S+')), 1), 4)
          BETWEEN 2.0 AND 12.0
      AND round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 /
                greatest(length(text), 1), 4) >= 0.5
"""

# Every survivor set statistic is TEXT-derived (never doc_id-derived):
# within a fingerprint group dropDuplicates keeps an engine-chosen row,
# but all rows in the group share the text, so count / length-sum /
# fingerprint checksum are survivor-choice-invariant — and the injected
# duplicates change nothing (same fingerprints), they only attack the
# dedup state.
_FILTER_SQL = f"""
    WITH q AS (SELECT text FROM documents WHERE {_QUALITY_WHERE}),
    g AS (SELECT md5(text) AS fp, max(length(text)) AS len FROM q GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS sum_len,
           CAST(sum(CAST('0x' || substr(fp, 1, 8) AS BIGINT)) AS BIGINT)
               AS fp_checksum
    FROM g
    """


@_register("stream_intake_filter_docs", _FILTER_SQL)
@stream_scoped
def stream_intake_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming document-intake filter under the exact oracle
    (r11 — `stream_document_filter` was pytest-only). The two-round
    injected-duplicate feed (module docstring) runs through the REAL
    query — Gopher-style quality gate, content-fingerprint
    `dropDuplicatesWithinWatermark`, exactly-once parquet sink — with
    the dedup TTL set above the synthetic event-time span so first-wins
    dedup is global and the survivor set is exactly the distinct
    fingerprints of quality-passing text, which is what the oracle
    computes from the raw table. A lost fingerprint state across the
    checkpoint (cross-round copy leaks through), a missed in-batch dup,
    a quality-gate drift from the batch scorer, or a double-written
    sink batch each shifts n_docs/sum_len/fp_checksum. PII redaction is
    off here so the sink text equals the source text; the redaction
    expression is oracle-gated separately (hygiene entries).

    Scale notes: the filter chain is stateless codegen projections; the
    only state is the fingerprint dedup store, bounded in production by
    the `dedup_watermark` TTL — the exact-oracle configuration widens it
    deliberately. The sink is the exactly-once streaming file sink
    (read back through its _spark_metadata log)."""
    from power_generation_etl_spark.streaming.ingest import (
        stream_document_filter,
    )

    r1, r2 = _doc_rounds(spark, sf_dir)
    schema_out = "n_docs long, sum_len long, fp_checksum long"
    with stream_dirs("intake_f") as d:
        out = os.path.join(d.store, "out")

        def _run(landing: str) -> None:
            stream_document_filter(
                spark, landing, out, d.ckpt,
                redact_pii=False, dedup_watermark="3650 days",
            )

        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            surv = spark.read.parquet(out)
            row = surv.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum(F.length("text")).cast("bigint").alias("sum_len"),
                F.sum(
                    F.conv(F.substring("fingerprint", 1, 8), 16, 10).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("fp_checksum"),
            ).first()
            result = [(row["n_docs"], row["sum_len"], row["fp_checksum"])]
        except AnalysisException:  # zero batches ever ran (empty corpus)
            result = [(0, None, None)]
    return local_frame(spark, result, schema_out)


# ---------------------------------------------------------------------------
# stream_intake_neardup_docs — MinHash near-dup dedup at intake.
# ---------------------------------------------------------------------------


def _intake_neardup_oracle(
    k: int = 64, seed: int = 42, n_bands: int = 16, min_match: int = 32
) -> str:
    """Generated DuckDB twin of the full two-round
    `stream_neardup_intake` evolution: round-1 in-batch dedup seeds the
    signature store with round-1 SURVIVORS; round 2 dedups in-batch and
    against that store. Same seeded MinHash/band algebra as the
    oracle-verified `minhash_lsh_pairs` twin; verification is the
    k-component signature-agreement estimator (agreement >= 0.5 ⟺
    >= 32 of 64 components equal — exact integer compare on both
    engines). Dedup policy restated: in-batch, the HIGHER id of a
    verified banded candidate pair drops (non-transitively); against
    the store, the NEW doc drops on any verified match."""
    mins = ",\n             ".join(
        f"min(({a} * h + {b}) % {mh.MERSENNE_61}) AS m{i}"
        for i, (a, b) in enumerate(mh._coefficients(k, seed))
    )
    per_band = k // n_bands

    def _md5i(expr: str, hex_chars: int) -> str:
        return f"CAST(('0x' || substr(md5({expr}), 1, {hex_chars})) AS BIGINT)"

    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, side, {i} AS band, {key} AS key FROM sig".format(
            i=i,
            key=_md5i(
                "concat_ws(',', "
                + ", ".join(
                    f"m{j}" for j in range(i * per_band, (i + 1) * per_band)
                )
                + ")",
                15,
            ),
        )
        for i in range(n_bands)
    )
    match = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
    WITH u AS (SELECT doc_id, text, {_H4_SQL} AS h4 FROM documents),
    d2 AS (
      SELECT doc_id, text, 0 AS side FROM u WHERE h4 % 2 = 0
      UNION ALL SELECT doc_id, text, 1 AS side FROM u WHERE h4 % 2 = 1
      UNION ALL SELECT doc_id + {_OFF_CROSS}, text, 1 AS side
                FROM u WHERE h4 = 0
      UNION ALL SELECT doc_id + {_OFF_WITHIN}, text, 1 AS side
                FROM u WHERE h4 = 1
    ),
    toks AS (
      SELECT doc_id, side, string_split_regex(lower(text), '\\s+') AS t
      FROM d2
    ),
    sh AS (
      SELECT DISTINCT doc_id, side, array_to_string(t[i.i:i.i+2], ' ') AS s
      FROM toks, unnest(range(1, len(t) - 1)) AS i(i)
    ),
    hs AS (SELECT doc_id, side, {_md5i('s', 8)} AS h FROM sh),
    sig AS MATERIALIZED (
      SELECT doc_id, side,
             {mins}
      FROM hs GROUP BY doc_id, side
    ),
    bands AS MATERIALIZED (
      {band_rows}
    ),
    c1 AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE a.side = 0 AND b.side = 0
    ),
    drop1 AS (
      SELECT DISTINCT id_b AS doc_id FROM c1
      JOIN sig sa ON sa.doc_id = c1.id_a
      JOIN sig sb ON sb.doc_id = c1.id_b
      WHERE {match} >= {min_match}
    ),
    surv1 AS MATERIALIZED (
      SELECT doc_id FROM d2 WHERE side = 0
        AND doc_id NOT IN (SELECT doc_id FROM drop1)
    ),
    c2 AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE a.side = 1 AND b.side = 1
    ),
    drop2 AS (
      SELECT DISTINCT id_b AS doc_id FROM c2
      JOIN sig sa ON sa.doc_id = c2.id_a
      JOIN sig sb ON sb.doc_id = c2.id_b
      WHERE {match} >= {min_match}
    ),
    cs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.side = 1 AND b.side = 0
        AND b.doc_id IN (SELECT doc_id FROM surv1)
    ),
    drop_st AS (
      SELECT DISTINCT id_a AS doc_id FROM cs
      JOIN sig sa ON sa.doc_id = cs.id_a
      JOIN sig sb ON sb.doc_id = cs.id_b
      WHERE {match} >= {min_match}
    )
    SELECT doc_id FROM surv1
    UNION ALL
    SELECT doc_id FROM d2
    WHERE side = 1
      AND doc_id NOT IN (SELECT doc_id FROM drop2)
      AND doc_id NOT IN (SELECT doc_id FROM drop_st)
    ORDER BY doc_id
    """


@_register("stream_intake_neardup_docs", _intake_neardup_oracle())
@stream_scoped
def stream_intake_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming MinHash near-dup intake under the exact oracle
    (r11 — `stream_neardup_intake` was pytest-only). Two-round
    injected-duplicate feed through the REAL intake: per batch it
    shingles + signs the new docs, finds banded candidates within the
    batch AND against the persisted signature store (round-1 survivors
    only — written as `batch=0` and excluded-from-self on retry),
    verifies with the signature-agreement estimator, and appends
    survivors + their signatures/bands. The injected copies guarantee
    BOTH drop paths fire at every SF: within-batch copies (same text →
    identical signature → all 16 bands shared → agreement 1.0) and
    cross-round copies that are dropped ONLY if the signature store
    survived the checkpoint restart — a lost store version, a broken
    batch-partition exclusion, a banding/seed drift from the batch
    operator, or a wrong id tie-break each changes the survivor id set
    the oracle recomputes end-to-end in SQL.

    Scale notes: candidates meet only through shared band keys — the
    same O(Σ bucket²) bound as the batch LSH path — and
    `neardup_intake_batch` carries the counted `bucket_cap` volume
    guard for production corpora; the catalog pins bucket_cap=None so
    the oracle-gated output is exact and environment-independent. The
    store is probed by band (partition-prunable at scale) and carries
    only k longs + band keys per doc, never document bodies."""
    from power_generation_etl_spark.streaming.ingest import (
        stream_neardup_intake,
    )

    r1, r2 = _doc_rounds(spark, sf_dir)
    with stream_dirs("intake_nd") as d:
        out = os.path.join(d.store, "out")

        def _run(landing: str) -> None:
            stream_neardup_intake(
                spark, landing, out, d.ckpt, os.path.join(d.store, "sig"),
                threshold=0.5, n=3, k=64, n_bands=16, seed=42,
                bucket_cap=None,  # pinned: exact, env-independent output
            )

        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            # project the documented column explicitly — the batch=<id>
            # layout column must not leak into the contract schema
            rows = sorted(
                r["doc_id"]
                for r in spark.read.parquet(out).select("doc_id").collect()
            )
        except AnalysisException:  # zero batches ever ran (empty corpus)
            rows = []
    return local_frame(spark, [(i,) for i in rows], "doc_id long")


# ---------------------------------------------------------------------------
# pii_redaction_exact — the redaction REWRITE under the exact oracle.
# ---------------------------------------------------------------------------

# The shipped corpus is PII-free (pii_scan_docs verifies the all-zero
# negative path), so `hygiene.redact_pii` was pytest-only on a seeded
# fixture. This entry INJECTS deterministic PII — an email + IPv4 +
# phone suffix on the h3=0 docs, doc_id-derived so both engines build
# the identical text — and pins the full redaction rewrite (pattern
# coverage, [EMAIL]/[IP]/[PHONE] placeholders, and the email→ip→phone
# ORDER, which matters because an email contains digit runs the phone
# pattern would otherwise claim) via redacted length + content hash.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\+?\\d[\\d -]{7,}\\d"

_INJ_SQL = (
    "text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " at 192.168.1.77 or +1 555 123 4567'"
)

_REDACT_SQL = f"""
    WITH u AS (
      SELECT doc_id,
             CASE WHEN {_H4_SQL.replace('% 4', '% 3')} = 0
                  THEN {_INJ_SQL} ELSE text END AS t
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                 '{_PII_IPV4}', '[IP]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g') AS rt
      FROM u
    )
    SELECT doc_id,
           CAST(length(rt) AS BIGINT) AS redacted_len,
           CAST('0x' || substr(md5(rt), 1, 8) AS BIGINT) AS redacted_hash
    FROM r
    ORDER BY doc_id
    """


@_register("pii_redaction_exact", _REDACT_SQL)
def pii_redaction_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as an exact content rewrite (r11): inject a
    deterministic email+IPv4+phone suffix into a hash-chosen third of
    the documents, run the REAL `operators/hygiene.redact_pii` chain,
    and emit per-doc redacted length + 32-bit content hash. The DuckDB
    twin performs the identical injection and the identical ordered
    regexp_replace chain (the patterns are RE2-and-Java compatible, the
    same property `pii_scan_docs` already relies on), so a missed
    match, a wrong placeholder, a broken replace-all, or a reordered
    chain (phone before email eats the digits inside the address)
    breaks the hash. Unmodified docs ride along to pin the
    no-false-positive side on natural text.

    Scale notes: three codegen regexp passes, zero shuffles —
    row-parallel at any corpus size."""
    from power_generation_etl_spark.operators import hygiene as hg

    d = T(spark, sf_dir, "documents")
    h3 = mh.portable_hash32(F.col("doc_id").cast("string")) % 3
    injected = F.when(
        h3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 192.168.1.77 or +1 555 123 4567"),
        ),
    ).otherwise(F.col("text"))
    rt = hg.redact_pii(injected)
    return d.select(
        "doc_id",
        F.length(rt).cast("bigint").alias("redacted_len"),
        mh.portable_hash32(rt.cast("binary")).alias("redacted_hash"),
    ).orderBy("doc_id")


def _stream_doc_suite():
    from power_generation_etl_spark.operators.expectations import Suite

    # Mergeable subset of expectations_docs_by_source (uniqueness is
    # batch-only): size, text completeness, n_chars consistency, mean.
    return (
        Suite()
        .size_at_least(1)
        .completeness("text")
        .satisfies("n_chars_consistent", "n_chars = length(text)")
        .mean_scaled_between("n_chars", 1, 1 << 62, scale=1)
    )


@_register(
    "stream_expectations_by_source",
    _stream_doc_suite().oracle_grouped_sql("documents", "source"),
)
@stream_scoped
def stream_expectations_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PER-SHARD streaming expectations monitor under the exact
    oracle (r11): documents staged as JSON halves (split by a hash of
    doc_id) through two availableNow rounds; each micro-batch reduces
    to one partial-metrics row PER SOURCE and merges into the
    versioned per-group store (O(sources × slots) forever). The
    grouped report must equal the batch run_grouped over all
    documents — the generated grouped oracle computes exactly that, so
    a group's row lost in the merge, or metrics merged across the
    wrong group, breaks the hash. This is the shape that tells a
    100 TB intake WHICH of 10k shards drifted, continuously."""
    from power_generation_etl_spark.streaming.ingest import (
        grouped_expectations_from_store,
        stream_expectations,
    )

    suite = _stream_doc_suite()
    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "source", "n_chars")
    r1, r2 = hash_halves(docs, "doc_id")
    schema = "doc_id long, text string, source string, n_chars long"
    out_schema = "grp string, check_name string, metric long, passed int"
    with stream_dirs("qg") as d:
        def _run(landing: str) -> None:
            stream_expectations(
                spark, landing, d.store, d.ckpt, suite, schema,
                group_col="source",
            )

        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            rows = grouped_expectations_from_store(
                spark, d.store, suite
            ).collect()
        except ValueError:  # empty corpus: zero batches, no store
            rows = []
    return local_frame(spark, rows, out_schema)


# ---------------------------------------------------------------------------
# stream_text_index_terms — streaming inverted-index maintenance (r11
# third wave): the text twin of stream_ivf_ingest_cells. Documents are
# staged as JSON halves and fed in TWO ordered availableNow rounds
# against one checkpoint; each micro-batch tokenizes with the SAME
# lowercase/whitespace tokenizer as the batch index build and appends a
# deterministic `ix_b<batch>` postings shard. Because shards partition
# the document set, the merged (term, df, total_tf) stats must equal
# one batch tokenize+aggregate over ALL documents — which is what the
# oracle computes from the raw table. A tokenizer drift between the
# streaming and batch paths, a lost shard, or a double-ingested batch
# shifts df/tf and breaks the hash.
# ---------------------------------------------------------------------------

_TERMS_SQL = r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    p AS (
      SELECT term, doc_id, count(*) AS tf
      FROM toks WHERE term <> '' GROUP BY 1, 2
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS total_tf
    FROM p
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 20
"""


@_register("stream_text_index_terms", _TERMS_SQL)
@stream_scoped
def stream_text_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from power_generation_etl_spark.streaming.ingest import (
        stream_text_index_ingest,
        term_stats_from_store,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    r1, r2 = hash_halves(docs, "doc_id")
    out_schema = "term string, df long, total_tf long"
    with stream_dirs("ix") as d:
        def _run(landing: str) -> None:
            stream_text_index_ingest(
                spark, landing, d.store, d.ckpt, "doc_id", "text",
                "doc_id long, text string",
            )

        # round 1 shards ix_b0; round 2 appends ix_b1
        overlap_two_rounds(d, r1, r2, "json", _run)
        try:
            rows = term_stats_from_store(spark, d.store, k=20).collect()
        except ValueError:  # empty corpus: zero batches, no shards
            rows = []
    return local_frame(spark, rows, out_schema)

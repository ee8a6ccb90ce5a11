"""Distributed byte-pair-encoding (BPE) tokenizer training.

BPE (Sennrich et al. 2016) trains on the WORD-FREQUENCY TABLE, not the
corpus: at 100 TB the corpus is ~1e13 tokens but its vocabulary is
~1e7 distinct words, so after one tokenize + map-side-combined groupBy
every merge round touches only a vocab-scale DataFrame. Each round:

1. count adjacent symbol pairs over the segmented vocab, weighted by
   word frequency (posexplode + one lead() window PARTITIONED BY WORD
   — never a global window; one map-side-combined aggregation);
2. pick the most frequent pair — a 1-row driver collect, the same
   bounded driver state as the k-means centroid pattern;
3. merge every non-overlapping occurrence of that pair.

Merge application is ONE literal string `replace` pass over a
DOUBLE-space-delimited segmentation: `'  a  b  a  b  '` with pattern
`' a  b '` and replacement `' ab '`. The pattern keeps one boundary
space on each side and the replacement restores it, so the
double-space invariant survives every merge; two symbol-disjoint
occurrences of the pattern share NO characters (each consumes only
the inner halves of its flanking double spaces), so a left-to-right
non-overlapping scan — the semantics of `replace` in both engines —
merges exactly the classic greedy leftmost set, including runs of a
repeated symbol (`a a a a a -> aa aa a`, the case a single-space
encoding gets wrong because adjacent occurrences share the boundary
space). Symbols contain no spaces, so sub-symbol false matches are
impossible and the scan cannot misalign inside a double-space run
(the pattern's single leading space must be the second of a pair).

The segmented vocab is localCheckpoint'ed per round (the LPA/k-means
lineage-cut pattern) so round r does not replay rounds 1..r-1.

DuckDB oracle: rounds unrolled as MATERIALIZED CTE triples
(pair-counts, argmax, re-segment) with scalar subqueries for the merge
pattern — the same unrolled-iteration strategy as the k-means IVF
oracle. Reference has no tokenizer training; this is part of the
beyond-reference LLM-pipeline surface (like minhash.py, hygiene.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lineage import cut as _cut
from ..session import local_frame


def segment_chars(word):
    """`'abc' -> '  a  b  c  '`: DOUBLE-space-delimited
    single-character symbols with double-space sentinels, so pattern
    occurrences of `' X  Y '` at disjoint symbol positions never share
    a character (see module docstring)."""
    return F.concat(F.lit("  "), F.regexp_replace(word, "(.)", "$1  "))


def pair_counts(seg_df: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol-pair counts over a segmented
    vocab (`w`, `f`, `seg`). Output: (gram, cnt) where gram is
    ``'sym_a sym_b'``. The lead() window partitions by the vocab word —
    vocab-scale, skew-free (every word is a distinct key)."""
    from pyspark.sql.window import Window

    ex = seg_df.select(
        "w",
        "f",
        F.posexplode(F.split(F.trim(F.col("seg")), "  ")).alias("pos", "sym"),
    )
    w = Window.partitionBy("w").orderBy("pos")
    return (
        ex.withColumn("nxt", F.lead("sym", 1).over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.concat_ws(" ", "sym", "nxt").alias("gram"), "f")
        .groupBy("gram")
        .agg(F.sum("f").cast("bigint").alias("cnt"))
    )


def apply_merge(seg, gram):
    """Merge every occurrence of `gram` ('a b', single-space display
    form) in a double-space segmentation: one literal replace pass,
    exactly the classic greedy leftmost non-overlapping merge (see
    module docstring)."""
    a, b = gram.split(" ")
    pat = F.lit(f" {a}  {b} ")
    rep = F.lit(f" {a}{b} ")
    return F.replace(seg, pat, rep)


def _train(df: DataFrame, text_col: str, rounds: int, final_seg: bool):
    """Shared training loop: returns (merges list, final seg DataFrame).
    When `final_seg` the merge learned in the LAST round is also
    applied (the encoder needs the post-round-k segmentation; the
    merge-table query does not pay for that extra pass)."""
    wf = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    seg = wf.select("w", "f", segment_chars(F.col("w")).alias("seg"))
    seg = seg.transform(_cut)
    merges = []
    for r in range(1, rounds + 1):
        top = (
            pair_counts(seg)
            .orderBy(F.desc("cnt"), "gram")
            .limit(1)
            .collect()
        )
        if not top:
            break
        gram, cnt = top[0]["gram"], top[0]["cnt"]
        merges.append((r, gram, cnt))
        if r < rounds or final_seg:
            seg = seg.select(
                "w", "f", apply_merge(F.col("seg"), gram).alias("seg")
            ).transform(_cut)
    return merges, seg


def train_merges(
    df: DataFrame, text_col: str, rounds: int = 4
) -> DataFrame:
    """Learn the first `rounds` BPE merges from a corpus. Returns
    (round, merge, pair_count) — the merge table a BPE tokenizer
    persists, in learning order. Deterministic ties: highest count,
    then lexicographically smallest gram string (space < every symbol
    character, so gram-string order equals (sym_a, sym_b) tuple
    order). Stops early if the vocab runs out of pairs."""
    spark = df.sparkSession
    merges, _ = _train(df, text_col, rounds, final_seg=False)
    return local_frame(spark, merges, "round int, merge string, pair_count bigint")


def trained_segmentation(
    df: DataFrame, text_col: str, rounds: int = 4
) -> DataFrame:
    """The vocab after `rounds` learned merges: (w, f, seg). This IS
    the BPE encoder — tokenizing new text = explode its words and join
    this table (broadcast at real scale: vocab-sized), exactly how
    production tokenizers apply a frozen merge list."""
    _, seg = _train(df, text_col, rounds, final_seg=True)
    return seg


def encode_with_vocab(
    df: DataFrame, vocab: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Encode documents against a FROZEN trained segmentation (the
    `trained_segmentation` output, typically persisted by the
    `train-bpe` CLI verb and broadcast at encode time): per-doc
    (n_words, n_symbols). Out-of-vocab words fall back to
    character-level segmentation (`length(w)` symbols) — the standard
    BPE behavior of decomposing unseen words into base symbols."""
    vs = vocab.select(
        "w",
        F.size(F.split(F.trim(F.col("seg")), "  ")).cast("bigint").alias(
            "n_syms"
        ),
    )
    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    return (
        toks.join(F.broadcast(vs), "w", "left")
        .select(
            id_col,
            F.coalesce(F.col("n_syms"), F.length("w").cast("bigint")).alias(
                "n_syms"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_symbols"),
        )
    )

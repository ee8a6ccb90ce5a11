"""Differential tests for the suffix-array family on documents LONGER
than the round-0 prefix width (_INIT = 16 tokens): these are the only
tests that exercise the prefix-doubling loop, the arithmetic-combine /
densify alternation, and the hard-pair LCP binary descent — every
short-doc case resolves entirely inside round 0 and the in-row window
compare. Reference: a transparent O(n² log n) Python brute force over
the same tokenization."""

from __future__ import annotations

import random
import re

import pytest

pytestmark = pytest.mark.slow  # brute-force differential battery; run with -m "slow or not slow"

from power_generation_etl_spark.operators.suffix import (
    longest_repeated_substrings,
    suffix_array,
)

_CTRL = re.compile(r"[\x00-\x08\x0e-\x1f]")


def _tokens(text: str) -> list[str]:
    # Mirrors operators/suffix.py::_base: lowercase, strip
    # non-whitespace C0 controls, split on whitespace runs.
    return re.split(r"\s+", _CTRL.sub("", text.lower()))


def _brute_sa(docs: dict[int, str]) -> list[tuple[int, int, tuple[str, ...]]]:
    """All (doc_id, pos, suffix) in corpus-wide suffix order: token-wise
    comparison (Python tuple order — a strict prefix sorts first, the
    end-of-suffix-first rule), ties between identical suffixes broken
    by (doc_id, pos)."""
    sfx = []
    for d, text in docs.items():
        t = _tokens(text)
        for p in range(1, len(t) + 1):
            sfx.append((d, p, tuple(t[p - 1 :])))
    sfx.sort(key=lambda x: (x[2], x[0], x[1]))
    return sfx


def _brute_lrs(docs: dict[int, str], top: int = 10) -> list[tuple]:
    """(lcp, doc_a, pos_a, doc_b, pos_b, preview) rows exactly as
    longest_repeated_substrings defines them, from the brute SA."""
    sa = _brute_sa(docs)
    rows = []
    for k in range(len(sa) - 1):
        da, pa, sfa = sa[k]
        db, pb, sfb = sa[k + 1]
        lcp = 0
        for x, y in zip(sfa, sfb):
            if x != y:
                break
            lcp += 1
        if lcp >= 1:
            rows.append((lcp, da, pa, db, pb, " ".join(sfa[: min(lcp, 8)])))
    rows.sort(key=lambda r: (-r[0], r[1], r[2]))
    return rows[:top]


def _spark_sa(spark, docs):
    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, text string"
    )
    out = suffix_array(df, "doc_id", "text").collect()
    return [(r["doc_id"], r["pos"]) for r in sorted(out, key=lambda r: r["sa_rank"])]


def _spark_lrs(spark, docs, top=10):
    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, text string"
    )
    return [
        (r["lcp"], r["doc_a"], r["pos_a"], r["doc_b"], r["pos_b"], r["repeat_preview"])
        for r in longest_repeated_substrings(df, "doc_id", "text", top=top).collect()
    ]


def _w(i: int) -> str:
    return f"w{i}"


class TestSuffixDifferentialLongDocs:
    def test_shared_40_token_run(self, spark):
        """Two docs share a 40-token run (> 2 doubling rounds deep) at
        different offsets — the canonical hard-pair case: first 16
        tokens equal, both remainders exceed 16, LCP resolved by the
        binary descent."""
        run = " ".join(_w(i) for i in range(100, 140))
        docs = {
            1: "alpha beta " + run + " gamma delta epsilon",
            2: run + " zeta eta",
            3: "unrelated words only here",
        }
        assert _spark_sa(spark, docs) == [(d, p) for d, p, _ in _brute_sa(docs)]
        assert _spark_lrs(spark, docs) == _brute_lrs(docs)

    def test_duplicate_70_token_docs(self, spark):
        """Byte-identical 70-token docs: every adjacent cross-doc pair
        is hard with LCP = full remaining length — exercises multiple
        descent levels AND the duplicate-doc (doc_id, pos) tie-break."""
        text = " ".join(_w(i % 23) for i in range(70))
        docs = {5: text, 9: text}
        assert _spark_sa(spark, docs) == [(d, p) for d, p, _ in _brute_sa(docs)]
        assert _spark_lrs(spark, docs) == _brute_lrs(docs)

    def test_one_token_repeated_pathological(self, spark):
        """One token repeated 100x/60x: EVERY adjacent pair is hard and
        LCPs take every value — the descent's graceful-degradation
        path (position-scale hard set, still plain equi-joins)."""
        docs = {1: " ".join(["rep"] * 100), 2: " ".join(["rep"] * 60)}
        assert _spark_sa(spark, docs) == [(d, p) for d, p, _ in _brute_sa(docs)]
        assert _spark_lrs(spark, docs) == _brute_lrs(docs)

    def test_seeded_random_corpus(self, spark):
        """8 docs, 20-90 tokens from a 7-word vocabulary (dense repeat
        structure, mixed easy/hard pairs), fixed seed."""
        rng = random.Random(47)
        vocab = [_w(i) for i in range(7)]
        docs = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(20, 90)))
            for d in range(1, 9)
        }
        assert _spark_sa(spark, docs) == [(d, p) for d, p, _ in _brute_sa(docs)]
        assert _spark_lrs(spark, docs) == _brute_lrs(docs)

    def test_control_characters_normalized(self, spark):
        """Tokens containing non-whitespace C0 controls are normalized
        (stripped) during tokenization, so suffix order equals the
        brute force over the stripped text — the round-0 ' '-join
        ordering precondition (module docstring) holds by
        construction."""
        docs = {
            1: "a\x01 b " + " ".join(_w(i) for i in range(20)),
            2: "a b " + " ".join(_w(i) for i in range(20)),
            3: "a\x02b c",
        }
        assert _spark_sa(spark, docs) == [(d, p) for d, p, _ in _brute_sa(docs)]
        assert _spark_lrs(spark, docs) == _brute_lrs(docs)

    @pytest.mark.parametrize("cache_env", ["1", "0"])
    def test_cache_on_off_identical(self, spark, monkeypatch, cache_env):
        """The product memo-cache is semantically invisible: same
        results with SPARK_ETL_PRODUCT_CACHE on and off, and a second
        corpus in the same session never sees the first one's
        products."""
        monkeypatch.setenv("SPARK_ETL_PRODUCT_CACHE", cache_env)
        run = " ".join(_w(i) for i in range(30))
        docs_a = {1: run + " tail", 2: run}
        docs_b = {1: "totally different words", 2: "other text here"}
        assert _spark_lrs(spark, docs_a) == _brute_lrs(docs_a)
        assert _spark_lrs(spark, docs_b) == _brute_lrs(docs_b)
        # repeat corpus A: with the cache on this is the hit path
        assert _spark_sa(spark, docs_a) == [
            (d, p) for d, p, _ in _brute_sa(docs_a)
        ]

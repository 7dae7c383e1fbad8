"""Positional operators (functions/phrase.py) against a pure-Python model,
and SearchEngine.search_prefix against explicit disjunctive search."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from search_engine_spark.functions.phrase import (
    min_distance_col,
    phrase_count_col,
    positions_col,
)


# ---------------------------------------------------------------------------
# Pure-Python models
# ---------------------------------------------------------------------------
def _count_phrase(tokens: list[str], phrase: tuple[str, ...]) -> int:
    m = len(phrase)
    return sum(
        1
        for i in range(len(tokens) - m + 1)
        if tuple(tokens[i : i + m]) == phrase
    )


def _min_dist(tokens: list[str], a: str, b: str) -> int | None:
    pa = [i for i, t in enumerate(tokens) if t == a]
    pb = [i for i, t in enumerate(tokens) if t == b]
    if not pa or not pb:
        return None
    return min(abs(i - j) for i in pa for j in pb)


def _eval(spark, arrays: list[list[str]], col):
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "id long, lem array<string>"
    )
    rows = df.select("id", col.alias("v")).collect()
    return [r["v"] for r in sorted(rows, key=lambda r: r["id"])]


_TOK = st.sampled_from(["a", "b", "c", "ab"])
_ARR = st.lists(_TOK, max_size=12)


@settings(max_examples=20, deadline=None)
@given(st.lists(_ARR, min_size=1, max_size=12), st.integers(1, 3))
def test_phrase_count_matches_model(spark, arrays, m):
    phrase = tuple(["a", "b", "a"][:m])
    got = _eval(spark, arrays, phrase_count_col(F.col("lem"), phrase))
    want = [_count_phrase(a, phrase) for a in arrays]
    assert got == want


def test_phrase_edge_cases(spark):
    cases = [
        ([], 0),                      # empty array (blank text)
        (["spark"], 0),               # shorter than the phrase
        (["spark", "table"], 0),      # still shorter
        (["spark", "table", "hash"], 1),
        (["x", "spark", "table", "hash", "spark", "table", "hash"], 2),
        (["spark", "table", "spark", "table", "hash"], 1),
    ]
    col = phrase_count_col(F.col("lem"), ("spark", "table", "hash"))
    got = _eval(spark, [c[0] for c in cases], col)
    assert got == [c[1] for c in cases]


def test_phrase_overlapping_occurrences(spark):
    # overlap counting: "a a a" contains ("a","a") twice
    got = _eval(spark, [["a", "a", "a"]], phrase_count_col(F.col("lem"), ("a", "a")))
    assert got == [2]


def test_phrase_rejects_empty():
    with pytest.raises(ValueError):
        phrase_count_col(F.lit(None), ())


@settings(max_examples=20, deadline=None)
@given(st.lists(_ARR, min_size=1, max_size=12))
def test_min_distance_matches_model(spark, arrays):
    got = _eval(spark, arrays, min_distance_col(F.col("lem"), "a", "b"))
    want = [_min_dist(arr, "a", "b") for arr in arrays]
    assert got == want


def test_positions(spark):
    got = _eval(spark, [["a", "b", "a"], ["b"], []],
                positions_col(F.col("lem"), "a"))
    assert got == [[0, 2], [], []]


# ---------------------------------------------------------------------------
# search_prefix: expansion + disjunctive scoring through the real engine
# ---------------------------------------------------------------------------
def test_search_prefix_equals_explicit_disjunction(spark, built_index):
    from search_engine_spark.operators.query import SearchEngine

    out, _ = built_index
    eng = SearchEngine(spark, out)
    prefix = "s"
    expanded = sorted(
        r["term"]
        for r in eng.term_stats.filter(
            F.col("term").startswith(prefix)
        ).collect()
    )
    assert len(expanded) >= 2, "fixture vocabulary lost its s-terms"
    # the equality below feeds the expansion back through the query
    # analyzer, which is only well-defined for analyzer-stable lemmas
    from search_engine_spark.functions.analyzer import analyze_text

    assert all(analyze_text(t) == [t] for t in expanded), expanded
    got = eng.search_prefix(
        prefix, k=10, max_expansions=len(expanded)
    ).collect()
    want = eng.search_ids(
        " ".join(expanded), k=10, conjunctive=False, plan="classic"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_search_prefix_no_match_is_empty(spark, built_index):
    from search_engine_spark.operators.query import SearchEngine

    out, _ = built_index
    eng = SearchEngine(spark, out)
    assert eng.search_prefix("zzzzq", k=5).count() == 0


def test_search_prefix_expansion_cap_raises(spark, built_index):
    from search_engine_spark.operators.query import SearchEngine

    out, _ = built_index
    eng = SearchEngine(spark, out)
    with pytest.raises(ValueError, match="expands to more than"):
        eng.search_prefix("s", max_expansions=1)
    with pytest.raises(ValueError):
        eng.search_prefix("")

"""Boolean NOT, spell suggestion, more-like-this, and facet counts
(operators/query.py r5 additions) vs the pandas oracle — exact doc_id and
float64 score equality, same contract as test_query.py. Edge cases: NOT
with an unknown exclusion lemma (no-op), NOT that empties the result,
suggest at max_edit=0, MLT source-doc exclusion and unknown-doc error,
facet counts summing to the match-set size."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions.analyzer import analyze_text
from search_engine_spark.operators.query import SearchEngine
from search_engine_spark.oracle import bm25_idf, oracle_search


@pytest.fixture(scope="module")
def engine(spark, built_index):
    out, _ = built_index
    return SearchEngine(spark, out)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _full_ranking(oracle_idx, query: str, conjunctive=True) -> pd.DataFrame:
    return oracle_search(
        oracle_idx, query, k=oracle_idx.n_docs, conjunctive=conjunctive
    )


def _docs_containing(oracle_idx, lemmas) -> set[int]:
    out: set[int] = set()
    for t in lemmas:
        out.update(d for d, _ in oracle_idx.postings.get(t, ()))
    return out


def _pdf(df) -> pd.DataFrame:
    return df.toPandas()


# ---------------------------------------------------------------------------
# search_not
# ---------------------------------------------------------------------------
def test_search_not_equals_filtered_oracle(engine, oracle_idx):
    # pick a query with a healthy match set and a hot exclusion lemma
    query, excl = "table index", "query"
    full = _full_ranking(oracle_idx, query)
    banned = _docs_containing(oracle_idx, analyze_text(excl))
    assert banned, "exclusion lemma must exist in the fixture corpus"
    want = full[~full["doc_id"].isin(banned)].head(10).reset_index(drop=True)
    got = _pdf(engine.search_not(query, excl, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # the NOT must actually bite on this corpus
    plain = _pdf(engine.search_ids(query, k=10))
    assert set(got["doc_id"]) != set(plain["doc_id"])


def test_search_not_multi_lemma_exclusion(engine, oracle_idx):
    query, excl = "index", "scan batch"
    full = _full_ranking(oracle_idx, query)
    banned = _docs_containing(oracle_idx, analyze_text(excl))
    want = full[~full["doc_id"].isin(banned)].head(10).reset_index(drop=True)
    got = _pdf(engine.search_not(query, excl, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_search_not_unknown_exclusion_is_noop(engine, oracle_idx):
    query = "table index"
    got = _pdf(engine.search_not(query, "zzzxqjv", k=10))
    want = _pdf(engine.search_ids(query, k=10, plan="classic"))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_search_not_can_empty_the_result(engine, oracle_idx):
    # excluding one of the query's own lemmas contradicts conjunctive
    # semantics -> empty
    got = _pdf(engine.search_not("table index", "table", k=10))
    assert len(got) == 0


# ---------------------------------------------------------------------------
# suggest
# ---------------------------------------------------------------------------
def _suggest_oracle(oracle_idx, word: str, max_edit: int, k: int):
    rows = [
        (t, int(df), _lev(t, word))
        for t, df in zip(
            oracle_idx.term_stats["term"], oracle_idx.term_stats["df"]
        )
        if _lev(t, word) <= max_edit
    ]
    rows.sort(key=lambda r: (r[2], -r[1], r[0]))
    return pd.DataFrame(
        rows[:k], columns=["term", "df", "dist"]
    ).astype({"df": "int64", "dist": "int64"})


def test_suggest_matches_oracle(engine, oracle_idx):
    # derive a misspelling from a real dictionary term so hits exist
    some = oracle_idx.term_stats.sort_values("df", ascending=False)
    word = str(some.iloc[0]["term"])[:-1] + "x"  # 1 sub + maybe 1 del away
    got = _pdf(engine.suggest(word, max_edit=2, k=10))
    want = _suggest_oracle(oracle_idx, word, 2, 10)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want, check_exact=True
    )
    assert len(got) > 0


def test_suggest_max_edit_zero_is_exact_lookup(engine, oracle_idx):
    term = str(oracle_idx.term_stats.iloc[0]["term"])
    got = _pdf(engine.suggest(term, max_edit=0, k=5))
    assert got["term"].tolist() == [term]
    assert got["dist"].tolist() == [0]
    df_expected = int(
        oracle_idx.term_stats.set_index("term").loc[term, "df"]
    )
    assert got["df"].tolist() == [df_expected]


def test_suggest_rejects_blank_and_negative(engine):
    with pytest.raises(ValueError):
        engine.suggest("   ")
    with pytest.raises(ValueError):
        engine.suggest("word", max_edit=-1)


# ---------------------------------------------------------------------------
# more_like_this
# ---------------------------------------------------------------------------
def _mlt_oracle(oracle_idx, doc_id: int, n_terms: int, k: int):
    text = oracle_idx.documents.set_index("doc_id").loc[doc_id, "text"]
    from collections import Counter

    tf = Counter(analyze_text(text))
    stats = oracle_idx.term_stats.set_index("term")
    ranked = sorted(
        (
            (t, c) for t, c in tf.items() if t in stats.index
        ),
        key=lambda tc: (
            -(tc[1] * bm25_idf(oracle_idx.n_docs, int(stats.loc[tc[0], "df"]))),
            tc[0],
        ),
    )
    sel = [t for t, _ in ranked[:n_terms]]
    full = oracle_search(
        oracle_idx, " ".join(sel), k=oracle_idx.n_docs, conjunctive=False
    )
    return (
        full[full["doc_id"] != doc_id].head(k).reset_index(drop=True), sel
    )


def test_more_like_this_matches_oracle(engine, oracle_idx):
    # a mid-corpus doc with a few distinctive lemmas
    docs_nz = oracle_idx.documents[oracle_idx.documents["dl"] > 0]
    doc_id = int(docs_nz.iloc[len(docs_nz) // 2]["doc_id"])
    want, sel = _mlt_oracle(oracle_idx, doc_id, 3, 10)
    assert sel, "source doc must contribute selectable terms"
    got = _pdf(engine.more_like_this(doc_id, n_terms=3, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert doc_id not in set(got["doc_id"])


def test_more_like_this_unknown_doc_raises(engine):
    with pytest.raises(ValueError, match="not found"):
        engine.more_like_this(10**9)


def test_more_like_this_n_terms_caps_at_doc_vocab(engine, oracle_idx):
    doc_id = int(oracle_idx.documents[oracle_idx.documents["dl"] > 0].iloc[0]["doc_id"])
    # n_terms far above the doc's vocabulary: selection saturates, still
    # bit-exact vs the oracle with the same saturation
    want, _ = _mlt_oracle(oracle_idx, doc_id, 10_000, 10)
    got = _pdf(engine.more_like_this(doc_id, n_terms=10_000, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


# ---------------------------------------------------------------------------
# facet_counts
# ---------------------------------------------------------------------------
def test_facet_counts_matches_oracle(engine, oracle_idx):
    query = "table index"
    full = _full_ranking(oracle_idx, query)
    docs = oracle_idx.documents.set_index("doc_id")
    joined = full.join(docs[["conv_id"]], on="doc_id")
    want = (
        joined.groupby("conv_id")
        .agg(n_matches=("doc_id", "size"), best_score=("score", "max"))
        .reset_index()
        .rename(columns={"conv_id": "facet"})
        .sort_values(["n_matches", "facet"], ascending=[False, True])
        .reset_index(drop=True)
        .astype({"n_matches": "int64"})
    )
    got = _pdf(engine.facet_counts(query, by="conv_id"))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert int(got["n_matches"].sum()) == len(full)


def test_facet_counts_unknown_column_raises(engine):
    with pytest.raises(ValueError, match="facet column"):
        engine.facet_counts("table", by="nope")


def test_facet_counts_unknown_term_is_empty(engine):
    got = _pdf(engine.facet_counts("zzzxqjv"))
    assert len(got) == 0


# ---------------------------------------------------------------------------
# match_count / role restriction
# ---------------------------------------------------------------------------
def test_match_count_matches_oracle(engine, oracle_idx):
    query = "table index"
    full = _full_ranking(oracle_idx, query)
    got = engine.match_count(query).collect()[0]["n_matches"]
    assert got == len(full)
    # disjunctive: any doc containing either lemma
    any_docs = _docs_containing(oracle_idx, analyze_text(query))
    got_any = engine.match_count(query, conjunctive=False).collect()[0][
        "n_matches"
    ]
    assert got_any == len(any_docs)


def test_match_count_missing_term_is_zero(engine):
    assert (
        engine.match_count("table zzzxqjv").collect()[0]["n_matches"] == 0
    )
    # disjunctively the unknown lemma just drops out
    assert engine.match_count(
        "table zzzxqjv", conjunctive=False
    ).collect()[0]["n_matches"] > 0


def test_role_restriction_matches_oracle(engine, oracle_idx):
    query = "table index"
    full = _full_ranking(oracle_idx, query)
    docs = oracle_idx.documents.set_index("doc_id")
    user_ids = set(docs[docs["role"] == "user"].index)
    want = (
        full[full["doc_id"].isin(user_ids)].head(10).reset_index(drop=True)
    )
    got = _pdf(engine.search_ids(query, k=10, role="user"))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # the restriction must bite: some unrestricted top-10 doc is not a
    # user turn on this fixture corpus
    plain = _pdf(engine.search_ids(query, k=10))
    assert set(plain["doc_id"]) - user_ids


def test_role_unknown_is_empty(engine):
    assert engine.search_ids("table", k=10, role="nonexistent").count() == 0


def test_role_rejects_forced_fast_plans(engine):
    with pytest.raises(ValueError, match="role"):
        engine.search_ids("table", role="user", plan="packed")


# ---------------------------------------------------------------------------
# suffix (leading-wildcard) search
# ---------------------------------------------------------------------------
def test_search_suffix_matches_disjunctive_oracle(engine, oracle_idx):
    suffix = "ge"  # merge, ... on the fixture vocabulary
    terms = [
        t for t in oracle_idx.term_stats["term"] if t.endswith(suffix)
    ]
    assert len(terms) >= 2, "fixture must have several *ge lemmas"
    full = oracle_search(
        oracle_idx, " ".join(terms), k=oracle_idx.n_docs, conjunctive=False
    )
    want = full.head(10).reset_index(drop=True)
    got = _pdf(engine.search_suffix(suffix, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_search_suffix_contracts(engine):
    with pytest.raises(ValueError, match="non-empty"):
        engine.search_suffix("")
    with pytest.raises(ValueError, match="expands to more than"):
        engine.search_suffix("e", max_expansions=1)
    assert engine.search_suffix("zzzxqjv", k=5).count() == 0

"""Symmetric-delete suggestion index (operators/suggest_index.py):
the delete-key superset property (the correctness core of the SymSpell
scheme), bit-exact parity between the delete-index path and the scan
path, the stats_epoch freshness handshake, and the loud-failure
contract when the index can't answer exactly."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.operators.query import SearchEngine
from search_engine_spark.operators.suggest_index import (
    SUGGEST_DIR,
    build_suggest_index,
    delete_variants,
    read_suggest_manifest,
)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


WORD = st.text(alphabet="abc", min_size=0, max_size=7)


@settings(max_examples=500, deadline=None)
@given(WORD, WORD)
def test_delete_key_superset_property(a, b):
    """If lev(a, b) <= e, the two words MUST share a delete variant
    reachable with <= e deletions from each — the property that makes
    the delete-key intersection a superset of the true match set (an
    exact levenshtein over candidates then makes it exact)."""
    for e in (1, 2):
        if _lev(a, b) <= e:
            assert delete_variants(a, e) & delete_variants(b, e), (a, b, e)


def test_delete_variants_counts():
    assert delete_variants("ab", 1) == {"ab", "a", "b"}
    assert "" in delete_variants("ab", 2)
    # |variants| for distinct-letter words: 1 + L + C(L,2)
    assert len(delete_variants("abcde", 2)) == 1 + 5 + 10


@pytest.fixture(scope="module")
def engine_with_index(spark, built_index):
    out, _ = built_index
    eng = SearchEngine(spark, out)
    build_suggest_index(spark, out, max_edit=2)
    return eng


def test_fast_path_matches_scan_path(engine_with_index):
    eng = engine_with_index
    for word, e in (("indx", 2), ("tokken", 2), ("merge", 1), ("xq", 2)):
        fast = eng.suggest(
            word, max_edit=e, k=20, use_delete_index=True
        ).toPandas()
        scan = eng.suggest(
            word, max_edit=e, k=20, use_delete_index=False
        ).toPandas()
        pd.testing.assert_frame_equal(fast, scan, check_exact=True)


def test_auto_routing_uses_fresh_index(engine_with_index):
    eng = engine_with_index
    assert eng._suggest_index_usable("indx", 2)
    # default (None) must produce the same frame either way
    auto = eng.suggest("indx", k=10).toPandas()
    scan = eng.suggest("indx", k=10, use_delete_index=False).toPandas()
    pd.testing.assert_frame_equal(auto, scan, check_exact=True)


def test_manifest_records_epoch(engine_with_index):
    m = read_suggest_manifest(engine_with_index.index_dir)
    assert m is not None
    assert m["max_edit"] == 2
    assert m["stats_epoch"] == engine_with_index._stats_epoch
    rows = engine_with_index.spark.read.parquet(
        f"{engine_with_index.index_dir}/{SUGGEST_DIR}"
    )
    assert rows.limit(1).count() == 1


def test_stale_epoch_falls_back_and_rebuild_restores(
    spark, transcripts_df, tmp_path
):
    from search_engine_spark.operators.incremental import incremental_update
    from search_engine_spark.operators.index_build import build_index
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    base = transcripts_df.filter(F.col("turn_idx") % 3 != 0)
    inc = transcripts_df.filter(F.col("turn_idx") % 3 == 0)
    build_index(spark, base, idx, n_parts=1, resume=False)
    build_suggest_index(spark, idx, max_edit=2)
    eng = SearchEngine(spark, idx)
    assert eng._suggest_index_usable("indx", 2)

    # the merge bumps stats_epoch and grows the vocabulary — the delete
    # index must stop being trusted
    incremental_update(spark, inc, idx)
    eng2 = SearchEngine(spark, idx)
    assert not eng2._suggest_index_usable("indx", 2)
    with pytest.raises(ValueError, match="stale"):
        eng2.suggest("indx", use_delete_index=True)
    # auto mode silently degrades to the (exact) scan path
    scan = eng2.suggest("indx", k=10, use_delete_index=False).toPandas()
    auto = eng2.suggest("indx", k=10).toPandas()
    pd.testing.assert_frame_equal(auto, scan, check_exact=True)

    # rebuilding under the new epoch restores the fast path, bit-exact
    build_suggest_index(spark, idx, max_edit=2)
    eng3 = SearchEngine(spark, idx)
    assert eng3._suggest_index_usable("indx", 2)
    fast = eng3.suggest("indx", k=10, use_delete_index=True).toPandas()
    scan3 = eng3.suggest("indx", k=10, use_delete_index=False).toPandas()
    pd.testing.assert_frame_equal(fast, scan3, check_exact=True)


def test_requested_edit_wider_than_built_refuses(engine_with_index):
    with pytest.raises(ValueError, match="narrower|stale|missing"):
        engine_with_index.suggest("indx", max_edit=3, use_delete_index=True)


def test_long_word_falls_back(engine_with_index):
    eng = engine_with_index
    m = read_suggest_manifest(eng.index_dir)
    long_word = "x" * (m["max_term_len"] - m["max_edit"] + 1)
    assert not eng._suggest_index_usable(long_word, 2)
    # auto mode still answers (scan path), no error
    assert eng.suggest(long_word, k=5).count() == 0


def test_length_cap_uses_requested_edit(engine_with_index):
    """The cap hides only terms longer than max_term_len, and a true
    match is at most the REQUESTED max_edit longer than the word: a word
    of length max_term_len - 1 is answerable exactly at max_edit=1 on an
    index built for 2, bit-identical to the scan path."""
    eng = engine_with_index
    m = read_suggest_manifest(eng.index_dir)
    word = ("tokenization" * 4)[: m["max_term_len"] - 1]
    assert not eng._suggest_index_usable(word, 2)
    assert eng._suggest_index_usable(word, 1)
    fast = eng.suggest(word, max_edit=1, k=10, use_delete_index=True).toPandas()
    scan = eng.suggest(word, max_edit=1, k=10, use_delete_index=False).toPandas()
    pd.testing.assert_frame_equal(fast, scan, check_exact=True)

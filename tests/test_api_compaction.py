"""API facade contracts (reference endpoint parity) + compaction."""

from __future__ import annotations

import pytest

from search_engine_spark.api import (
    ERR_EMPTY_QUERY,
    EngineAPI,
)
from search_engine_spark.operators.compaction import compact_index
from search_engine_spark.operators.incremental import incremental_update
from search_engine_spark.operators.query import SearchEngine
from search_engine_spark.synth import make_transcripts


def _sdf(spark, pdf):
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("api") / "idx")
    a = EngineAPI(spark, idx)
    pdf = make_transcripts(n_conversations=50, seed=5)
    res = a.start_indexing(_sdf(spark, pdf), n_parts=2, resume=False)
    assert res == {"result": True}
    a.wait(300)
    assert not a.is_indexing()
    return a


def test_search_envelope(spark, api):
    out = api.search("query index", limit=5)
    assert out["result"] and out["count"] == 5
    row = out["data"][0]
    assert {"doc_id", "conv_id", "turn_idx", "relevance", "snippet"} <= set(row)
    assert "<b>" in row["snippet"]


def test_search_empty_query_error(spark, api):
    assert api.search("   ") == {"result": False, "error": ERR_EMPTY_QUERY}


def test_search_no_results(spark, api):
    out = api.search("zzzznonexistent")
    assert out == {"result": True, "count": 0, "data": []}


def test_search_many_envelope_matches_single(spark, api):
    """Batched endpoint: one scoring plan, per-query reference envelope,
    each query's page identical to the sequential search() on it."""
    qs = {"a": "query index", "b": "token stream"}
    out = api.search_many(qs, limit=5)
    assert out["result"]
    assert set(out["results"]) == {"a", "b"}
    for qid, q in qs.items():
        single = api.search(q, limit=5)
        batch = out["results"][qid]
        assert batch["result"] and batch["count"] == single["count"]
        assert [d["doc_id"] for d in batch["data"]] == [
            d["doc_id"] for d in single["data"]
        ]
        assert [d["relevance"] for d in batch["data"]] == [
            d["relevance"] for d in single["data"]
        ]
        assert all("<b>" in d["snippet"] for d in batch["data"])


@pytest.mark.parametrize("offset", [0, 5])
@pytest.mark.parametrize("with_snippets", [True, False])
def test_search_many_pages_equal_search(spark, api, offset, with_snippets):
    """Every query's page in a search_many envelope equals search() for
    that query: the same rows (doc_id, conv_id, turn_idx, relevance) in
    the same order, and the same snippets when asked for (None when
    not). The batch is presented through one point-read of the union
    of its pages' doc ids."""
    qs = {"a": "query index", "b": "token stream", "c": "token",
          "d": "query zzzznonexistent", "e": "index merge spark"}
    out = api.search_many(qs, offset=offset, limit=5,
                          with_snippets=with_snippets)
    assert out["result"]
    for qid, q in qs.items():
        single = api.search(q, offset=offset, limit=5)
        batch = out["results"][qid]
        assert batch["result"] and batch["count"] == single["count"], qid
        if not with_snippets:
            assert all(d["snippet"] is None for d in batch["data"]), qid
            for d in single["data"]:
                d["snippet"] = None
        assert batch["data"] == single["data"], qid
    assert out["results"]["a"]["count"] == 5
    assert out["results"]["d"]["count"] == 0


def test_search_many_pagination(spark, api):
    full = api.search_many({"a": "query index"}, limit=6)["results"]["a"]
    page = api.search_many({"a": "query index"}, offset=3, limit=3)
    got = page["results"]["a"]
    assert got["count"] == 3
    assert [d["doc_id"] for d in got["data"]] == [
        d["doc_id"] for d in full["data"][3:6]
    ]


def test_search_many_blank_query_is_per_query_error(spark, api):
    out = api.search_many({"good": "query", "bad": "   "})
    assert out["result"]
    assert out["results"]["bad"] == {
        "result": False, "error": ERR_EMPTY_QUERY,
    }
    assert out["results"]["good"]["result"]


def test_search_many_before_first_build(spark, tmp_path):
    a = EngineAPI(spark, str(tmp_path / "noidx"))
    out = a.search_many({"a": "query"})
    assert out["result"] is False and "error" in out


def test_statistics(spark, api):
    st = api.statistics()
    tot = st["statistics"]["total"]
    assert tot["docs"] > 0 and tot["terms"] > 0 and not tot["is_indexing"]
    assert len(st["statistics"]["parts"]) == 2
    assert all(p["status"] == "DONE" for p in st["statistics"]["parts"])


def test_index_batch_and_compaction(spark, api, tmp_path_factory):
    extra = make_transcripts(n_conversations=12, seed=99)
    extra["conv_id"] = "x-" + extra["conv_id"]
    out = api.index_batch(_sdf(spark, extra))
    assert out["result"] and out["new_docs"] > 0

    eng = SearchEngine(spark, api.index_dir)
    before = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in eng.search_ids("query index", k=30)
        .join(eng.documents.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .collect()
    }
    res = compact_index(spark, api.index_dir, n_parts=3)
    assert res["parts_before"] == 3  # 2 base + 1 incremental
    assert res["parts_after"] == 3

    eng2 = SearchEngine(spark, api.index_dir)
    after = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in eng2.search_ids("query index", k=30)
        .join(eng2.documents.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .collect()
    }
    assert before == after  # bit-identical scores across the rewrite


def test_compact_fewer_parts_then_incremental(spark, tmp_path_factory):
    """Compaction that REDUCES part count must leave staging in the new
    part layout: a stale old-layout staging dir holds part ids above the
    new manifest range, which _recover_uncommitted would treat as
    uncommitted orphans pointing at postings parts compaction deleted —
    every later incremental_update then dies. (ADVICE r2, high.)"""
    idx = str(tmp_path_factory.mktemp("compactdown") / "idx")
    a = EngineAPI(spark, idx)
    pdf = make_transcripts(n_conversations=40, seed=11)
    a.start_indexing(_sdf(spark, pdf), n_parts=4, resume=False)
    a.wait(300)
    for i in range(2):  # accumulate extra small parts, ids 4 and 5
        extra = make_transcripts(n_conversations=6, seed=200 + i)
        extra["conv_id"] = f"inc{i}-" + extra["conv_id"]
        assert a.index_batch(_sdf(spark, extra))["result"]

    res = compact_index(spark, idx, n_parts=2)
    assert res["parts_before"] == 6 and res["parts_after"] == 2
    from search_engine_spark.operators.incremental import _staging_part_ids

    assert _staging_part_ids(idx) == {0, 1}  # staging follows the layout

    eng = SearchEngine(spark, idx)
    # k far above the match count: both result sets are COMPLETE match
    # lists, so the set-survival assertion below is strict (a truncating
    # k would let "30 arbitrary rows came back" pass it vacuously)
    before = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in eng.search_ids("query index", k=100_000)
        .join(eng.documents.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .collect()
    }
    # the round-2 bug: this next call crashed in recovery
    extra = make_transcripts(n_conversations=5, seed=300)
    extra["conv_id"] = "post-" + extra["conv_id"]
    out = incremental_update(spark, _sdf(spark, extra), idx)
    assert out["new_docs"] > 0 and out["new_parts"] == 1

    eng2 = SearchEngine(spark, idx)
    after = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in eng2.search_ids("query index", k=100_000)
        .join(eng2.documents.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .collect()
    }
    # scores may shift via the global stats (n_docs/avgdl) the new batch
    # legitimately changes, but every pre-update matching doc must still
    # match, and anything NEW must come from the appended batch
    assert before and set(before) <= set(after)
    assert all(c.startswith("post-") for c, _ in set(after) - set(before))
    assert incremental_update(spark, _sdf(spark, extra), idx)["new_docs"] == 0


def test_index_batch_without_index_errors(spark, tmp_path):
    a = EngineAPI(spark, str(tmp_path / "noidx"))
    pdf = make_transcripts(n_conversations=3, seed=1)
    out = a.index_batch(_sdf(spark, pdf))
    assert out["result"] is False and "no complete index" in out["error"]
    # every mutation opens the index through the same check
    out = a.compact()
    assert out["result"] is False and "no complete index" in out["error"]
    out = a.delete_batch(_sdf(spark, pdf).select("conv_id"))
    assert out["result"] is False and "no complete index" in out["error"]


def test_api_envelope_before_first_build(spark, tmp_path):
    """search()/statistics() on a facade whose index has never been built
    must return the {"result": False, "error"} envelope (with indexing
    state), never leak a raw AnalysisException — the reference serves
    /api/statistics during indexing too."""
    from search_engine_spark.api import ERR_NO_INDEX

    a = EngineAPI(spark, str(tmp_path / "noidx"))
    out = a.search("hello world")
    assert out["result"] is False and out["error"] == ERR_NO_INDEX
    st = a.statistics()
    assert st["result"] is False and st["error"] == ERR_NO_INDEX
    assert st["is_indexing"] is False


def test_api_surfaces_background_build_failure(spark, tmp_path):
    """A background build failure must be visible through statistics()
    (the reference records setFailed(last_error)); silently swallowing it
    leaves a failed build indistinguishable from no build."""
    a = EngineAPI(spark, str(tmp_path / "failidx"))
    bad = spark.createDataFrame([("x",)], schema="not_a_transcript string")
    assert a.start_indexing(bad, n_parts=1, resume=False) == {"result": True}
    a.wait(120)
    st = a.statistics()
    assert st["result"] is False
    assert st["last_error"]


def test_compact_wrapper_invalidates_memoized_engine(spark, tmp_path_factory):
    """api.compact() must drop the memoized engine (ADVICE r3, medium):
    compaction rmtree-swaps the postings dirs, so a cached engine's lazy
    plans point at deleted parquet files and the next search would raise a
    raw FileNotFoundException instead of results."""
    idx = str(tmp_path_factory.mktemp("compactapi") / "idx")
    a = EngineAPI(spark, idx)
    pdf = make_transcripts(n_conversations=25, seed=17)
    assert a.start_indexing(_sdf(spark, pdf), n_parts=2, resume=False)["result"]
    a.wait(300)
    extra = make_transcripts(n_conversations=6, seed=18)
    extra["conv_id"] = "z-" + extra["conv_id"]
    assert a.index_batch(_sdf(spark, extra))["result"]

    before = a.search("query index", limit=10)
    assert before["result"] and before["count"] > 0
    assert a._engine is not None  # memoized by the search above

    res = a.compact(n_parts=1)
    assert res["result"] and res["parts_after"] == 1
    assert a._engine is None  # invalidated by the wrapper

    after = a.search("query index", limit=10)
    assert after["result"]
    assert [d["doc_id"] for d in after["data"]] == [
        d["doc_id"] for d in before["data"]
    ]
    assert [d["relevance"] for d in after["data"]] == [
        d["relevance"] for d in before["data"]
    ]


def test_public_invalidate_covers_out_of_band_compaction(
    spark, tmp_path_factory
):
    """Out-of-band compact_index against a directory an EngineAPI is
    serving requires api.invalidate() — the documented escape hatch."""
    idx = str(tmp_path_factory.mktemp("oob") / "idx")
    a = EngineAPI(spark, idx)
    pdf = make_transcripts(n_conversations=25, seed=19)
    assert a.start_indexing(_sdf(spark, pdf), n_parts=2, resume=False)["result"]
    a.wait(300)
    extra = make_transcripts(n_conversations=6, seed=20)
    extra["conv_id"] = "w-" + extra["conv_id"]
    assert a.index_batch(_sdf(spark, extra))["result"]
    assert a.search("query index", limit=5)["result"]  # memoize
    compact_index(spark, idx, n_parts=1)  # out of band
    a.invalidate()
    out = a.search("query index", limit=5)
    assert out["result"] and out["count"] > 0

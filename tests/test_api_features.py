"""EngineAPI envelopes for the r5 search features: suggest ("did you
mean"), similar (more-like-this), facets (refine-by panel), and
search(exclude=) boolean NOT — happy path + every envelope error path."""

from __future__ import annotations

import pytest

from search_engine_spark.api import EngineAPI
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.synth import make_transcripts


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    pdf = make_transcripts(n_conversations=20, seed=33)
    idx = str(tmp_path_factory.mktemp("api_features") / "idx")
    build_index(spark, spark.createDataFrame(pdf), idx, n_parts=1,
                resume=False)
    return EngineAPI(spark, idx)


def test_api_suggest_envelope(api):
    res = api.suggest("indx")  # one edit from 'index'
    assert res["result"] is True and res["count"] >= 1
    top = res["data"][0]
    assert set(top) == {"term", "df", "distance"}
    assert top["term"] == "index" and top["distance"] == 1
    # distances are non-decreasing (rank order surfaced intact)
    dists = [d["distance"] for d in res["data"]]
    assert dists == sorted(dists)


def test_api_suggest_error_envelope(api):
    res = api.suggest("   ")
    assert res["result"] is False and "word" in res["error"]


def test_api_similar_envelope(api):
    res = api.similar(0, n_terms=3, limit=5)
    assert res["result"] is True and 0 < res["count"] <= 5
    assert all(d["doc_id"] != 0 for d in res["data"])
    assert all("snippet" in d for d in res["data"])
    # snippets highlight the MLT query's own lemmas (the top neighbor
    # must contain at least one selected term — that's why it matched)
    assert "<b>" in res["data"][0]["snippet"]
    rel = [d["relevance"] for d in res["data"]]
    assert rel == sorted(rel, reverse=True)


def test_api_similar_unknown_doc_error(api):
    res = api.similar(10**9)
    assert res["result"] is False and "not found" in res["error"]


def test_api_facets_envelope(api):
    res = api.facets("index", by="conv_id")
    assert res["result"] is True and res["count"] >= 2
    counts = [d["n_matches"] for d in res["data"]]
    assert counts == sorted(counts, reverse=True)
    capped = api.facets("index", by="conv_id", limit=1)
    assert capped["count"] == 1
    # limit=0 is a real cap, not "no limit"
    assert api.facets("index", by="conv_id", limit=0)["count"] == 0


def test_api_facets_error_envelopes(api):
    assert api.facets("  ")["result"] is False
    bad = api.facets("index", by="nope")
    assert bad["result"] is False and "facet column" in bad["error"]


def test_api_search_exclude(api):
    plain = api.search("index", limit=10)
    notted = api.search("index", limit=10, exclude="query")
    assert plain["result"] is True and notted["result"] is True
    plain_ids = {d["doc_id"] for d in plain["data"]}
    not_ids = {d["doc_id"] for d in notted["data"]}
    assert not_ids != plain_ids
    # excluded docs really lack the lemma: re-searching for it
    # conjunctively over the NOT page must return nothing from the page
    both = api.search("index query", limit=1000)
    both_ids = {d["doc_id"] for d in both["data"]}
    assert not (not_ids & both_ids)


def test_api_search_exclude_composition_error(api):
    res = api.search("index", exclude="query", offset=5)
    assert res["result"] is False and "exclude" in res["error"]


def test_api_count_envelope(api):
    res = api.count("index")
    assert res["result"] is True and res["n_matches"] > 0
    # count covers the FULL match set, not the page
    page = api.search("index", limit=5)
    assert res["n_matches"] >= page["count"]
    assert api.count("  ")["result"] is False


def test_api_search_role_restriction(api):
    res = api.search("index", limit=1000, role="user")
    assert res["result"] is True and res["count"] > 0
    plain = api.search("index", limit=1000)
    assert res["count"] < plain["count"]


def test_api_envelopes_only_argument_errors(api, monkeypatch):
    """Only QueryArgumentError becomes the error envelope: a plain
    ValueError from inside the engine is a fault and must propagate."""
    from search_engine_spark.errors import QueryArgumentError
    from search_engine_spark.operators.query import SearchEngine

    bad_mode = api.search("index", mode="nope")
    assert bad_mode["result"] is False and "unknown scoring mode" in \
        bad_mode["error"]
    assert issubclass(QueryArgumentError, ValueError)

    def broken(self, *a, **kw):
        raise ValueError("engine fault")

    monkeypatch.setattr(SearchEngine, "search", broken)
    with pytest.raises(ValueError, match="engine fault"):
        api.search("index")
    monkeypatch.setattr(SearchEngine, "facet_counts", broken)
    with pytest.raises(ValueError, match="engine fault"):
        api.facets("index")

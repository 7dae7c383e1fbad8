"""Read paths build no Python-RDD frames, ``SearchEngine.search``'s rows
are exactly ``search_ids`` + the documents + ``make_snippet``, and a
bounded search or search_many batch runs no Spark job and collects no
DataFrame at all.

A frame from ``createDataFrame(<python list>)`` scans a Python RDD: an
RDD job on every evaluation, run by a second pool of Python workers.
Every read-path local frame goes through ``session.local_frame``
instead (Arrow LocalRelation; one placeholder row cut by ``limit(0)``
when empty)."""

from __future__ import annotations

import pytest

from search_engine_spark import schemas
from search_engine_spark.api import EngineAPI
from search_engine_spark.functions.analyzer import analyze_text
from search_engine_spark.functions.snippet import make_snippet
from search_engine_spark.operators.incremental import incremental_update
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query import SearchEngine
from search_engine_spark.session import local_frame
from search_engine_spark.synth import make_transcripts

from conftest import jobs_since

MISSING = "zzqnotaterm"


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    """An engine over an upserted index (a live delete vector)."""
    pdf = make_transcripts(n_conversations=24, seed=71)
    idx = str(tmp_path_factory.mktemp("local_frames") / "idx")
    build_index(spark, spark.createDataFrame(pdf), idx, n_parts=1,
                resume=False)
    changed = pdf[pdf["text"].fillna("").str.strip() != ""].iloc[::7].copy()
    changed["text"] = changed["text"] + " query index rewritten"
    res = incremental_update(spark, spark.createDataFrame(changed), idx,
                             upsert=True)
    assert res["replaced_docs"] > 0
    e = SearchEngine(spark, idx)
    assert e._deleted is not None
    return e


READ_FRAMES = {
    "delete-vector-antijoin": lambda e: e.documents,
    "empty-topk": lambda e: e._empty_topk(),
    "search-many-names": lambda e: e.search_many({"a": "query index"}, k=5),
    "search-many-empty": lambda e: e.search_many({"a": MISSING}, k=5),
    "match-count-missing": lambda e: e.match_count(MISSING),
    "facets-missing": lambda e: e.facet_counts(MISSING),
}


@pytest.mark.parametrize("name", sorted(READ_FRAMES))
def test_read_frames_scan_no_python_rdd(eng, name):
    df = READ_FRAMES[name](eng)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def _composed(eng, ids, query, with_snippets=True):
    """The reference composition: collected ids joined to the documents
    in Spark, snippets by make_snippet, (score DESC, doc_id ASC)."""
    lemmas = set(analyze_text(query))
    rows = ids.join(eng.documents, "doc_id").collect()
    return sorted(
        (
            (r["doc_id"], r["conv_id"], r["turn_idx"], r["score"],
             make_snippet(r["text"], lemmas) if with_snippets else None)
            for r in rows
        ),
        key=lambda t: (-t[3], t[0]),
    )


CASES = {
    "page1": ("query index", {}),
    "page2": ("query index", {"offset": 10}),
    "role": ("query", {"role": "user"}),
    "scope": ("index", {"scope": "conv-00001"}),
    "one-term": ("rewritten", {}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_search_equals_ids_plus_documents_plus_snippets(eng, case):
    query, kw = CASES[case]
    got = eng.search(query, k=10, **kw)
    want = _composed(eng, eng.search_ids(query, k=10, **kw), query)
    assert got and got == want


def test_search_exclude_and_no_snippets_compose_the_same(eng):
    got = eng.search("index", k=10, exclude="query")
    assert got == _composed(
        eng, eng.search_not("index", "query", k=10), "index"
    )
    bare = eng.search("query", k=10, with_snippets=False)
    assert bare == _composed(
        eng, eng.search_ids("query", k=10), "query", with_snippets=False
    )


def test_missing_term_search_is_empty(eng):
    assert eng.search(MISSING, k=10) == []


@pytest.mark.parametrize(
    "schema", [schemas.SEARCH_RESULT, schemas.POSTINGS, schemas.DOCUMENTS,
               "doc_id long, score double"],
    ids=["search-result", "postings", "documents", "topk"],
)
def test_empty_local_frame_collects_without_a_job(spark, schema):
    df = local_frame(spark, [], schema)
    h0 = jobs_since(spark)
    assert df.collect() == []
    assert jobs_since(spark, h0) == 0
    if not isinstance(schema, str):
        # nullability included: SEARCH_RESULT's fields are non-null
        assert df.schema == schema


@pytest.fixture
def collects(eng, monkeypatch):
    """Every DataFrame.collect call while the test runs. Spark's frames
    are pyspark.sql.classic DataFrames, whose collect overrides the one
    on pyspark.sql.DataFrame, so the spy goes on the concrete class."""
    calls = []
    cls = type(eng.spark.range(1))
    real_collect = cls.collect
    monkeypatch.setattr(
        cls, "collect", lambda self: calls.append(self) or real_collect(self)
    )
    return calls


def test_collects_spy_sees_a_collect(eng, collects):
    eng.spark.range(1).collect()
    assert len(collects) == 1


def test_bounded_api_search_runs_no_spark_job(eng, collects):
    """A freshly invalidated engine (init) + bounded searches with
    snippets — page 1, page 2, a one-term query and a missing term —
    run 0 Spark jobs and collect no DataFrame: every read is
    driver-side pyarrow, the plan is the local one and the envelope is
    built from the rows. (A LocalRelation collect runs no job either,
    so the collects are counted.)"""
    api = EngineAPI(eng.spark, eng.index_dir)
    h0 = jobs_since(eng.spark)
    pages = []
    for query, offset in (("query index", 0), ("query index", 10),
                          ("rewritten", 0), (MISSING, 0)):
        api.invalidate()
        res = api.search(query, offset=offset, limit=10)
        assert res["result"] is True
        pages.append(res["data"])
    assert jobs_since(eng.spark, h0) == 0
    assert collects == []
    assert pages[0] and pages[1] and pages[2] and pages[3] == []
    assert all("<b>" in row["snippet"] for row in pages[0])


def test_bounded_api_search_many_runs_no_spark_job(eng, collects):
    """A freshly invalidated engine + bounded batches (one with a
    missing-term query) with snippets on and off, at offset 0 and 5, run
    0 Spark jobs and collect no DataFrame: the batch runs the local plan
    and the envelope pages its rows."""
    api = EngineAPI(eng.spark, eng.index_dir)
    batch = {"a": "query index", "b": "rewritten", "gone": MISSING}
    h0 = jobs_since(eng.spark)
    outs = {}
    for with_snippets in (True, False):
        for offset in (0, 5):
            api.invalidate()
            outs[with_snippets, offset] = api.search_many(
                batch, offset=offset, limit=5, with_snippets=with_snippets
            )["results"]
    assert jobs_since(eng.spark, h0) == 0
    assert collects == []
    for (with_snippets, offset), res in outs.items():
        assert res["a"]["data"] and res["b"]["data"], (with_snippets, offset)
        assert res["gone"] == {"result": True, "count": 0, "data": []}
        snippets = [row["snippet"] for row in res["a"]["data"]]
        if with_snippets:
            assert all("<b>" in sn for sn in snippets)
        else:
            assert snippets == [None] * len(snippets)

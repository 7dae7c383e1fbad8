"""Top-k rank identity vs the pandas oracle over the fixed reference query
set (tests/fixtures/queries.json; FIXTURES.md F4) — both scoring modes,
conjunctive + disjunctive, pagination, df cutoff. Comparison is EXACT
(doc_ids and float64 scores bit-equal) thanks to fixed accumulation order.
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.oracle import oracle_search
from search_engine_spark.operators.query import SearchEngine, TermInfo

from conftest import jobs_since

QUERIES = json.loads(
    (Path(__file__).parent / "fixtures" / "queries.json").read_text()
)["queries"]


@pytest.fixture(scope="module")
def engine(spark, built_index):
    out, _ = built_index
    return SearchEngine(spark, out)


# the oracle checks both the driver-side local plan (where every bounded
# query routes) and the classic Spark plan (where larger queries route)
ORACLE_PLANS = ("local", "classic")


@pytest.mark.parametrize("spec", QUERIES, ids=[q["name"] for q in QUERIES])
@pytest.mark.parametrize("mode", ["bm25", "relevance_ref"])
def test_rank_identity(spec, mode, engine, oracle_idx):
    kwargs = dict(
        k=spec.get("k", 10),
        offset=spec.get("offset", 0),
        max_df=spec.get("max_df"),
        mode=mode,
    )
    exp = oracle_search(oracle_idx, spec["q"], **kwargs)
    for plan in ORACLE_PLANS:
        got = (
            engine.search_ids(spec["q"], plan=plan, **kwargs)
            .toPandas().reset_index(drop=True)
        )
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), plan
        assert got["score"].tolist() == exp["score"].tolist(), plan


@pytest.mark.parametrize("spec", QUERIES[:8], ids=[q["name"] for q in QUERIES[:8]])
def test_rank_identity_disjunctive(spec, engine, oracle_idx):
    exp = oracle_search(oracle_idx, spec["q"], k=10, conjunctive=False)
    for plan in ORACLE_PLANS:
        got = (
            engine.search_ids(spec["q"], k=10, conjunctive=False, plan=plan)
            .toPandas()
            .reset_index(drop=True)
        )
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), plan
        assert got["score"].tolist() == exp["score"].tolist(), plan


def test_full_search_projection(engine):
    res = pd.DataFrame(
        engine.search("token batch", k=5),
        columns=["doc_id", "conv_id", "turn_idx", "score", "snippet"],
    )
    assert len(res) > 0
    assert len(res) <= 5
    assert (res["score"] > 0).all()
    # snippets highlight at least one query surface form
    assert res["snippet"].str.contains("<b>").all()


@pytest.mark.parametrize(
    "spec",
    [q for q in QUERIES if not q.get("offset") and q.get("max_df") is None],
    ids=[
        q["name"]
        for q in QUERIES
        if not q.get("offset") and q.get("max_df") is None
    ],
)
def test_batch_plan_equals_classic_plan(spec, engine):
    """The packed search_many plan (large plain queries) and the
    driver-side local plan (bounded ones) must each stay bit-identical
    to the classic plan on the whole (plain) reference query set."""
    k = spec.get("k", 10)
    classic = engine.search_ids(
        spec["q"], k=k, plan="classic"
    ).toPandas()
    for plan in ("packed", "local"):
        fast = engine.search_ids(spec["q"], k=k, plan=plan).toPandas()
        assert fast["doc_id"].tolist() == classic["doc_id"].tolist(), plan
        assert fast["score"].tolist() == classic["score"].tolist(), plan


def test_batch_plan_rejects_unsupported_args(engine):
    with pytest.raises(ValueError):
        engine.search_ids("query index", offset=5, plan="packed")


def test_pagination_slices_consistently(engine, oracle_idx):
    full = engine.search_ids("query index", k=30).toPandas()
    page2 = engine.search_ids("query index", k=10, offset=10).toPandas()
    assert page2["doc_id"].tolist() == full["doc_id"].tolist()[10:20]


def test_scoped_search_is_exclusion(engine):
    """P4 scope (site-scoped search analog): scoped top-k must equal the
    unscoped scored set restricted to the scope then re-cut — scoring
    statistics stay global, the scope only excludes candidates."""
    docs = engine.documents.select("doc_id", "conv_id").toPandas()
    scope = "conv-00001"  # conv-000010 .. conv-000019
    all_hits = engine.search_ids("query index", k=100000).toPandas()
    merged = all_hits.merge(docs, on="doc_id")
    exp = (
        merged[merged["conv_id"].str.startswith(scope)]
        .sort_values(["score", "doc_id"], ascending=[False, True])
        .head(10)
    )
    got = engine.search_ids("query index", k=10, scope=scope).toPandas()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()
    assert len(got) > 0
    # a scope matching no conversation returns empty, never errors
    assert engine.search_ids("query index", k=5, scope="zz-none").count() == 0


def test_statistics(engine):
    stats = engine.statistics().toPandas()
    assert stats["n_docs"].sum() == engine.n_docs
    assert set(stats["role"]) <= {"user", "assistant", "system", "tool"}


# search_many's two routes: the driver-side local plan (every batch here
# is under the bound) and the packed Spark plan (the bound shadowed to 0)
MANY_BOUNDS = {"driver": None, "packed": 0}


def _shadow_bound(engine, monkeypatch, route):
    if MANY_BOUNDS[route] is not None:
        monkeypatch.setattr(
            engine, "LOCAL_PLAN_MAX_POSTINGS", MANY_BOUNDS[route]
        )


@pytest.mark.parametrize("route", sorted(MANY_BOUNDS))
def test_search_many_matches_sequential(engine, monkeypatch, route):
    """Batching must be bit-invisible on both routes: search_many over a
    mixed-width workload (3/2/1-term, shared vocabulary, a
    dictionary-missing term, an analyzes-to-nothing query) returns
    exactly each query's search_ids rows — same doc_ids, bit-equal float
    scores."""
    _shadow_bound(engine, monkeypatch, route)
    workload = {
        "multi": "query index merge",
        "pair": "token batch",
        "single": "spark",
        "missing": "token zzznope",  # conjunctive + absent term -> empty
        "blank": "🚀 ...",           # analyzer emits nothing -> empty
    }
    got = engine.search_many(workload, k=7).toPandas()
    assert list(got.columns) == ["query_id", "doc_id", "score"]
    for qid, q in workload.items():
        part = (
            got[got["query_id"] == qid]
            .sort_values(["score", "doc_id"], ascending=[False, True])
        )
        # plan="classic": the Spark pivot plan shares no combine code
        # with either search_many route (the local plan would)
        exp = engine.search_ids(q, k=7, plan="classic").toPandas()
        assert part["doc_id"].tolist() == exp["doc_id"].tolist(), qid
        assert part["score"].tolist() == exp["score"].tolist(), qid
    assert (got["query_id"] == "missing").sum() == 0
    assert (got["query_id"] == "blank").sum() == 0


@pytest.mark.parametrize("route", sorted(MANY_BOUNDS))
def test_search_many_disjunctive_and_modes(engine, monkeypatch, route):
    _shadow_bound(engine, monkeypatch, route)
    for mode in ["bm25", "relevance_ref"]:
        got = (
            engine.search_many(
                {"x": "dup spark token"}, k=6, mode=mode, conjunctive=False
            )
            .toPandas()
            .sort_values(["score", "doc_id"], ascending=[False, True])
        )
        exp = engine.search_ids(
            "dup spark token", k=6, mode=mode, conjunctive=False,
            plan="classic",
        ).toPandas()
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), mode
        assert got["score"].tolist() == exp["score"].tolist(), mode
    # an all-empty workload returns an empty frame with the right schema
    empty = engine.search_many(["zzznope"], k=3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "doc_id", "score",
    ]


def test_search_many_routes_on_the_union_df(engine, monkeypatch):
    """A batch routes on the summed df of its DISTINCT kept terms
    ("query" is shared; the missing-term query keeps none, not even
    "spark"): one below the bound runs on the driver (rows, no Spark
    plan), exactly the bound runs the packed Spark plan (a lazy frame),
    with equal answers."""
    workload = {"a": "query index", "b": "query token", "c": "zzznope spark"}
    dfs = {ti.term: ti.df for q in ("query index", "query token")
           for ti in engine.lookup_terms(q)[0]}
    union_df = sum(dfs.values())
    monkeypatch.setattr(engine, "LOCAL_PLAN_MAX_POSTINGS", union_df + 1)
    driver = engine._search_many(workload, 7, "bm25", True)
    assert isinstance(driver, list) and driver
    monkeypatch.setattr(engine, "LOCAL_PLAN_MAX_POSTINGS", union_df)
    packed = engine._search_many(workload, 7, "bm25", True)
    assert isinstance(packed, DataFrame)
    assert sorted(driver) == sorted(tuple(r) for r in packed.collect())


def test_forced_packed_plan_runs_spark_and_equals_classic(spark, engine):
    """search_ids(plan="packed") runs the packed Spark plan itself, not
    the auto-routing batch (which would serve it on the driver)."""
    h0 = jobs_since(spark)
    packed = engine.search_ids("query index", k=10, plan="packed").collect()
    assert jobs_since(spark, h0) >= 1
    classic = engine.search_ids("query index", k=10, plan="classic")
    assert packed and packed == classic.collect()


def _hot_terms(engine, n=5):
    """The n highest-df dictionary terms — the queries block-max exists
    for (deterministic: df desc, term asc)."""
    import pyspark.sql.functions as F

    rows = (
        engine.term_stats.orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
        .collect()
    )
    return [r["term"] for r in rows]


@pytest.mark.parametrize("mode", ["bm25", "relevance_ref"])
def test_blockmax_equals_classic_plan(engine, mode):
    """Two-pass block-max single-term top-k must be bit-identical to the
    classic full-decode plan on the hottest dictionary terms (where the
    seed threshold actually prunes blocks) for both scoring modes."""
    for term in _hot_terms(engine):
        fast = engine.search_ids(
            term, k=10, mode=mode, plan="blockmax"
        ).toPandas()
        classic = engine.search_ids(
            term, k=10, mode=mode, plan="classic"
        ).toPandas()
        assert fast["doc_id"].tolist() == classic["doc_id"].tolist(), term
        assert fast["score"].tolist() == classic["score"].tolist(), term


def test_blockmax_threshold_actually_prunes(spark, tmp_path):
    """On a corpus with real tf spread (a few tf-heavy docs over a sea
    of tf=1 mentions — the Zipf-head shape block-max exists for), the
    bound >= tau filter must keep strictly fewer blocks than the term
    has, while the pruned plan stays bit-identical to the classic one.

    The shared fixture corpus is deliberately NOT used: its tfs are
    near-uniform, so the drift-immune dl:=tf bound clusters and the
    threshold keeps everything (correct, just no pruning to observe)."""
    import datetime

    import pandas as pd
    import pyspark.sql.functions as F

    from search_engine_spark.operators.index_build import build_index

    filler = "alpha bravo charlie delta echo foxtrot golf hotel " * 2
    texts = [f"{filler} hot mention{i}" for i in range(600)]
    # tf-heavy docs: short, term-dominated (their dl:=tf bound is tight)
    texts += ["hot " * 8] * 5
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(len(texts))],
            "turn_idx": 0,
            "role": "user",
            "text": texts,
            "tool": None,
            "ts": datetime.datetime(2025, 1, 1),
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    out = str(tmp_path / "idx_bmx")
    build_index(spark, spark.createDataFrame(pdf), out, n_parts=2,
                resume=False)
    eng = SearchEngine(spark, out)
    infos, _ = eng.lookup_terms("hot")
    info = infos[0]
    term_blocks = eng._scan_blocks([info.term])
    total = term_blocks.count()
    assert total >= 4  # 605 postings / 128-block ~ 5 blocks
    bound = eng._bound_col_multi([info], "bm25")
    seed = (
        term_blocks.withColumn("_bms", bound)
        .orderBy(F.desc("_bms"), F.asc("first_doc_id"))
        .limit(3)
        .drop("_bms")
    )
    rows = (
        eng.candidate_scores(
            [info], mode="bm25", conjunctive=False, blocks_df=seed
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(3)
        .collect()
    )
    tau = float(rows[-1]["s"])
    kept = term_blocks.filter(bound >= F.lit(tau)).count()
    assert kept < total
    fast = eng.search_ids("hot", k=3, plan="blockmax").toPandas()
    classic = eng.search_ids("hot", k=3, plan="classic").toPandas()
    assert fast["doc_id"].tolist() == classic["doc_id"].tolist()
    assert fast["score"].tolist() == classic["score"].tolist()
    # fresh index -> the epoch handshake validates the STORED bound
    assert eng._stored_blockmax_valid() is True

    # invalidate the stored bound (incremental merge bumps the stats
    # epoch) and re-check the DRIFT-IMMUNE max_tf/min_dl bound: it must
    # also prune on this corpus (boilerplate blocks have max_tf=1 and
    # min_dl ~ the 16-word filler, far below tau from the tf=8 short
    # docs) and stay exact
    from search_engine_spark.operators.incremental import incremental_update

    extra = pd.DataFrame(
        {
            "conv_id": ["zz01"],
            "turn_idx": [0],
            "role": ["user"],
            "text": ["unrelated tail words here"],
            "tool": [None],
            "ts": [datetime.datetime(2025, 1, 2)],
        }
    )
    extra["ts"] = extra["ts"].astype("datetime64[us]")
    incremental_update(spark, spark.createDataFrame(extra), out)
    eng2 = SearchEngine(spark, out)
    assert eng2._stored_blockmax_valid() is False
    infos2, _ = eng2.lookup_terms("hot")
    bound2 = eng2._bound_col_multi([infos2[0]], "bm25")
    tb2 = eng2._scan_blocks(["hot"])
    seed2 = (
        tb2.withColumn("_bms", bound2)
        .orderBy(F.desc("_bms"), F.asc("first_doc_id"))
        .limit(3)
        .drop("_bms")
    )
    rows2 = (
        eng2.candidate_scores(
            [infos2[0]], mode="bm25", conjunctive=False, blocks_df=seed2
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(3)
        .collect()
    )
    tau2 = float(rows2[-1]["s"])
    assert tb2.filter(bound2 >= F.lit(tau2)).count() < tb2.count()
    fast2 = eng2.search_ids("hot", k=3, plan="blockmax").toPandas()
    classic2 = eng2.search_ids("hot", k=3, plan="classic").toPandas()
    assert fast2["doc_id"].tolist() == classic2["doc_id"].tolist()
    assert fast2["score"].tolist() == classic2["score"].tolist()


def test_blockmax_rejects_unsupported_args(engine):
    with pytest.raises(ValueError):
        engine.search_ids("query", offset=5, plan="blockmax")
    with pytest.raises(ValueError):  # multi-term query
        engine.search_ids("query index", plan="blockmax")


def test_unknown_mode_raises(engine):
    with pytest.raises(ValueError):
        engine.search_ids("query", mode="BM25")
    with pytest.raises(ValueError):
        engine.search_many(["query"], mode="bm-25")
    with pytest.raises(ValueError):
        engine.search_prefix("qu", mode="tfidf")


# ---------------------------------------------------------------------------
# Multi-term MaxScore (disjunctive block-max bound-sum pruning)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("mode", ["bm25", "relevance_ref"])
@pytest.mark.parametrize(
    "spec",
    [q for q in QUERIES if not q.get("offset") and q.get("max_df") is None][:6],
    ids=[
        q["name"]
        for q in QUERIES
        if not q.get("offset") and q.get("max_df") is None
    ][:6],
)
def test_maxscore_equals_classic_plan(spec, mode, engine):
    """The forced MaxScore plan must be bit-identical to the classic
    disjunctive full-decode plan on the reference query set, both
    scoring modes."""
    k = spec.get("k", 10)
    fast = engine.search_ids(
        spec["q"], k=k, mode=mode, conjunctive=False, plan="maxscore"
    ).toPandas()
    classic = engine.search_ids(
        spec["q"], k=k, mode=mode, conjunctive=False, plan="classic"
    ).toPandas()
    assert fast["doc_id"].tolist() == classic["doc_id"].tolist(), spec["name"]
    assert fast["score"].tolist() == classic["score"].tolist(), spec["name"]


def test_maxscore_fallback_bound_equals_classic(engine):
    """MaxScore on the drift-immune max_tf/min_dl bound (stored bound
    invalidated — the post-incremental-merge configuration) must stay
    exact too."""
    eng = SearchEngine(engine.spark, engine.index_dir)
    eng._stored_bmx_valid = False
    fast = eng.search_ids(
        "query index", k=10, conjunctive=False, plan="maxscore"
    ).toPandas()
    classic = eng.search_ids(
        "query index", k=10, conjunctive=False, plan="classic"
    ).toPandas()
    assert fast["doc_id"].tolist() == classic["doc_id"].tolist()
    assert fast["score"].tolist() == classic["score"].tolist()


def test_maxscore_rejects_unsupported_args(engine):
    with pytest.raises(ValueError, match="conjunctive"):
        engine.search_ids("query index", plan="maxscore")
    with pytest.raises(ValueError, match="offset"):
        engine.search_ids(
            "query index", offset=5, conjunctive=False, plan="maxscore"
        )


def test_maxscore_missing_term_is_ignored_disjunctively(engine, oracle_idx):
    """Disjunctive semantics: a dictionary-missing term contributes
    nothing but does not empty the result."""
    got = engine.search_ids(
        "query zzzznonexistent", k=10, conjunctive=False, plan="maxscore"
    ).toPandas()
    exp = oracle_search(oracle_idx, "query", k=10, conjunctive=False)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()


def test_maxscore_actually_prunes_and_stays_exact(spark, tmp_path):
    """On a Zipf-head corpus (a handful of tf-heavy docs clustered at the
    tail of the doc_id space over a sea of tf=1 mentions), the bound-sum
    sweep must drop most grid buckets while the pruned plan stays
    bit-identical to the classic disjunctive plan — for BOTH bound
    sources (stored block_max_score and the drift-immune fallback)."""
    import datetime

    import pandas as pd

    from search_engine_spark.operators.index_build import build_index

    filler = "alpha bravo charlie delta echo foxtrot golf hotel " * 2
    texts = [f"{filler} hot warm mention{i}" for i in range(600)]
    # tf-heavy docs cluster at the END of (conv_id, turn_idx) order
    texts += ["hot warm " * 6] * 5
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(len(texts))],
            "turn_idx": 0,
            "role": "user",
            "text": texts,
            "tool": None,
            "ts": datetime.datetime(2025, 1, 1),
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    out = str(tmp_path / "idx_ms")
    build_index(spark, spark.createDataFrame(pdf), out, n_parts=2,
                resume=False)
    eng = SearchEngine(spark, out)
    for stored in (True, False):
        eng2 = SearchEngine(spark, out)
        if not stored:
            eng2._stored_bmx_valid = False
        fast = eng2.search_ids(
            "hot warm", k=3, conjunctive=False, plan="maxscore"
        ).toPandas()
        classic = eng2.search_ids(
            "hot warm", k=3, conjunctive=False, plan="classic"
        ).toPandas()
        assert fast["doc_id"].tolist() == classic["doc_id"].tolist(), stored
        assert fast["score"].tolist() == classic["score"].tolist(), stored
        st = eng2.last_maxscore_stats
        assert st is not None and st["buckets_kept"] < st["buckets_total"], (
            stored,
            st,
        )


def _infos(*dfs):
    return [TermInfo(f"t{i}", df, i) for i, df in enumerate(dfs)]


FEATURES = {"offset": 5, "scope": "conv-0", "role": "user", "max_df": 9}


@pytest.mark.parametrize(
    "infos, n_missing, conjunctive, kwargs, thresholds, want",
    [
        pytest.param(
            _infos(3, 40), 0, True, {}, {},
            ("local", "summed df < LOCAL_PLAN_MAX_POSTINGS"),
            id="local-small-df",
        ),
        *[
            pytest.param(
                _infos(3, 40), 0, True, {name: value}, {},
                ("local", "summed df < LOCAL_PLAN_MAX_POSTINGS"),
                id=f"local-{name}",
            )
            for name, value in (("offset", 5), ("max_df", 9))
        ],
        pytest.param(
            _infos(3, 40), 0, False, {}, {},
            ("local", "summed df < LOCAL_PLAN_MAX_POSTINGS"),
            id="local-disjunctive",
        ),
        pytest.param(
            _infos(3, 40), 0, True, {}, {"LOCAL_PLAN_MAX_POSTINGS": 0},
            ("classic", "summed df < BATCH_PLAN_MIN_POSTINGS"),
            id="classic-above-local-bound",
        ),
        pytest.param(
            _infos(3, 40), 0, True, {}, {"BATCH_PLAN_MIN_POSTINGS": 43},
            ("packed", "summed df >= BATCH_PLAN_MIN_POSTINGS"),
            id="packed",
        ),
        pytest.param(
            _infos(40), 0, True, {}, {"BLOCKMAX_MIN_POSTINGS": 40},
            ("blockmax", "df >= BLOCKMAX_MIN_POSTINGS"),
            id="blockmax-single-term",
        ),
        pytest.param(
            _infos(3, 40), 0, False, {}, {"BLOCKMAX_MIN_POSTINGS": 43},
            ("maxscore", "summed df >= BLOCKMAX_MIN_POSTINGS"),
            id="maxscore-hot-disjunctive",
        ),
        pytest.param(
            _infos(3, 40), 1, True, {}, {"BATCH_PLAN_MIN_POSTINGS": 1},
            ("classic", "no match"),
            id="classic-missing-term",
        ),
        *[
            pytest.param(
                _infos(3, 40), 0, False, {name: value},
                {"BATCH_PLAN_MIN_POSTINGS": 1, "BLOCKMAX_MIN_POSTINGS": 1,
                 "LOCAL_PLAN_MAX_POSTINGS": 0},
                ("classic", name),
                id=f"classic-{name}",
            )
            for name, value in FEATURES.items()
        ],
    ],
)
def test_route(engine, monkeypatch, infos, n_missing, conjunctive, kwargs,
               thresholds, want):
    """The one plan router: (plan, reason) from the dfs alone, with the
    thresholds shadowed low where a hot query is needed."""
    for name, value in thresholds.items():
        monkeypatch.setattr(engine, name, value)
    assert engine._route(infos, n_missing, conjunctive, **kwargs) == want


@pytest.mark.parametrize(
    "plan, feature",
    [(plan, feature) for plan in ("packed", "blockmax", "maxscore")
     for feature in sorted(FEATURES)]
    + [("local", feature) for feature in ("role", "scope")],
)
def test_route_forced_plan_conflicts(engine, plan, feature):
    n = 1 if plan == "blockmax" else 2
    with pytest.raises(ValueError, match=f"{feature} rides the classic plan"):
        engine._route(_infos(*range(1, n + 1)), 0, plan != "maxscore",
                      plan=plan, **{feature: FEATURES[feature]})
    # forcing the classic plan never conflicts
    assert engine._route(
        _infos(1, 2), 0, True, plan="classic", **{feature: FEATURES[feature]}
    ) == ("classic", "forced")


def test_unknown_plan_raises(engine):
    with pytest.raises(ValueError, match="unknown plan"):
        engine.search_ids("query", plan="wand")


def test_maxscore_autoroute_bails_on_flat_bounds(engine, oracle_idx):
    """An AUTO-routed MaxScore query on a corpus whose bucket ceilings
    are near-uniform (nothing for any tau to prune) must bail back to
    the classic plan after the grid pass — paying only the small agg,
    never the seed decode — and stay exact. A FORCED plan="maxscore"
    on the same query must still run the full plan (no bailout key)."""
    eng = SearchEngine(engine.spark, engine.index_dir)
    eng.BLOCKMAX_MIN_POSTINGS = 1
    eng.MAXSCORE_BAILOUT_P50 = 0.0  # any distribution reads as flat
    got = eng.search_ids("query index", k=10, conjunctive=False).toPandas()
    st = eng.last_maxscore_stats
    assert st is not None and st.get("bailout") is True
    assert 0.0 < st["p50_over_max"] <= 1.0 and st["buckets_total"] > 0
    exp = oracle_search(oracle_idx, "query index", k=10, conjunctive=False)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()
    # forced: full plan even under the same shadowed threshold
    eng.search_ids(
        "query index", k=10, conjunctive=False, plan="maxscore"
    ).collect()
    assert "bailout" not in eng.last_maxscore_stats


# ---------------------------------------------------------------------------
# Indexed candidate-first phrase search
# ---------------------------------------------------------------------------
def _expected_phrase_topk(engine, lemmas, k):
    """Independent residual-filter oracle: classic conjunctive scores for
    the distinct lemmas (uncut), intersected with a FULL-SCAN phrase
    count — the naive shape search_phrase exists to avoid."""
    from search_engine_spark.functions.analyzer import terms_col
    from search_engine_spark.functions.phrase import phrase_count_col

    infos, n_missing = engine._infos_for_terms(sorted(set(lemmas)))
    assert not n_missing
    scored = engine._pivot_combine(
        engine.candidate_scores(infos, mode="bm25", conjunctive=True),
        len(infos),
        True,
    )
    occ = phrase_count_col(terms_col(F.col("text")), tuple(lemmas))
    hits = engine.documents.select("doc_id", occ.alias("n")).filter(
        F.col("n") >= 1
    )
    return (
        scored.join(hits.select("doc_id"), "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .toPandas()
    )


def test_search_phrase_equals_residual_oracle(engine):
    from search_engine_spark.functions.analyzer import analyze_text

    # pick a REAL contiguous bigram from a fixture doc so the result is
    # non-empty regardless of synth corpus details
    text = engine.documents.filter(F.col("dl") >= 4).first()["text"]
    lemmas = analyze_text(text)[:2]
    assert len(lemmas) == 2
    got = engine.search_phrase(" ".join(lemmas), k=10).toPandas()
    exp = _expected_phrase_topk(engine, lemmas, 10)
    assert len(got) > 0
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()


def test_search_phrase_single_lemma_equals_search_ids(engine):
    got = engine.search_phrase("query", k=10).toPandas()
    exp = engine.search_ids("query", k=10, plan="classic").toPandas()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()


def test_search_phrase_missing_lemma_is_empty(engine):
    assert engine.search_phrase("query zzzznonexistent", k=10).count() == 0


def test_search_phrase_rejects_empty(engine):
    with pytest.raises(ValueError, match="zero lemmas"):
        engine.search_phrase("...", k=10)


def test_dictionary_lookup_filter_prunes_row_groups(tmp_path):
    """The lookup filter (_pa_any_of) on a term-sorted term_stats file
    with many row groups keeps at most |q| row groups: an OR of
    equalities, which pyarrow prunes on row-group min/max. Past the
    equality cap, value runs still prune (clustered values -> the
    row groups they fall in)."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from search_engine_spark.operators.query import _pa_any_of

    terms = [f"term{i:05d}" for i in range(5000)]
    path = str(tmp_path / "term_stats.parquet")
    pq.write_table(
        pa.table({"term": terms, "df": range(5000), "cf": range(5000)}),
        path, row_group_size=100,
    )
    frag = next(ds.dataset(path, format="parquet").get_fragments())
    assert frag.num_row_groups == 50
    q = ["term00007", "term02500", "term04999", "zzzmissing"]
    kept = frag.split_by_row_group(_pa_any_of("term", q))
    assert 3 <= len(kept) <= len(q)
    many = terms[1000:1200]  # past the cap, in two row groups
    assert len(frag.split_by_row_group(_pa_any_of("term", many))) <= 3
    found = ds.dataset(path, format="parquet").to_table(
        filter=_pa_any_of("term", many)
    )
    assert found.column("term").to_pylist() == many

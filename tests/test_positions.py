"""store_positions=True builds: positional postings + indexed phrase path.

The positions stream is the documented ~storage-for-phrase-speed trade
(SURVEY.md §7.3 / PERF.md): phrase queries evaluate entirely from the
index (no doc-store scan). Maintenance propagates the layout — an
incremental batch's new part and a compaction's re-encoded parts carry
the same positions stream, so the phrase reader keeps a uniform schema
across every part (round-trip parity tests below)."""

from __future__ import annotations

import datetime
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions.analyzer import analyze_text
from search_engine_spark.functions.codec import (
    decode_positions_grouped,
    varbyte_encode_sliced,
)
from search_engine_spark.operators.compaction import compact_index
from search_engine_spark.operators.incremental import incremental_update
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query import SearchEngine
from search_engine_spark.synth import make_transcripts


def _sdf(spark, pdf):
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def pos_engine(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("posidx") / "idx")
    pdf = make_transcripts(n_conversations=40, seed=11)
    build_index(spark, _sdf(spark, pdf), idx, n_parts=2, resume=False,
                store_positions=True)
    return SearchEngine(spark, idx)


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------
def test_positions_codec_roundtrip():
    rng = np.random.default_rng(3)
    # 3 blocks of rows; each row = a sorted position list
    rows = [sorted(rng.choice(500, size=n, replace=False).tolist())
            for n in rng.integers(1, 9, size=50)]
    tfs = np.array([len(r) for r in rows], dtype=np.int64)
    flat = np.concatenate([np.array(r) for r in rows]).astype(np.int64)
    # delta within rows (first absolute)
    deltas = np.empty(flat.size, dtype=np.uint64)
    deltas[0] = flat[0]
    deltas[1:] = np.diff(flat).astype(np.uint64)
    row_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    deltas[row_starts] = flat[row_starts].astype(np.uint64)
    # block boundaries at rows 0, 20, 35
    blk_rows = np.array([0, 20, 35], dtype=np.int64)
    tf_prefix = np.concatenate(([0], np.cumsum(tfs)))
    bufs = varbyte_encode_sliced(deltas, tf_prefix[blk_rows])
    got = decode_positions_grouped(bufs, tfs)
    assert got.tolist() == flat.tolist()


def test_positions_codec_length_mismatch_is_loud():
    bufs = varbyte_encode_sliced(
        np.array([5, 1, 1], dtype=np.uint64), np.array([0], dtype=np.int64)
    )
    with pytest.raises(ValueError, match="sum\\(tf\\)"):
        decode_positions_grouped(bufs, np.array([2], dtype=np.int64))


# ---------------------------------------------------------------------------
# build + schema
# ---------------------------------------------------------------------------
def test_positions_index_schema(pos_engine):
    assert pos_engine.has_positions
    assert "positions" in pos_engine.postings.columns


def test_positions_decode_matches_reanalysis(pos_engine):
    """Ground truth: decoded positions for a term == the token indexes of
    that term in the re-analyzed document text."""
    infos, _ = pos_engine._infos_for_terms(["query"])
    rows = (
        pos_engine._positions_rows(infos, None)
        .join(pos_engine.documents.select("doc_id", "text"), "doc_id")
        .limit(200)
        .collect()
    )
    assert rows
    for r in rows:
        lem = analyze_text(r["text"])
        expected = [i for i, t in enumerate(lem) if t == "query"]
        assert list(r["positions"]) == expected, r["doc_id"]


# ---------------------------------------------------------------------------
# indexed phrase path
# ---------------------------------------------------------------------------
def test_search_phrase_positions_equals_text_residual(pos_engine):
    text = pos_engine.documents.filter(F.col("dl") >= 4).first()["text"]
    lemmas = analyze_text(text)[:2]
    got = pos_engine.search_phrase(" ".join(lemmas), k=10).toPandas()
    ref = pos_engine.search_phrase(
        " ".join(lemmas), k=10, via_positions=False
    ).toPandas()
    assert len(got) > 0
    assert got["doc_id"].tolist() == ref["doc_id"].tolist()
    assert got["score"].tolist() == ref["score"].tolist()


def test_search_phrase_positions_exact_semantics(spark, tmp_path):
    """Handmade corpus pins contiguity: repeated lemmas, reversed order,
    and gap cases must all resolve exactly."""
    texts = [
        "alpha beta gamma",      # 0: contains "alpha beta"
        "beta alpha gamma",      # 1: reversed -> no
        "alpha gamma beta",      # 2: gap -> no
        "alpha alpha beta",      # 3: repeated first lemma, match at 1
        "delta alpha beta echo", # 4: match mid-doc
        "alpha",                 # 5: missing beta -> no
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": 0,
            "role": "user",
            "text": texts,
            "tool": None,
            "ts": datetime.datetime(2025, 1, 1),
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    idx = str(tmp_path / "idx")
    build_index(spark, _sdf(spark, pdf), idx, n_parts=1, resume=False,
                store_positions=True)
    eng = SearchEngine(spark, idx)
    got = eng.search_phrase("alpha beta", k=10).toPandas()
    assert sorted(got["doc_id"].tolist()) == [0, 3, 4]
    rep = eng.search_phrase("alpha alpha", k=10).toPandas()
    assert rep["doc_id"].tolist() == [3]


def test_search_phrase_positions_single_lemma_equals_search_ids(pos_engine):
    got = pos_engine.search_phrase("query", k=10).toPandas()
    exp = pos_engine.search_ids("query", k=10, plan="classic").toPandas()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()


def test_search_phrase_positions_missing_lemma_empty(pos_engine):
    assert pos_engine.search_phrase("query zzzznonexistent", k=5).count() == 0


def test_via_positions_requires_positions_index(spark, tmp_path):
    pdf = make_transcripts(n_conversations=5, seed=2)
    idx = str(tmp_path / "plainidx")
    build_index(spark, _sdf(spark, pdf), idx, n_parts=1, resume=False)
    eng = SearchEngine(spark, idx)
    assert not eng.has_positions
    with pytest.raises(ValueError, match="store_positions"):
        eng.search_phrase("query index", via_positions=True)


# ---------------------------------------------------------------------------
# maintenance: incremental + compaction propagate positions
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def pos_split(spark, tmp_path_factory):
    """full = one-shot positions build over all 40 convs;
    merged = positions build over the first 30 + incremental batch of the
    last 10 (same concat order, so doc_ids line up too);
    upserted = a copy of full where 8 docs holding a phrase were re-sent
    with changed text (upsert=True): odd ones keep the phrase, even ones
    lose it -> (dir, phrase)."""
    pdf = make_transcripts(n_conversations=40, seed=21)
    convs = sorted(pdf["conv_id"].unique())
    cut = convs[30]
    base_pdf = pdf[pdf["conv_id"] < cut]
    extra_pdf = pdf[pdf["conv_id"] >= cut]
    d = tmp_path_factory.mktemp("posincr")
    full_dir, merged_dir = str(d / "full"), str(d / "merged")
    build_index(spark, _sdf(spark, pdf), full_dir, n_parts=2, resume=False,
                store_positions=True)
    build_index(spark, _sdf(spark, base_pdf), merged_dir, n_parts=2,
                resume=False, store_positions=True)
    res = incremental_update(spark, _sdf(spark, extra_pdf), merged_dir)
    # the hygiene filter drops blank-text rows (same in the full build)
    assert 0 < res["new_docs"] <= len(extra_pdf) and res["new_parts"] == 1
    # idempotent on a positions index too: replay is a no-op
    res2 = incremental_update(spark, _sdf(spark, extra_pdf), merged_dir)
    assert res2 == {"new_docs": 0, "new_parts": 0, "replaced_docs": 0}
    upsert_dir = str(d / "upserted")
    shutil.copytree(full_dir, upsert_dir)
    phrase = "query index"
    hits = pdf[[
        f" {phrase} " in f" {' '.join(analyze_text(t))} " for t in pdf["text"]
    ]]
    changed = hits.head(8).copy()
    keep = np.arange(len(changed)) % 2 == 1
    changed["text"] = np.where(
        keep, changed["text"] + " addendum", "unrelated replacement words"
    )
    up = incremental_update(spark, _sdf(spark, changed), upsert_dir,
                            upsert=True)
    assert up["replaced_docs"] == len(changed) == 8
    return (full_dir, merged_dir, extra_pdf, res["new_docs"],
            (upsert_dir, phrase))


def _phrase_scores(spark, idx, phrase, k=50, **kw):
    eng = SearchEngine(spark, idx)
    res = eng.search_phrase(phrase, k=k, **kw)
    return {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in res.join(
            eng.documents.select("doc_id", "conv_id", "turn_idx"), "doc_id"
        ).collect()
    }


def _first_phrase_from(pdf):
    for text in pdf["text"]:
        lem = analyze_text(text)
        if len(lem) >= 2:
            return f"{lem[0]} {lem[1]}"
    raise AssertionError("no 2-lemma doc in batch")


def test_incremental_positions_phrase_matches_full_rebuild(spark, pos_split):
    full_dir, merged_dir, extra_pdf, _, _ = pos_split
    merged = SearchEngine(spark, merged_dir)
    assert merged.has_positions
    # a phrase that occurs in the INCREMENTAL batch — its positions stream
    # comes from the new part's encode
    phrase = _first_phrase_from(extra_pdf)
    got = _phrase_scores(spark, merged_dir, phrase)
    want = _phrase_scores(spark, full_dir, phrase)
    assert got and got == want
    # and the indexed path agrees with the text-residual path on the
    # merged index (bit-exact scores, same docs)
    residual = _phrase_scores(spark, merged_dir, phrase, via_positions=False)
    assert got == residual


def test_incremental_positions_decode_matches_reanalysis(spark, pos_split):
    """Decoded positions for docs of the APPENDED part == token indexes in
    the re-analyzed text (ground truth straight through the new encode)."""
    _, merged_dir, extra_pdf, n_new, _ = pos_split
    eng = SearchEngine(spark, merged_dir)
    term = _first_phrase_from(extra_pdf).split()[0]
    infos, _ = eng._infos_for_terms([term])
    new_lo = eng.documents.count() - n_new  # batch appended last
    rows = (
        eng._positions_rows(infos, None)
        .filter(F.col("doc_id") >= new_lo)
        .join(eng.documents.select("doc_id", "text"), "doc_id")
        .collect()
    )
    assert rows
    for r in rows:
        lem = analyze_text(r["text"])
        expected = [i for i, t in enumerate(lem) if t == term]
        assert list(r["positions"]) == expected, r["doc_id"]


def test_positions_reader_over_upserted_index(spark, pos_split):
    """The positional reader subtracts the delete vector like every
    reader: on an upserted positions index the indexed phrase and
    proximity plans stay bit-equal to the text-residual plans, and no
    replaced doc_id is decoded or surfaces."""
    *_, (idx, phrase) = pos_split
    eng = SearchEngine(spark, idx)
    replaced = set(eng._deleted.tolist())
    a, b = phrase.split()
    plans = {
        "phrase": lambda via: eng.search_phrase(
            phrase, k=1000, via_positions=via),
        "proximity": lambda via: eng.search_proximity(
            a, b, window=3, k=1000, via_positions=via),
    }
    for name, run in plans.items():
        got, ref = run(True).toPandas(), run(False).toPandas()
        assert len(got) > 0, name
        assert got["doc_id"].tolist() == ref["doc_id"].tolist(), name
        assert got["score"].tolist() == ref["score"].tolist(), name
        assert not replaced & set(got["doc_id"]), name
    infos, _ = eng._infos_for_terms(sorted({a, b}))
    decoded = {
        r["doc_id"]
        for r in eng._positions_rows(infos, None).select("doc_id").collect()
    }
    assert decoded and not replaced & decoded


def test_compaction_preserves_positions(spark, pos_split):
    """Compacting a positions index (with an incremental part) re-encodes
    every part WITH its positions stream: phrase results stay bit-exact vs
    the one-shot full build."""
    full_dir, merged_dir, extra_pdf, _, _ = pos_split
    phrase = _first_phrase_from(extra_pdf)
    res = compact_index(spark, merged_dir, n_parts=1)
    assert res["parts_after"] == 1
    eng = SearchEngine(spark, merged_dir)
    assert eng.has_positions
    got = _phrase_scores(spark, merged_dir, phrase)
    want = _phrase_scores(spark, full_dir, phrase)
    assert got and got == want
    residual = _phrase_scores(spark, merged_dir, phrase, via_positions=False)
    assert got == residual


def test_resume_refuses_positions_mismatch(spark, pos_engine):
    pdf = make_transcripts(n_conversations=40, seed=11)
    with pytest.raises(ValueError, match="store_positions"):
        build_index(spark, _sdf(spark, pdf), pos_engine.index_dir,
                    n_parts=2, resume=True)  # default store_positions=False


def test_positions_index_is_larger(spark, tmp_path):
    """The documented trade is real and measurable: positions bytes on
    top of the same postings."""
    from pathlib import Path

    pdf = make_transcripts(n_conversations=20, seed=7)

    def size(d):
        return sum(p.stat().st_size
                   for p in Path(d, "postings").rglob("*.parquet"))

    a = str(tmp_path / "plain")
    b = str(tmp_path / "pos")
    build_index(spark, _sdf(spark, pdf), a, n_parts=1, resume=False)
    build_index(spark, _sdf(spark, pdf), b, n_parts=1, resume=False,
                store_positions=True)
    assert size(b) > size(a)
    # scores must be bit-identical between the two indexes
    ea, eb = SearchEngine(spark, a), SearchEngine(spark, b)
    ra = ea.search_ids("query index", k=10).toPandas()
    rb = eb.search_ids("query index", k=10).toPandas()
    assert ra["doc_id"].tolist() == rb["doc_id"].tolist()
    assert ra["score"].tolist() == rb["score"].tolist()


# ---------------------------------------------------------------------------
# proximity (search_proximity — the within-k twin of search_phrase)
# ---------------------------------------------------------------------------
def test_search_proximity_positions_equals_text_residual(pos_engine):
    """Positional plan ≡ residual text-scan plan, bit-exact, at several
    window widths (including 1 = adjacent-only and a wide window)."""
    text = pos_engine.documents.filter(F.col("dl") >= 6).first()["text"]
    a, b = analyze_text(text)[:2]
    any_hit = False
    for w in (1, 3, 8):
        got = pos_engine.search_proximity(a, b, window=w, k=10).toPandas()
        ref = pos_engine.search_proximity(
            a, b, window=w, k=10, via_positions=False
        ).toPandas()
        assert got["doc_id"].tolist() == ref["doc_id"].tolist()
        assert got["score"].tolist() == ref["score"].tolist()
        any_hit = any_hit or len(got) > 0
    assert any_hit


def test_search_proximity_exact_semantics(spark, tmp_path):
    """Handmade corpus pins the window arithmetic: adjacency, either
    order, exact-boundary distance, and just-beyond-boundary distance."""
    import datetime

    texts = [
        "alpha beta gamma",          # 0: dist 1
        "beta gamma alpha",          # 1: dist 2 (reversed order counts)
        "alpha gamma gamma beta",    # 2: dist 3 (boundary)
        "alpha gamma gamma gamma beta",  # 3: dist 4 (beyond window=3)
        "alpha",                     # 4: missing beta
        "beta gamma gamma alpha gamma beta",  # 5: min dist 2 of {3, 2}
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": 0,
            "role": "user",
            "text": texts,
            "tool": None,
            "ts": datetime.datetime(2025, 1, 1),
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    idx = str(tmp_path / "idx")
    build_index(spark, _sdf(spark, pdf), idx, n_parts=1, resume=False,
                store_positions=True)
    eng = SearchEngine(spark, idx)
    for via in (True, False):
        got = eng.search_proximity(
            "alpha", "beta", window=3, k=10, via_positions=via
        ).toPandas()
        assert sorted(got["doc_id"].tolist()) == [0, 1, 2, 5], via
        adj = eng.search_proximity(
            "alpha", "beta", window=1, k=10, via_positions=via
        ).toPandas()
        assert adj["doc_id"].tolist() == [0], via


def test_search_proximity_positions_plan_skips_doc_store(pos_engine):
    """The positional proximity plan must never scan the documents store:
    candidates and the window test both come from the postings blocks."""
    ids = pos_engine.search_proximity("query", "index", window=4, k=10)
    plan = ids._jdf.queryExecution().optimizedPlan().toString()
    assert "documents" not in plan


def test_search_proximity_contract_errors(pos_engine):
    with pytest.raises(ValueError, match="same lemma"):
        pos_engine.search_proximity("query", "Queries", window=2)
    with pytest.raises(ValueError, match="exactly one lemma"):
        pos_engine.search_proximity("query index", "table", window=2)
    with pytest.raises(ValueError, match="window"):
        pos_engine.search_proximity("query", "index", window=-1)
    # dictionary-missing term -> empty result (search_ids contract)
    assert pos_engine.search_proximity(
        "query", "zzzznonexistent", window=3
    ).count() == 0

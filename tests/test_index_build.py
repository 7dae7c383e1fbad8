"""Index-table contents vs the single-node pandas oracle (SURVEY.md §5):
documents (row invariant), term_stats (df/cf), corpus_stats, decoded
postings, manifest lineage, and kill/resume identity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from search_engine_spark.functions.codec import decode_postings, varbyte_decode
from search_engine_spark.operators.index_build import build_index, manifest_df


def _decoded_postings(spark, index_dir) -> dict[str, list[tuple[int, int]]]:
    rows = spark.read.parquet(f"{index_dir}/postings").collect()
    acc: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        ids, tfs = decode_postings(bytes(r["doc_ids"]), bytes(r["tfs"]))
        acc.setdefault(r["term"], []).extend(zip(ids.tolist(), tfs.tolist()))
    return {t: sorted(v) for t, v in acc.items()}


def test_corpus_stats(built_index, oracle_idx, spark):
    out, res = built_index
    assert res.n_docs == oracle_idx.n_docs
    assert res.avgdl == pytest.approx(oracle_idx.avgdl, abs=1e-12)
    assert res.max_tf_sum == oracle_idx.max_tf_sum


def test_documents_row_invariant(built_index, oracle_idx, spark):
    out, _ = built_index
    docs = (
        spark.read.parquet(f"{out}/documents")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = oracle_idx.documents
    # per-turn text byte-equality under stable (conv_id, turn_idx) ordering
    assert docs["text"].tolist() == exp["text"].tolist()
    assert docs["conv_id"].tolist() == exp["conv_id"].tolist()
    assert docs["turn_idx"].astype(int).tolist() == exp["turn_idx"].astype(int).tolist()
    assert docs["dl"].astype(int).tolist() == exp["dl"].astype(int).tolist()
    # doc_id dense 0..n-1
    assert docs["doc_id"].tolist() == list(range(len(exp)))


def test_term_stats_match_oracle(built_index, oracle_idx, spark):
    out, _ = built_index
    got = (
        spark.read.parquet(f"{out}/term_stats")
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )
    exp = oracle_idx.term_stats.sort_values("term").reset_index(drop=True)
    assert got["term"].tolist() == exp["term"].tolist()
    assert got["df"].astype(int).tolist() == exp["df"].astype(int).tolist()
    assert got["cf"].astype(int).tolist() == exp["cf"].astype(int).tolist()


def test_postings_decode_match_oracle(built_index, oracle_idx, spark):
    out, _ = built_index
    got = _decoded_postings(spark, out)
    exp = {t: sorted(pl) for t, pl in oracle_idx.postings.items()}
    assert set(got) == set(exp)
    for t in exp:
        assert got[t] == exp[t], f"postings differ for term {t!r}"


def test_posting_dls_match_doc_stats(built_index, oracle_idx, spark):
    out, _ = built_index
    rows = spark.read.parquet(f"{out}/postings").take(50)
    for r in rows:
        ids, _ = decode_postings(bytes(r["doc_ids"]), bytes(r["tfs"]))
        dls = varbyte_decode(bytes(r["dls"])).astype(int)
        for d, l in zip(ids.tolist(), dls.tolist()):
            assert oracle_idx.doc_dl[d] == l


def test_manifest_lineage(built_index, spark):
    out, res = built_index
    mdf = manifest_df(spark, out).toPandas()
    parts = mdf[mdf["partition_id"] >= 0]
    assert (parts["status"] == "DONE").all()
    assert parts["postings_written"].sum() > 0
    assert parts["bytes_compressed"].sum() > 0
    assert parts["terms_merged"].min() > 0


def test_kill_and_resume_identical(spark, transcripts_df, oracle_idx, tmp_path):
    out = str(tmp_path / "idx_resume")
    # simulate a job killed after 1 of 3 parts
    with pytest.raises(RuntimeError, match="simulated kill"):
        build_index(
            spark, transcripts_df, out, n_parts=3, resume=False,
            fail_after_parts=1,
        )
    # resume: must skip the finished part and complete the rest
    res = build_index(spark, transcripts_df, out, n_parts=3, resume=True)
    assert res.parts_skipped == 1
    assert res.parts_built == 2
    got = _decoded_postings(spark, out)
    exp = {t: sorted(pl) for t, pl in oracle_idx.postings.items()}
    assert got == exp
    # the resumed parts must share the surviving part's stats epoch —
    # a mixed-epoch index would silently lose stored-block-max pruning
    from search_engine_spark.operators.query import SearchEngine

    assert SearchEngine(spark, out)._stored_blockmax_valid() is True


def test_empty_corpus_build_and_search(spark, tmp_path):
    """Zero indexable docs: build completes with empty tables and queries
    return zero rows cleanly."""
    from search_engine_spark import schemas
    from search_engine_spark.operators.query import SearchEngine

    empty = spark.createDataFrame([], schema=schemas.TRANSCRIPTS)
    out = str(tmp_path / "idx_empty")
    res = build_index(spark, empty, out, n_parts=2, resume=False)
    assert res.n_docs == 0
    assert res.postings_blocks == 0
    eng = SearchEngine(spark, out)
    assert eng.search_ids("anything", k=5).count() == 0
    # compaction must accept the no-staging-data-files shape too (it used
    # to crash on UNABLE_TO_INFER_SCHEMA before reaching its own guard)
    from search_engine_spark.operators.compaction import compact_index

    r = compact_index(spark, out, n_parts=1)
    assert r["parts_after"] == 0
    assert SearchEngine(spark, out).search_ids("anything", k=5).count() == 0


def test_zero_term_corpus_build_and_search(spark, tmp_path):
    """Docs that are non-blank but analyze to ZERO terms (symbol-only
    text): hygiene keeps them, so n_docs > 0, yet no posting row exists —
    the postings tree has part dirs with no data files. The engine must
    treat that committed-but-postingless index as valid (empty results),
    NOT as the crashed-compaction missing-dir state, which stays loud."""
    import datetime

    import pandas as pd

    from search_engine_spark.operators.query import SearchEngine

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": [0, 1, 0],
            "role": ["user"] * 3,
            "text": ["!!!", "???", "...---..."],
            "tool": [None] * 3,
            "ts": [datetime.datetime(2025, 1, 1)] * 3,
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    out = str(tmp_path / "idx_zeroterm")
    res = build_index(spark, spark.createDataFrame(pdf), out, n_parts=2,
                      resume=False)
    assert res.n_docs == 3
    assert res.postings_blocks == 0
    eng = SearchEngine(spark, out)
    assert eng.search_ids("anything", k=5).count() == 0
    assert eng.search("anything", k=5) == []
    from search_engine_spark.operators.compaction import compact_index

    r = compact_index(spark, out, n_parts=1)
    assert r["parts_after"] == 1
    assert SearchEngine(spark, out).search_ids("anything", k=5).count() == 0


def test_broadcast_offsets_path_identical(spark, transcripts_df, tmp_path,
                                          monkeypatch):
    """Forcing the large-partition-count code path (broadcast-joined
    offsets instead of a literal map) must yield identical doc_ids."""
    from search_engine_spark.operators import index_build as IB

    a = str(tmp_path / "idx_map")
    build_index(spark, transcripts_df, a, n_parts=2, resume=False)
    monkeypatch.setattr(IB, "OFFSET_MAP_LITERAL_CAP", 0)
    b = str(tmp_path / "idx_bcast")
    build_index(spark, transcripts_df, b, n_parts=2, resume=False)
    da = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
          for r in spark.read.parquet(f"{a}/documents").collect()}
    db = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
          for r in spark.read.parquet(f"{b}/documents").collect()}
    assert da == db


def test_blank_predicate_cross_engine_parity(spark):
    """The P1 blank test must agree across Spark (Java regex), DuckDB
    (RE2), and the pandas oracle — \\s differs between those engines on
    \\x0B, which is exactly why BLANK_CLASS is an explicit class."""
    import duckdb

    from search_engine_spark.operators.index_build import (
        BLANK_CLASS, clean_transcripts,
    )

    texts = [
        "real text", " ", "\t\n", "\x0b", " \x0b ", "\f", "a\x0bb",
        "\u00a0", None, "",  # non-breaking space: NOT blank
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": range(len(texts)),
            "role": ["user"] * len(texts),
            "text": texts,
            "tool": [None] * len(texts),
            "ts": [pd.Timestamp("2026-01-01").floor("us")] * len(texts),
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    kept_spark = sorted(
        r["turn_idx"]
        for r in clean_transcripts(spark.createDataFrame(pdf)).collect()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    kept_duck = sorted(
        r[0]
        for r in con.execute(
            "SELECT turn_idx FROM t WHERE text IS NOT NULL AND "
            f"regexp_replace(text, '{BLANK_CLASS}', '', 'g') <> ''"
        ).fetchall()
    )
    kept_pandas = sorted(
        pdf[
            pdf["text"].notna()
            & (pdf["text"].astype(str).str.strip(" \t\n\r\f\x0b") != "")
        ]["turn_idx"]
    )
    # NB: " " (nbsp) is NON-blank under the explicit class — all
    # three engines must agree on that too
    assert kept_spark == kept_duck == kept_pandas
    assert 7 in kept_spark  # nbsp kept
    assert 3 not in kept_spark  # \x0B-only dropped


# ---------------------------------------------------------------------------
# Resume epoch witness (ADVICE r3): a resume that redoes stage A may reuse
# surviving DONE parts' stats_epoch ONLY if the redone stats are provably
# the ones those parts were encoded under — otherwise stale stored
# block_max_score bounds would re-validate and _single_term_topk could
# silently drop true top-k hits.
def _mk_sdf(spark, pdf):
    from search_engine_spark import schemas

    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)


def _simulate_hard_kill_before_stage_commit(idx: str) -> None:
    # parts land before the stage-A commit markers (index_build stage-C
    # design); a kill -9 between them leaves DONE parts + no stage rows
    from pathlib import Path

    for stage in ("stage_docs", "stage_stats"):
        p = Path(idx) / "_manifest" / f"{stage}.json"
        assert p.exists()
        p.unlink()


def test_resume_epoch_reused_on_identical_input(spark, tmp_path):
    from search_engine_spark.operators.query import SearchEngine
    from search_engine_spark.synth import make_transcripts

    idx = str(tmp_path / "idx_witness_same")
    pdf = make_transcripts(n_conversations=20, seed=31)
    build_index(spark, _mk_sdf(spark, pdf), idx, n_parts=2, resume=False)
    _simulate_hard_kill_before_stage_commit(idx)
    res = build_index(spark, _mk_sdf(spark, pdf), idx, n_parts=2, resume=True)
    assert res.parts_skipped == 2  # identical input: DONE parts survive
    # witness passes -> epoch reused -> stored bounds stay provably valid
    assert SearchEngine(spark, idx)._stored_blockmax_valid() is True


def test_resume_epoch_minted_fresh_on_different_n_docs(spark, tmp_path):
    from search_engine_spark.operators.query import SearchEngine
    from search_engine_spark.synth import make_transcripts

    idx = str(tmp_path / "idx_witness_ndocs")
    pdf = make_transcripts(n_conversations=20, seed=31)
    build_index(spark, _mk_sdf(spark, pdf), idx, n_parts=2, resume=False)
    _simulate_hard_kill_before_stage_commit(idx)
    # tier-1 witness: different row count -> fresh epoch
    pdf2 = make_transcripts(n_conversations=22, seed=31)
    build_index(spark, _mk_sdf(spark, pdf2), idx, n_parts=2, resume=True)
    assert SearchEngine(spark, idx)._stored_blockmax_valid() is False


def test_resume_epoch_minted_fresh_on_changed_text(spark, tmp_path):
    from search_engine_spark.operators.query import SearchEngine
    from search_engine_spark.synth import make_transcripts

    idx = str(tmp_path / "idx_witness_text")
    pdf = make_transcripts(n_conversations=20, seed=31)
    build_index(spark, _mk_sdf(spark, pdf), idx, n_parts=2, resume=False)
    _simulate_hard_kill_before_stage_commit(idx)
    # tier-2 witness: SAME n_docs, different token mass (one doc edited)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[0], "text"] = (
        str(pdf2.loc[pdf2.index[0], "text"]) + " sparkle" * 8
    )
    build_index(spark, _mk_sdf(spark, pdf2), idx, n_parts=2, resume=True)
    eng = SearchEngine(spark, idx)
    assert eng._stored_blockmax_valid() is False
    # and the corpus row itself carries the freshly-minted epoch
    row = spark.read.parquet(f"{idx}/corpus_stats").collect()[0].asDict()
    from search_engine_spark.operators.index_build import _read_manifest

    part_epochs = {
        r["stats_epoch"]
        for n, r in _read_manifest(idx).items()
        if n.startswith("part_") and r.get("stats_epoch") is not None
    }
    assert int(row["stats_epoch"]) not in part_epochs or len(part_epochs) > 1


def test_resume_rewrites_lost_stage_stats(spark, tmp_path):
    """A crash between _finalize_stage_a's two row writes leaves
    stage_docs DONE and no stage_stats row: the resume rewrites the stats
    through the one stats writer, equal to the lost commit's and on the
    surviving parts' epoch (stored block maxima stay valid)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from search_engine_spark.operators.query import SearchEngine
    from search_engine_spark.synth import make_transcripts

    idx = str(tmp_path / "idx_lost_stats")
    sdf = _mk_sdf(spark, make_transcripts(n_conversations=20, seed=31))
    build_index(spark, sdf, idx, n_parts=2, resume=False)

    def stats():
        return [sorted(pq.read_table(f"{idx}/{t}").to_pylist(), key=str)
                for t in ("term_stats", "corpus_stats")]

    before = stats()
    (Path(idx) / "_manifest" / "stage_stats.json").unlink()
    res = build_index(spark, sdf, idx, n_parts=2, resume=True)
    assert (res.parts_built, res.parts_skipped) == (0, 2)
    assert stats() == before
    assert SearchEngine(spark, idx)._stored_blockmax_valid() is True

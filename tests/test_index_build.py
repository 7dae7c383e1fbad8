"""Index-table contents vs the single-node pandas oracle (SURVEY.md §5):
documents (row invariant), term_stats (df/cf), corpus_stats, decoded
postings, manifest lineage, and kill/resume identity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

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


def _fail_write_part(monkeypatch, out_dir: str, on_call: int) -> list[bool]:
    """Make index_build.write_part raise on its ``on_call``-th call (the
    parts before it are written). Returns, per call, whether stage A of
    ``out_dir`` had committed (stage_docs DONE) when it was called."""
    from search_engine_spark.operators import index_build as IB

    real, seen = IB.write_part, []

    def flaky(*args, **kw):
        seen.append(IB._read_manifest(out_dir).get("stage_docs", {})
                    .get("status") == "DONE")
        if len(seen) == on_call:
            raise RuntimeError(f"simulated kill before part {args[3]}")
        return real(*args, **kw)

    monkeypatch.setattr(IB, "write_part", flaky)
    return seen


def test_kill_and_resume_identical(spark, transcripts_df, oracle_idx, tmp_path,
                                   monkeypatch):
    out = str(tmp_path / "idx_resume")
    # simulate a job killed after 1 of 3 parts
    _fail_write_part(monkeypatch, out, on_call=2)
    with pytest.raises(RuntimeError, match="simulated kill"):
        build_index(
            spark, transcripts_df, out, n_parts=3, resume=False,
            part_concurrency=1,
        )
    monkeypatch.undo()
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
# Stage A commits (stage_docs DONE) before any part is encoded; a resume
# over an uncommitted stage A starts over.
def _mk_sdf(spark, pdf):
    from search_engine_spark import schemas

    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)


def _rows(path: str) -> list:
    """Every row of a parquet table, sorted (file order is the writer's)."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = sorted(t.column_names)
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)), key=repr)


def test_stage_a_commits_before_the_first_part(spark, transcripts_df,
                                               oracle_idx, tmp_path,
                                               monkeypatch):
    """write_part raising on its first call leaves a committed stage A
    (stage_docs DONE when it was called, both stats tables written) and
    no part row; the resume builds every part, equal to the oracle."""
    from pathlib import Path

    from search_engine_spark.operators.index_build import _read_manifest
    from search_engine_spark.operators.query import SearchEngine

    out = str(tmp_path / "idx_stage_a")
    seen = _fail_write_part(monkeypatch, out, on_call=1)
    with pytest.raises(RuntimeError, match="simulated kill"):
        build_index(spark, transcripts_df, out, n_parts=3, resume=False,
                    part_concurrency=1)
    monkeypatch.undo()
    assert seen == [True]
    manifest = _read_manifest(out)
    assert manifest["stage_docs"]["status"] == "DONE"
    assert not [n for n in manifest if n.startswith("part_")]
    for table in ("term_stats", "corpus_stats"):
        assert list(Path(out, table).glob("*.parquet")), table
    res = build_index(spark, transcripts_df, out, n_parts=3, resume=True)
    assert (res.parts_built, res.parts_skipped) == (3, 0)
    assert res.n_terms == len(oracle_idx.postings)
    got = _decoded_postings(spark, out)
    assert got == {t: sorted(pl) for t, pl in oracle_idx.postings.items()}
    assert SearchEngine(spark, out)._stored_blockmax_valid() is True


def test_resume_without_stage_commit_rebuilds_every_part(spark, tmp_path):
    """A manifest with DONE part rows and no stage_docs row (a build
    killed before its stage-A commit) is not resumed from: the build
    starts over. Resumed with one text edited at the same n_docs, every
    part is rebuilt and the index equals a fresh build of the new input,
    stored block maxima included."""
    from pathlib import Path

    from search_engine_spark.operators.query import SearchEngine
    from search_engine_spark.synth import make_transcripts

    pdf = make_transcripts(n_conversations=20, seed=31)
    idx = str(tmp_path / "idx_legacy")
    build_index(spark, _mk_sdf(spark, pdf), idx, n_parts=2, resume=False)
    (Path(idx) / "_manifest" / "stage_docs.json").unlink()
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[0], "text"] = (
        str(pdf2.loc[pdf2.index[0], "text"]) + " sparkle" * 8
    )
    res = build_index(spark, _mk_sdf(spark, pdf2), idx, n_parts=2,
                      resume=True)
    assert (res.parts_built, res.parts_skipped) == (2, 0)
    fresh = str(tmp_path / "idx_fresh")
    build_index(spark, _mk_sdf(spark, pdf2), fresh, n_parts=2, resume=False)
    for table in ("postings", "term_stats"):
        assert _rows(f"{idx}/{table}") == _rows(f"{fresh}/{table}"), table
    eng = SearchEngine(spark, idx)
    assert eng._stored_blockmax_valid() is True
    for term in ["sparkle"] + [
        r["term"] for r in eng.term_stats.orderBy(F.desc("df"), "term")
        .limit(4).collect()
    ]:
        fast = eng.search_ids(term, k=10, plan="blockmax").toPandas()
        classic = eng.search_ids(term, k=10, plan="classic").toPandas()
        assert fast["doc_id"].tolist() == classic["doc_id"].tolist(), term
        assert fast["score"].tolist() == classic["score"].tolist(), term

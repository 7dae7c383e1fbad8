"""Post-batch stats of the upsert path (operators/incremental.py), and
the plans' answers over the same mutation history.

An upsert computes its post-batch live term_stats/corpus_stats ONCE,
into term_stats_new/ + corpus_stats_new/, encodes the new part with
them and swaps them in after the documents append. These tests pin
that the one pass writes exactly what a recompute over the committed
tables writes, and what the oracle computes over the net corpus, over
a whole mutation history; that a crash before the documents append
leaves the live stats untouched and never publishes the stale *_new;
and how many Spark jobs one upsert runs. The same history drives the
plan parity check: the driver-side local plan and search_many (on the
driver and on the packed Spark plan) answer bit-identically to the
classic Spark plan on every state, every snapshot pin and after
compaction.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from search_engine_spark import schemas
from search_engine_spark.operators.deletes import load_deleted_ids
from search_engine_spark.operators.incremental import (
    _recompute_stats,
    delete_docs,
    incremental_update,
)
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query import SearchEngine
from search_engine_spark.oracle import build_oracle_index
from search_engine_spark.synth import make_transcripts

from conftest import jobs_since

KEY = ["conv_id", "turn_idx"]


def _sdf(spark, pdf):
    return spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)


def _rows(path, drop=()):
    """A table's rows as a sorted list of tuples (driver-side read)."""
    t = pq.read_table(path)
    cols = [c for c in t.column_names if c not in drop]
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)))


def _stats(idx):
    return (
        _rows(f"{idx}/term_stats"),
        _rows(f"{idx}/corpus_stats", drop=("stats_epoch",)),
    )


def _assert_stats_parity(spark, idx, truth):
    """On-disk stats == a fresh recompute over the same index (bit for
    bit, stats_epoch aside) == the oracle over the net corpus."""
    on_disk = _stats(idx)
    corpus = schemas.read_row(f"{idx}/corpus_stats")
    _recompute_stats(
        spark, idx, corpus["index_version"], corpus["n_buckets"],
        stats_epoch=corpus["stats_epoch"],
    )
    assert _stats(idx) == on_disk
    oracle = build_oracle_index(truth)
    assert _rows(f"{idx}/term_stats") == sorted(
        oracle.term_stats.itertuples(index=False, name=None)
    )
    assert (corpus["n_docs"], corpus["avgdl"], corpus["max_tf_sum"]) == (
        oracle.n_docs, oracle.avgdl, oracle.max_tf_sum,
    )
    docs = pq.read_table(f"{idx}/documents", columns=["doc_id"])
    assert corpus["id_space"] == max(docs.column("doc_id").to_pylist()) + 1


def _split(pdf):
    convs = sorted(pdf["conv_id"].unique())
    return [pdf[pdf["conv_id"].isin(convs[a:b])]
            for a, b in ((0, 14), (14, 18), (18, 22))]


def _history(spark, idx):
    """Build, then upsert with replacements, an insert-only batch, a
    deletes-only upsert (blank new text) and delete_docs of a whole
    conversation over ``idx``; yields the net corpus after each step."""
    pdf = make_transcripts(n_conversations=22, seed=31)
    base, new, more = _split(pdf)
    build_index(spark, _sdf(spark, base), idx, n_parts=1, n_buckets=4,
                resume=False)
    truth = base
    yield truth

    # upsert with replacements: 4 changed base turns + new conversations
    changed = base[base["text"].str.strip() != ""].head(4).copy()
    changed["text"] = changed["text"] + " revised wording"
    res = incremental_update(
        spark, _sdf(spark, pd.concat([changed, new])), idx, upsert=True
    )
    assert res["replaced_docs"] == 4 and res["new_parts"] == 1
    truth = pd.concat([
        truth.merge(changed[KEY], on=KEY, how="left", indicator=True)
        .query("_merge == 'left_only'").drop(columns="_merge"),
        changed, new,
    ])
    yield truth

    # insert-only batch
    res = incremental_update(spark, _sdf(spark, more), idx)
    assert res["new_parts"] == 1 and res["replaced_docs"] == 0
    truth = pd.concat([truth, more])
    yield truth

    # upsert whose new text is blank: a deletes-only commit
    blank = new[new["text"].str.strip() != ""].head(3).copy()
    blank["text"] = "  "
    res = incremental_update(spark, _sdf(spark, blank), idx, upsert=True)
    assert res == {"new_docs": 0, "new_parts": 0, "replaced_docs": 3}
    truth = truth.merge(blank[KEY], on=KEY, how="left", indicator=True)
    truth = truth[truth["_merge"] == "left_only"].drop(columns="_merge")
    yield truth

    # delete_docs of a whole conversation
    gone = more["conv_id"].iloc[0]
    res = delete_docs(
        spark, spark.createDataFrame([(gone,)], "conv_id string"), idx
    )
    assert res["deleted_docs"] > 0
    truth = truth[truth["conv_id"] != gone]
    yield truth


def test_stats_parity_over_a_mutation_history(spark, tmp_path):
    idx = str(tmp_path / "idx")
    for truth in _history(spark, idx):
        _assert_stats_parity(spark, idx, truth)


# queries for the plan parity below: 1-3 terms, a page-2 cut, a df
# cutoff, disjunctive, both scoring modes, a term the replacements add
PARITY_QUERIES = [
    ("token", {}),
    ("query index", {}),
    ("query index", {"offset": 5}),
    ("token batch query", {"mode": "relevance_ref"}),
    ("query index merge", {"conjunctive": False}),
    ("spark token", {"max_df": 40}),
    ("revised wording", {}),
    ("revised token", {"conjunctive": False}),
]


def _batches(eng, k):
    """search_many's rows for the parity queries: one batch per (mode,
    conjunctive), k rows per query -> {query index: [(doc_id, score)]}.
    search_many has no df cutoff, so max_df is left out."""
    groups: dict[tuple, dict[int, str]] = {}
    for i, (q, kw) in enumerate(PARITY_QUERIES):
        key = (kw.get("mode", "bm25"), kw.get("conjunctive", True))
        groups.setdefault(key, {})[i] = q
    got = {i: [] for i in range(len(PARITY_QUERIES))}
    for (mode, conjunctive), batch in groups.items():
        rows = eng.search_many(
            {str(i): q for i, q in batch.items()}, k=k, mode=mode,
            conjunctive=conjunctive,
        ).collect()
        for qid, doc_id, score in sorted(rows, key=lambda r: (-r[2], r[1])):
            got[int(qid)].append((doc_id, score))
    return got


def _assert_local_equals_classic(eng):
    """Every parity query: the local plan's rows, and its page of a
    search_many batch on both routes (the driver, and the packed plan
    with the local-plan bound shadowed to 0), equal the classic plan's,
    ids and score bits; most queries must hit something, or the
    comparison would be vacuous."""
    hits = 0
    classic = []
    for q, kw in PARITY_QUERIES:
        local = [tuple(r) for r in
                 eng.search_ids(q, k=10, plan="local", **kw).collect()]
        classic.append([tuple(r) for r in
                        eng.search_ids(q, k=10, plan="classic", **kw)
                        .collect()])
        assert local == classic[-1], (q, kw)
        hits += bool(local)
    assert hits >= 4, hits
    for bound in (eng.LOCAL_PLAN_MAX_POSTINGS, 0):
        eng.LOCAL_PLAN_MAX_POSTINGS = bound
        batches = _batches(eng, k=15)
        for i, (q, kw) in enumerate(PARITY_QUERIES):
            offset = kw.get("offset", 0)
            want = classic[i] if "max_df" not in kw else [
                tuple(r) for r in eng.search_ids(
                    q, k=10, plan="classic",
                    **{key: v for key, v in kw.items() if key != "max_df"},
                ).collect()
            ]
            assert batches[i][offset:offset + 10] == want, (bound, q, kw)
    del eng.LOCAL_PLAN_MAX_POSTINGS


def test_local_plan_equals_classic_over_a_mutation_history(spark, tmp_path):
    """The driver-side local plan and both search_many routes against
    the classic Spark plan, bit for bit, over a fresh, upserted,
    insert-appended, deleted (both delete paths), compacted and
    snapshot-pinned index."""
    from search_engine_spark.operators.compaction import compact_index
    from search_engine_spark.operators.snapshots import list_snapshots

    idx = str(tmp_path / "idx")
    for _ in _history(spark, idx):
        _assert_local_equals_classic(SearchEngine(spark, idx))
        # both term_stats writers sort each file by term (the driver-side
        # lookup's row-group pruning rests on it)
        for f in Path(idx, "term_stats").glob("*.parquet"):
            terms = pq.read_table(f, columns=["term"]).column("term")
            assert terms.to_pylist() == sorted(terms.to_pylist()), f
    head = SearchEngine(spark, idx)
    assert head._deleted is not None
    before = [head.search_ids(q, k=10, **kw).collect()
              for q, kw in PARITY_QUERIES]
    # every snapshot of the history, pinned: its parts, documents files,
    # delete dirs and stats copy
    for snap in list_snapshots(idx):
        _assert_local_equals_classic(
            SearchEngine(spark, idx, snapshot_id=snap["snapshot_id"])
        )
    compact_index(spark, idx, n_parts=2)
    compacted = SearchEngine(spark, idx)
    assert compacted._deleted is None
    _assert_local_equals_classic(compacted)
    # compaction drops the vector's rows: same answers as before it
    assert [compacted.search_ids(q, k=10, **kw).collect()
            for q, kw in PARITY_QUERIES] == before


def _index_state(spark, idx):
    eng = SearchEngine(spark, idx)
    return {
        "stats": _stats(idx),
        "documents": _rows(f"{idx}/documents"),
        "postings": sorted(
            tuple(r) for r in spark.read.parquet(f"{idx}/postings").collect()
        ),
        "deleted": list(load_deleted_ids(spark, idx)),
        "hits": eng.search("token batch query", k=10),
    }


def test_crash_before_documents_append_keeps_live_stats(
    spark, tmp_path, monkeypatch
):
    """The documents append raises: the live stats are unchanged, the
    crashed attempt's *_new never becomes live (recovery drops it), and
    a replay converges to the index of a clean run."""
    pdf = make_transcripts(n_conversations=18, seed=32)
    base, new, _ = _split(pdf)
    idx, clean = str(tmp_path / "idx"), str(tmp_path / "clean")
    build_index(spark, _sdf(spark, base), idx, n_parts=1, n_buckets=4,
                resume=False)
    shutil.copytree(idx, clean)
    changed = base[base["text"].str.strip() != ""].head(3).copy()
    changed["text"] = changed["text"] + " revised wording"
    batch = pd.concat([changed, new])
    incremental_update(spark, _sdf(spark, batch), clean, upsert=True)

    before = _stats(idx)
    real_parquet = DataFrameWriter.parquet

    def crashing_parquet(self, path, *args, **kwargs):
        if str(path).endswith("/documents"):
            raise RuntimeError("simulated crash in the documents append")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_update(spark, _sdf(spark, batch), idx, upsert=True)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
    # the crash window is real: the post-batch stats were written ...
    stale = [Path(f"{idx}/{t}_new") for t in ("term_stats", "corpus_stats")]
    assert all(p.exists() for p in stale)
    # ... but not published
    assert _stats(idx) == before

    # a mutation that writes no stats runs recovery: the orphan part is
    # rolled back and the stale *_new dropped, never swapped in
    res = incremental_update(spark, _sdf(spark, base.head(0)), idx)
    assert res == {"new_docs": 0, "new_parts": 0, "replaced_docs": 0}
    assert not any(p.exists() for p in stale)
    assert _stats(idx) == before

    incremental_update(spark, _sdf(spark, batch), idx, upsert=True)
    assert _index_state(spark, idx) == _index_state(spark, clean)


def test_upsert_job_ceiling(spark, tmp_path):
    """Spark jobs (job-id delta from statusTracker, listener bus drained
    first) over one upsert with replacements into a small index. The
    parent of the one-stats-pass change ran 57 jobs here; the change runs
    30 (no schema-inference reads, one stats pass, replaced ids collected
    once). The ceiling is that count + 2."""
    pdf = make_transcripts(n_conversations=18, seed=33)
    base, new, _ = _split(pdf)
    idx = str(tmp_path / "idx")
    build_index(spark, _sdf(spark, base), idx, n_parts=1, n_buckets=4,
                resume=False)
    changed = base[base["text"].str.strip() != ""].head(5).copy()
    changed["text"] = changed["text"] + " revised wording"
    batch = _sdf(spark, pd.concat([changed, new])).cache()
    batch.count()
    h0 = jobs_since(spark)
    res = incremental_update(spark, batch, idx, upsert=True)
    jobs = jobs_since(spark, h0)
    batch.unpersist()
    assert res["replaced_docs"] == 5 and res["new_parts"] == 1
    assert jobs <= 32, jobs

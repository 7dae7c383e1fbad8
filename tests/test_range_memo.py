"""The rarest-term block-range memo and the range pushdown.

``SearchEngine._fill_ranges_cache`` reads the block ranges of the
terms conjunctive reads prune to on the driver with pyarrow. Its memo
must equal what the Spark block scan yields (rows -> ``_merge_spans``,
None past ``PRUNE_MAX_RARE_BLOCKS``) on a fresh, an upserted, a
snapshot-pinned and a compacted index, without a Spark job.
``_ranges_pred`` bridges gaps instead of dropping the pushdown when a
span list is too long for Catalyst.
"""

from __future__ import annotations

import re
import shutil
import warnings

import pandas as pd
import pytest

from search_engine_spark import schemas
from search_engine_spark.operators.compaction import compact_index
from search_engine_spark.operators.incremental import incremental_update
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query import SearchEngine, TermInfo
from search_engine_spark.operators.snapshots import list_snapshots
from search_engine_spark.session import local_frame
from search_engine_spark.synth import make_transcripts

from conftest import jobs_since

MISSING = "zzqnotaterm"
BLOCK_SIZE = 8  # small blocks: many terms span several blocks
CAP = 2  # PRUNE_MAX_RARE_BLOCKS for the memo test


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """state -> (index_dir, snapshot_id): a fresh 3-part build, an
    upsert with replacements over a copy, that copy pinned to the build
    snapshot, and a compacted copy of the upserted index."""
    root = tmp_path_factory.mktemp("range_memo")
    pdf = make_transcripts(n_conversations=24, seed=41)
    base = str(root / "base")
    build_index(spark, spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS),
                base, n_parts=3, n_buckets=4, block_size=BLOCK_SIZE,
                resume=False)
    upserted = str(root / "upserted")
    shutil.copytree(base, upserted)
    changed = pdf[pdf["text"].fillna("").str.strip() != ""].iloc[::5].copy()
    changed["text"] = changed["text"] + " revised wording"
    res = incremental_update(
        spark, spark.createDataFrame(changed, schema=schemas.TRANSCRIPTS),
        upserted, upsert=True,
    )
    assert res["replaced_docs"] > 0
    compacted = str(root / "compacted")
    shutil.copytree(upserted, compacted)
    compact_index(spark, compacted, n_parts=2)
    return {
        "base": (base, None),
        "upserted": (upserted, None),
        "pinned": (upserted, list_snapshots(upserted)[0]["snapshot_id"]),
        "compacted": (compacted, None),
    }


def _spark_memo(eng, term):
    """The reference: the term's blocks through the Spark scan."""
    rows = eng._scan_blocks(
        [term], columns=["first_doc_id", "last_doc_id"]
    ).collect()
    if not rows or len(rows) > eng.PRUNE_MAX_RARE_BLOCKS:
        return None
    return eng._merge_spans(
        [(int(r["first_doc_id"]), int(r["last_doc_id"])) for r in rows]
    )


@pytest.mark.parametrize("state", ["base", "upserted", "pinned", "compacted"])
def test_fill_ranges_cache_equals_spark_scan(spark, indexes, state,
                                             monkeypatch):
    monkeypatch.setattr(SearchEngine, "PRUNE_MAX_RARE_BLOCKS", CAP)
    idx, snapshot_id = indexes[state]
    eng = SearchEngine(spark, idx, snapshot_id=snapshot_id)
    assert eng._block_size == BLOCK_SIZE
    dictionary = eng._dictionary.to_table().to_pandas()
    df = dict(zip(dictionary["term"], dictionary["df"]))
    n_blocks = {
        r["term"]: r["count"]
        for r in eng._scan_blocks(sorted(df), columns=["term"])
        .groupBy("term").count().collect()
    }
    by_df = [t for t in sorted(df) if df[t] > CAP * BLOCK_SIZE][:5]
    by_count = [t for t in sorted(df)
                if df[t] <= CAP * BLOCK_SIZE and n_blocks[t] > CAP][:5]
    rare = [t for t in sorted(df) if n_blocks[t] <= CAP][:5]
    assert by_df and by_count and rare

    infos, _ = eng._infos_for_terms(sorted(by_df + by_count + rare))
    infos.append(TermInfo(MISSING, 0, len(infos)))
    read: list[str] = []
    real_read = SearchEngine._read_blocks

    def spy(self, terms, columns):
        read.extend(terms)
        return real_read(self, terms, columns)

    monkeypatch.setattr(SearchEngine, "_read_blocks", spy)
    h0 = jobs_since(spark)
    eng._fill_ranges_cache(infos)
    eng._fill_ranges_cache(infos)  # all memoized: no second read
    assert jobs_since(spark, h0) == 0
    assert sorted(read) == sorted(by_count + rare)

    memo = {ti.term: eng._ranges_cache[ti.term] for ti in infos}
    assert memo == {ti.term: _spark_memo(eng, ti.term) for ti in infos}
    assert all(memo[t] for t in rare)
    assert all(memo[t] is None for t in by_df + by_count + [MISSING])


def test_cold_search_many_runs_no_range_job(spark, indexes, monkeypatch):
    """A cold batch on the packed plan (the local-plan bound shadowed to
    0) fills its range memo without a Spark job: it runs only its
    scoring plan's jobs (4 here; the two Spark range collectors the memo
    replaced made it 7)."""
    eng = SearchEngine(spark, indexes["base"][0])
    monkeypatch.setattr(eng, "LOCAL_PLAN_MAX_POSTINGS", 0)
    batch = ["query index", "token batch", "spark merge", "revised shard",
             "cache hash", "join token"]
    h0 = jobs_since(spark)
    rows = eng.search_many(batch, k=5).collect()
    assert jobs_since(spark, h0) <= 4
    assert rows and eng._ranges_cache


def test_ranges_pred_coarsens_long_span_lists(spark):
    """100 spans (unsorted, some overlapping) push at most
    PRUNE_MAX_FILTER_RANGES spans that cover every input span, with no
    warning."""
    spans = [(i * i, i * i + 3) for i in range(100)]
    spans += [(50, 400), (60, 70), (9000, 9001)]
    spans.reverse()
    eng = SearchEngine.__new__(SearchEngine)  # _ranges_pred reads no state
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        pred = eng._ranges_pred(spans, "doc_id", "doc_id")
    assert str(pred).count(" AND ") <= SearchEngine.PRUNE_MAX_FILTER_RANGES
    inside = sorted({d for lo, hi in spans for d in range(lo, hi + 1)})
    frame = local_frame(spark, pd.DataFrame({"doc_id": inside}),
                        "doc_id long")
    assert frame.filter(pred).count() == len(inside)


def _plan(df) -> str:
    """The executed plan without expression ids."""
    return re.sub(
        r"#\d+L?", "", df._jdf.queryExecution().executedPlan().toString()
    )


def test_scan_blocks_builds_its_term_lists_in_one_call(spark, indexes,
                                                       monkeypatch):
    """A 100-term scan with ranges and exempt terms builds its IN lists
    without a Py4J literal per term, and keeps Column.isin's plan (the
    same PartitionFilters and pushed term filter) and rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic import column

    eng = SearchEngine(spark, indexes["base"][0])
    dictionary = eng._dictionary.to_table(columns=["term"]).to_pandas()
    terms = sorted(dictionary["term"])[:99] + ["o'k\\x"]
    keep = terms[:3]
    ranges = [(0, 40), (90, 120)]
    calls = []
    real = column._create_column_from_literal
    monkeypatch.setattr(column, "_create_column_from_literal",
                        lambda v: calls.append(v) or real(v))
    new = eng._scan_blocks(terms, ranges, keep_terms=keep)
    assert calls == []  # Column.isin made one per term and bucket
    monkeypatch.undo()

    from search_engine_spark.functions.spark_hash import spark_bucket

    buckets = sorted({spark_bucket(t, eng.n_buckets) for t in terms})
    old = eng.postings.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    ).filter(
        F.col("term").isin(keep)
        | eng._ranges_pred(ranges, "first_doc_id", "last_doc_id")
    )
    assert _plan(new) == _plan(old)
    rows = sorted(map(tuple, new.collect()))
    assert rows and rows == sorted(map(tuple, old.collect()))

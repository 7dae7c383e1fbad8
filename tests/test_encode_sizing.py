"""The posting encode's partition count follows the part's size
(index_build.encode_partitions, chosen in write_part only).

The rule is pinned on its own; then a build -> upsert with replacements
-> compaction history runs twice, once as shipped and once with
ENCODE_POSTINGS_PER_TASK shadowed to 1 (every part gets 3x
shuffle.partitions, the count every part had before the sizing), and
the posting rows must hash the same after every step, for the default
layout, a positions index and a salted hot-term corpus. A small part
writes one data file per bucket dir.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds
import pytest

from search_engine_spark import schemas
from search_engine_spark.operators import index_build
from search_engine_spark.operators.compaction import compact_index
from search_engine_spark.operators.incremental import incremental_update
from search_engine_spark.operators.index_build import (
    ENCODE_POSTINGS_PER_TASK,
    build_index,
    encode_partitions,
)
from search_engine_spark.synth import make_transcripts

C = ENCODE_POSTINGS_PER_TASK


def test_tiny_part_encodes_in_one_task():
    assert encode_partitions(100, 17.5, 8) == 1


@pytest.mark.parametrize("shuffle", [1, 4, 8])
def test_threshold_at_the_constant(shuffle):
    assert encode_partitions(C, 1.0, shuffle) == 1
    assert encode_partitions(C + 1, 1.0, shuffle) == 3 * shuffle
    assert encode_partitions(C // 2, 2.5, shuffle) == 3 * shuffle


@pytest.mark.parametrize("shuffle", [1, 4, 8])
def test_huge_part_gets_three_times_shuffle(shuffle):
    assert encode_partitions(10**9, 50.0, shuffle) == 3 * shuffle


def test_empty_part_gives_one():
    assert encode_partitions(10**6, 0.0, 8) == 1
    assert encode_partitions(1, 0.0, 8) == 1
    assert encode_partitions(1, 30.0, 8) == 1


def _postings_digest(idx: str) -> str:
    """sha256 over every posting row of the index, rows sorted (the row
    order of the parquet files is the writer's, not the index's)."""
    t = ds.dataset(f"{idx}/postings", format="parquet",
                   partitioning="hive").to_table()
    cols = sorted(t.column_names)
    rows = sorted(zip(*(t.column(c).to_pylist() for c in cols)))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def _files_per_bucket(part_dir: Path) -> list[int]:
    return [len(list(b.glob("*.parquet")))
            for b in sorted(part_dir.glob("bucket=*"))]


def _sdf(spark, pdf):
    return spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)


LAYOUTS = {
    "default": dict(seed=31, n_conversations=22, build={}),
    "positions": dict(seed=31, n_conversations=22,
                      build={"store_positions": True}),
    # the hot-term corpus and salt budget of tests/test_salting.py
    "salted": dict(seed=13, n_conversations=60,
                   build={"salt_budget": 50}),
}


def _history(spark, idx: str, case: dict, check) -> list[str]:
    """Build (2 parts), upsert changed turns + new conversations, compact
    to 2 parts; ``check(idx)`` and the postings digest after each step."""
    pdf = make_transcripts(n_conversations=case["n_conversations"],
                           seed=case["seed"])
    convs = sorted(pdf["conv_id"].unique())
    cut = len(convs) * 3 // 4
    base = pdf[pdf["conv_id"].isin(convs[:cut])]
    new = pdf[pdf["conv_id"].isin(convs[cut:])]
    build_index(spark, _sdf(spark, base), idx, n_parts=2, n_buckets=4,
                resume=False, **case["build"])
    check(idx)
    digests = [_postings_digest(idx)]
    changed = base[base["text"].str.strip() != ""].head(4).copy()
    changed["text"] = changed["text"] + " revised wording"
    res = incremental_update(
        spark, _sdf(spark, pd.concat([changed, new])), idx, upsert=True
    )
    assert res["replaced_docs"] == 4 and res["new_parts"] == 1
    check(idx)
    digests.append(_postings_digest(idx))
    compact_index(spark, idx, n_parts=2)
    check(idx)
    digests.append(_postings_digest(idx))
    return digests


def _one_file_per_bucket(idx: str) -> None:
    """Every part of a small index (the build's, the upsert's, the
    compacted ones) writes one data file into each of its bucket dirs."""
    parts = list(Path(f"{idx}/postings").glob("part_id=*"))
    assert parts
    for part in parts:
        assert set(_files_per_bucket(part)) == {1}, part


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_blocks_identical_to_three_times_shuffle(
    spark, tmp_path, monkeypatch, layout
):
    case = LAYOUTS[layout]
    got = _history(spark, str(tmp_path / "sized"), case,
                   _one_file_per_bucket)

    monkeypatch.setattr(index_build, "ENCODE_POSTINGS_PER_TASK", 1)
    forced_files = []

    def _files(idx):
        forced_files.extend(
            n for p in Path(f"{idx}/postings").glob("part_id=*")
            for n in _files_per_bucket(p)
        )

    assert _history(spark, str(tmp_path / "forced"), case, _files) == got
    # the forced history really encoded in many tasks (a bucket dir
    # holds one file per task that had rows for it)
    assert max(forced_files) > 1

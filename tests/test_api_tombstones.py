"""EngineAPI.clear_tombstones — the takedown lifecycle's API surface:
delete_batch(tombstone=True) blocks replays, clear_tombstones lifts the
block, and the envelope contract holds on the error path."""

from __future__ import annotations

from pyspark.sql import functions as F

from search_engine_spark.api import EngineAPI
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.synth import make_transcripts


def test_api_tombstone_lifecycle(spark, tmp_path):
    pdf = make_transcripts(n_conversations=14, seed=21)
    idx = str(tmp_path / "idx")
    tdf = spark.createDataFrame(pdf)
    build_index(spark, tdf, idx, n_parts=1, resume=False)
    api = EngineAPI(spark, idx)

    taken = tdf.filter(F.col("conv_id") == "conv-000003")
    keys = taken.select("conv_id", "turn_idx")
    parts = api.statistics()["statistics"]["parts"]
    res = api.delete_batch(keys, tombstone=True)
    assert res["result"] is True and res["deleted_docs"] > 0
    # the deletes-only commit marker is not a part
    assert api.statistics()["statistics"]["parts"] == parts

    # replayed ingest is blocked while the tombstones stand
    replay = api.index_batch(taken)
    assert replay["result"] is True and replay["new_docs"] == 0

    lifted = api.clear_tombstones(keys)
    assert lifted["result"] is True and lifted["removed"] > 0

    # the same replay now restores the turns
    restored = api.index_batch(taken)
    assert restored["result"] is True
    assert restored["new_docs"] == res["deleted_docs"]

    # lifting again removes nothing (idempotent surface)
    assert api.clear_tombstones(keys) == {"result": True, "removed": 0}

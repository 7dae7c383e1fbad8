from __future__ import annotations

import shutil

import pytest

from search_engine_spark import schemas
from search_engine_spark.oracle import build_oracle_index
from search_engine_spark.session import get_spark
from search_engine_spark.synth import make_transcripts


def jobs_since(spark, start: int | None = None) -> int:
    """The highest Spark job id so far (``start=None``), or the number of
    jobs started since ``start``. The status store is fed by the
    listener bus, so it is drained first: an undrained bus under-counts."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    tracker = spark.sparkContext.statusTracker()
    hw = max(tracker.getJobIdsForGroup(None) or [-1])
    while tracker.getJobInfo(hw + 1) is not None:
        hw += 1
    return hw if start is None else hw - start


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf():
    return make_transcripts(n_conversations=60, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf, schema=schemas.TRANSCRIPTS)


@pytest.fixture(scope="session")
def oracle_idx(transcripts_pdf):
    return build_oracle_index(transcripts_pdf)


@pytest.fixture(scope="session")
def built_index(spark, transcripts_df, tmp_path_factory):
    from search_engine_spark.operators.index_build import build_index

    out = str(tmp_path_factory.mktemp("index") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    result = build_index(spark, transcripts_df, out, n_parts=3, resume=False)
    return out, result

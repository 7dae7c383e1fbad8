"""Declared StructTypes for every table in the engine (schema-on-write).

Mirrors the reference's four JPA entities (Site/Page/Lemma/Index —
model/Site.java:13-38, model/Page.java:12-32, model/Lemma.java:12-31,
model/Index.java:11-27) re-shaped for columnar storage; see SURVEY.md §1.3
for the mapping table. ``read_table``, ``read_row`` and ``arrow_dataset``
(end of file) read a table back with its declared schema, without a
schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: multi-turn transcripts (BASELINE.json input_hint).
# One row per turn; (conv_id, turn_idx) unique and defines document order.
# ---------------------------------------------------------------------------
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# documents — the doc store (reference `pages`, model/Page.java:12-32).
# doc_id is dense, assigned in (conv_id, turn_idx) order; text kept verbatim
# for snippets (the per-turn text-equality row invariant).
# dl = token count after analysis (BM25 doc length).
# ---------------------------------------------------------------------------
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# term_stats — term dictionary (reference `lemmas`, model/Lemma.java:12-31).
# df = # distinct documents containing the term (EntitySaver.java:88-101),
# cf = collection frequency (sum of tf) — extension needed by nothing in the
# reference but cheap and useful for stats.
# ---------------------------------------------------------------------------
# _staging_postings_raw — the durable exploded (term, doc) rows, written
# once per build partitioned by part_id; term_stats, part encodes,
# incremental merge, and compaction all read partition/column-pruned slices
# of it. part_id is a directory partition column on disk.
STAGING = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dl", T.IntegerType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("part_id", T.IntegerType(), False),
    ]
)


def staging_schema(store_positions: bool = False) -> T.StructType:
    """STAGING, optionally widened with the per-(doc, term) sorted token-
    position array (store_positions=True builds) — the precursor the
    encoder packs into the postings `positions` stream."""
    if not store_positions:
        return STAGING
    fields = list(STAGING.fields)
    return T.StructType(
        fields[:-1]
        + [T.StructField("pos", T.ArrayType(T.IntegerType()), False)]
        + fields[-1:]  # part_id stays last (partition column)
    )

TERM_STATS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
    ]
)

# doc_stats — per-document lengths (BM25 `dl`; also SUM(rank) per page,
# IndexRepository.java:14-15 analog since tf-sum == dl under our analyzer).
DOC_STATS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

# corpus_stats — one row of global scalars (versioned; fixes the reference's
# stale cached max relevance, SearchServiceImpl.java:147-153).
CORPUS_STATS = T.StructType(
    [
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("avgdl", T.DoubleType(), True),
        T.StructField("max_tf_sum", T.DoubleType(), False),
        T.StructField("index_version", T.StringType(), False),
        # bucket->directory layout (physical index property; readers resolve
        # it from here instead of trusting a caller default)
        T.StructField("n_buckets", T.IntegerType(), False),
        # bumped on EVERY stats rewrite (fresh build, incremental merge);
        # part manifest rows record the epoch their encoder read, so the
        # query engine can prove the stored block_max_score column is
        # consistent with current stats before pruning with it
        T.StructField("stats_epoch", T.LongType(), True),
        # ID-SPACE size (max assigned doc_id + 1, deleted ids INCLUDED) —
        # the layout quantity part-range math divides by. Diverges from
        # n_docs (the LIVE count BM25 scores with) once upserts delete
        # docs; equal on any index that never replaced a doc.
        T.StructField("id_space", T.LongType(), True),
    ]
)

# _deletes/batch_part_{P}/ — one upsert or delete batch's replaced doc_ids
# (operators/deletes.py, the delete vector).
DELETES = T.StructType([T.StructField("doc_id", T.LongType(), False)])

# _tombstones/ — takedown keys every ingest path drops (turn_idx NULL =
# the whole conversation; operators/deletes.py).
TOMBSTONES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# postings — the inverted index (reference `indexes`, model/Index.java:11-27,
# one MySQL row per (term, doc)). Here: per-term posting blocks, doc_ids
# delta-encoded + varbyte-packed, tfs varbyte-packed, with per-block maxima
# for block-max WAND. `bucket` = hash(term) % N_BUCKETS, the partition
# column — query-time term lookups prune to matching buckets.
# ---------------------------------------------------------------------------
POSTINGS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),  # postings in block
        T.StructField("doc_ids", T.BinaryType(), False),  # delta+varbyte
        T.StructField("tfs", T.BinaryType(), False),  # varbyte
        T.StructField("dls", T.BinaryType(), False),  # varbyte doc lengths
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
        T.StructField("block_max_score", T.DoubleType(), False),
        T.StructField("bucket", T.IntegerType(), False),  # partition col
    ]
)


def postings_schema(store_positions: bool = False) -> T.StructType:
    """POSTINGS, optionally widened with the per-block positions stream
    (store_positions=True builds): the concatenation of each posting
    row's token-position list, delta-encoded within the row, varbyte-
    packed per block — decode_positions_grouped is the inverse. The
    documented trade is index size (~2x postings bytes) for phrase
    queries that never touch the doc store."""
    if not store_positions:
        return POSTINGS
    fields = list(POSTINGS.fields)
    return T.StructType(
        fields[:-1]
        + [T.StructField("positions", T.BinaryType(), False)]
        + fields[-1:]  # bucket stays last (partition column)
    )

# build_manifest — per-partition checkpoint/lineage rows (reproduces the
# Site status machine, model/Status.java:3-5 + IndexationServiceImpl
# heartbeat, as required by the north rule).
BUILD_MANIFEST = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),  # PENDING/RUNNING/DONE/FAILED
        T.StructField("started_ts", T.TimestampType(), True),
        T.StructField("finished_ts", T.TimestampType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("postings_written", T.LongType(), True),
        T.StructField("terms_merged", T.LongType(), True),
        T.StructField("bytes_compressed", T.LongType(), True),
        T.StructField("index_version", T.StringType(), False),
    ]
)

# _suggest_deletes/ — the symmetric-delete suggestion index: one (delete
# key, dictionary term) row per delete variant (operators/suggest_index.py)
SUGGEST_DELETES = T.StructType(
    [
        T.StructField("dkey", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
    ]
)

# search results projection (reference dto/statistics/Data.java:8-21)
SEARCH_RESULT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("snippet", T.StringType(), True),
    ]
)


def read_table(
    spark: SparkSession, paths: str | list[str], schema: T.StructType
) -> DataFrame:
    """An engine table read with its declared schema. A schema-less
    ``spark.read.parquet`` runs a Spark job to infer the schema from a
    footer; a declared one runs none. A column the files lack reads as
    null, and a directory with no data files reads as no rows (a missing
    path still raises PATH_NOT_FOUND)."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.schema(schema).parquet(*paths)


def read_row(path: str) -> dict:
    """The first row of a one-row table (corpus_stats), read on the
    driver with pyarrow: no Spark job. A column the files lack is simply
    absent, so ``.get`` reads it as None (legacy indexes without
    ``id_space``/``stats_epoch``). Raises FileNotFoundError when the
    path is missing or holds no row yet (a first write in flight has
    only ``_temporary/``, which pyarrow skips)."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path).slice(0, 1).to_pylist()
    if not rows:
        raise FileNotFoundError(f"no row in {path}")
    return rows[0]


def arrow_dataset(
    paths: str | list[str], schema: T.StructType,
    columns: tuple[str, ...] | None = None,
):
    """A driver-side pyarrow dataset over an engine table (a directory or
    a list of files), declared like ``read_table``: no footer is read to
    find the schema, a column the files lack reads as null, and a
    directory with no data files reads as no rows (a missing path raises
    FileNotFoundError). ``columns`` narrows the declared fields to the
    ones a reader needs (documents carry Spark's INT96 ``ts``, which the
    declared timestamp type would not match). Files whose names start
    with ``.`` or ``_`` (``_SUCCESS``, checksums, ``_temporary/``) are
    skipped. Scanning runs no Spark job."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    fields = [
        T.StructField(f.name, f.dataType, True)
        for f in schema
        if columns is None or f.name in columns
    ]
    return ds.dataset(
        paths, schema=to_arrow_schema(T.StructType(fields)), format="parquet"
    )

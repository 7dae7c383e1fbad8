"""Distributed inverted-index build (the reference's startIndexing pipeline,
IndexationServiceImpl.java:88-106 + EntitySaver.java:35-109, re-architected
as Spark jobs; SURVEY.md §3.2).

Pipeline (2 wide shuffles total):

  transcripts
    -> P1 hygiene filter (blank text; EntitySaver.java:51 analog)
    -> stable dense doc_id by (conv_id, turn_idx)    [shuffle 1: range]
    -> analyze (Catalyst terms_col: tokenize+stop+lemmatize, pure JVM
       whole-stage codegen — identical to the pandas/Python/SQL analyzers
       by the 4-way identity test)
    -> documents (+ dl) and exploded (doc_id, term, tf, dl)  [shuffle 2: agg]
    -> term_stats (df, cf), corpus_stats by the one stats writer
       (_write_stats_new, shared with upserts), swapped in; the stage_docs
       manifest row commits stage A
    -> per doc_id-range PART (checkpoint unit):
         broadcast-join term df  -> range-salt hot terms
         -> (term,salt) collect_list groups -> mapInArrow encoder: one
            list row per group crosses Arrow (not one row per posting),
            delta+varbyte blocks w/ block-max, one numpy pass per batch
         -> postings/part_id=P/bucket=B parquet + manifest row (lineage)

Scale notes (100 TB / 1000 executors):
- doc_id assignment is the two-pass range pattern — no global window, no
  zipWithIndex; boundaries from repartitionByRange, per-partition offsets
  prefix-summed on the driver (tiny), ids filled by a JVM expression over
  monotonically_increasing_id (see _doc_id_col).
- the explode->agg shuffle is the big one; partial aggregation (Catalyst)
  combines map-side so shuffle volume is ~unique (term, doc) pairs.
- hot terms (Zipf head) are salted into contiguous doc_id subranges so the
  "merge" of salted segments is pure concatenation — no re-sort, no second
  shuffle (SURVEY.md §7.3).
- each PART is an independent job writing its own partition directory +
  manifest row -> kill/resume skips DONE parts (north-rule checkpointing).
  Parts are encoded only after stage A commits; a resume over an
  uncommitted stage A starts over, so no part outlives its stats.
- postings are hash-bucketed by term (`bucket` partition column) so query
  lookups prune to matching directories.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.analyzer import ANALYZER_VERSION, terms_col
from ..functions.codec import varbyte_encode_sliced
from .. import schemas
from ..errors import QueryArgumentError
from ..session import local_frame

K1 = 1.2
B = 0.75
BLOCKS_PER_SALT_CAP = 1 << 20  # block_id = salt * CAP + local
# build_index's layout defaults, and the layout of an index written before
# stage_docs recorded block_size / salt_budget (every maintenance path
# encoded with these then)
BLOCK_SIZE = 128
SALT_BUDGET = 100_000
# estimated postings up to which a part encodes in one task
# (encode_partitions). A task's fixed cost (Python worker, one file per
# bucket) is ~0.24 CPU-s, a posting's encode + write ~7 CPU-us: a full
# task's variable work is ~15x its fixed cost (PERF.md "Build path")
ENCODE_POSTINGS_PER_TASK = 500_000


def _plog(label: str, t0: float) -> None:
    """Stage timing to stderr when SPARK_GRAFT_PROFILE=1 (perf work only)."""
    if os.environ.get("SPARK_GRAFT_PROFILE"):
        import sys

        print(f"[build-profile] {label}: {time.time() - t0:.2f}s",
              file=sys.stderr, flush=True)


@dataclass
class IndexBuildResult:
    out_dir: str
    n_docs: int
    avgdl: float
    max_tf_sum: float
    n_terms: int
    postings_blocks: int
    parts_built: int
    parts_skipped: int
    index_version: str


@dataclass(frozen=True)
class PartLayout:
    """How every part of an index is encoded and laid out on disk. Fixed
    by build_index (recorded in the stage_docs manifest row, n_buckets in
    corpus_stats); upserts and compaction read it back with read_layout,
    so the layout holds across the index's whole life."""

    n_buckets: int
    block_size: int
    salt_budget: int
    store_positions: bool
    index_version: str


def resolve_n_buckets(corpus: dict, requested: int | None,
                      index_dir: str) -> int:
    """The bucket->directory mapping of an index from its corpus_stats
    row: the persisted value wins and a different caller value is refused
    (postings would be written or pruned under another mapping); an index
    written before the value was persisted (or a fresh build) takes the
    caller's value, default 16."""
    persisted = corpus.get("n_buckets")
    if persisted is None:
        return 16 if requested is None else int(requested)
    if requested is not None and int(requested) != int(persisted):
        raise QueryArgumentError(
            f"index at {index_dir} was built with n_buckets="
            f"{int(persisted)}, caller requested {requested}"
        )
    return int(persisted)


def read_layout(out_dir: str, stage: dict) -> PartLayout:
    """The layout build_index fixed for the index at ``out_dir``
    (``stage`` is its stage_docs manifest row)."""
    return PartLayout(
        n_buckets=resolve_n_buckets(
            schemas.read_row(f"{out_dir}/corpus_stats"), None, out_dir
        ),
        block_size=int(stage.get("block_size", BLOCK_SIZE)),
        salt_budget=int(stage.get("salt_budget", SALT_BUDGET)),
        store_positions=bool(stage.get("store_positions", False)),
        index_version=stage.get("index_version", "v1"),
    )


def conform_transcripts(transcripts: DataFrame) -> DataFrame:
    """Cast input to the declared TRANSCRIPTS schema (schema-on-write) so
    every writer produces identical parquet physical types regardless of
    how the caller materialized the batch (pandas int64 vs int32, etc.)."""
    return transcripts.select(
        *[F.col(f.name).cast(f.dataType) for f in schemas.TRANSCRIPTS.fields]
    )


# P1 blank test: one EXPLICIT whitespace class everywhere — Java regex \s
# (Spark) includes \x0B, RE2 \s (DuckDB) does not, and Python str.strip()
# adds unicode spaces; the oracle gate hash-compares results across all
# three engines, so each must apply this identical class.
BLANK_CLASS = r"[ \t\n\r\f\x0B]"
# the same contract as an EXISTENCE probe: "has at least one non-blank
# char" == "stripping every blank char leaves something". rlike stops at
# the first match, so the hygiene filter costs O(1) per typical row
# instead of one Matcher.appendReplacement call per whitespace char
# (regexp_replace rebuilds the whole string just to compare it to '').
NONBLANK_CLASS = r"[^ \t\n\r\f\x0B]"


def nonblank_text() -> F.Column:
    """The P1 hygiene predicate (text IS NOT NULL AND has a non-blank
    char) — ONE definition for the build path and every gate entry;
    tests/test_index_build.py proves it equal to the regexp_replace
    formulation the DuckDB twins use."""
    return F.col("text").isNotNull() & F.col("text").rlike(NONBLANK_CLASS)


def clean_transcripts(transcripts: DataFrame) -> DataFrame:
    """P1 hygiene: only non-blank turns are indexed (EntitySaver.java:51)."""
    transcripts = conform_transcripts(transcripts)
    # NB: regexp-based blank test, not trim() — Spark trim strips only
    # ASCII space while the contract treats whitespace-only text as blank.
    return transcripts.filter(nonblank_text())


# above this partition count the per-partition offsets ride a broadcast
# join instead of a literal map expression (a 50k-partition cluster job
# would otherwise inline a 100k-literal expression into codegen)
OFFSET_MAP_LITERAL_CAP = 1024


def _local_row_col() -> "F.Column":
    """Row index within the current partition as a pure JVM expression:
    monotonically_increasing_id() is documented as
    ``(partition_id << 33) + row_index_within_partition``; subtracting the
    partition base leaves the local index."""
    return F.monotonically_increasing_id() - F.shiftleft(
        F.col("_pid").cast("long"), 33
    )


def _with_doc_ids(
    spark: SparkSession, ranged: DataFrame, offsets: dict[int, int],
    cols: list[str],
) -> DataFrame:
    """doc_id = offsets[_pid] + local_row over a cached, sorted frame —
    zero Python, zero Arrow. Offsets travel as a literal map expression
    (small partition counts) or a broadcast-joined offsets table (large),
    both staying inside whole-stage codegen."""
    if len(offsets) <= OFFSET_MAP_LITERAL_CAP:
        pairs = []
        for pid, off in offsets.items():
            pairs.extend([F.lit(int(pid)), F.lit(int(off))])
        offset_map = F.create_map(*pairs) if pairs else F.create_map()
        doc_id = (
            F.element_at(offset_map, F.col("_pid")) + _local_row_col()
        ).alias("doc_id")
        return ranged.select(*cols, doc_id)
    offsets_df = local_frame(
        spark,
        [(int(p), int(o)) for p, o in offsets.items()],
        "_pid int, _offset long",
    )
    return (
        ranged.withColumn("_local", _local_row_col())
        .join(F.broadcast(offsets_df), "_pid")
        .select(*cols, (F.col("_offset") + F.col("_local")).alias("doc_id"))
    )


def assign_doc_ids(df: DataFrame, spark: SparkSession, base: int = 0):
    """Dense doc_id (starting at ``base``) in global (conv_id, turn_idx)
    order — scalable two-pass: range-shuffle + sortWithinPartitions,
    per-partition counts prefix-summed on the driver (tiny collect), ids
    filled by a JVM expression (see _with_doc_ids). No global sort
    bottleneck, no Python in the pass.
    """
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(n_part, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["cnt"] for r in
              ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    total = acc - base

    cols = [f.name for f in df.schema.fields]
    result = _with_doc_ids(spark, ranged, offsets, cols)
    return result, ranged, total  # caller unpersists `ranged`


def _manifest_path(out_dir: str) -> Path:
    return Path(out_dir) / "_manifest"


def _write_manifest_row(out_dir: str, name: str, row: dict) -> None:
    mdir = _manifest_path(out_dir)
    mdir.mkdir(parents=True, exist_ok=True)
    tmp = mdir / f".{name}.tmp"
    tmp.write_text(json.dumps(row))
    tmp.rename(mdir / f"{name}.json")  # atomic: a row exists only if complete


def _read_manifest(out_dir: str) -> dict[str, dict]:
    mdir = _manifest_path(out_dir)
    if not mdir.exists():
        return {}
    out = {}
    for p in sorted(mdir.glob("*.json")):
        out[p.stem] = json.loads(p.read_text())
    return out


def manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The build_manifest table (per-partition lineage + metrics)."""
    rows = []
    for name, r in _read_manifest(out_dir).items():
        if name.startswith("deletes_"):
            # deletes-only commit markers (incremental.py) carry a
            # partition_id to reserve it, but they are not parts
            continue
        rows.append(
            (
                int(r.get("partition_id", -1)),
                r.get("status", "DONE"),
                pd.Timestamp(r["started_ts"], unit="s").floor("us")
                if r.get("started_ts")
                else None,
                pd.Timestamp(r["finished_ts"], unit="s").floor("us")
                if r.get("finished_ts")
                else None,
                r.get("error"),
                int(r.get("postings_written", 0)),
                int(r.get("terms_merged", 0)),
                int(r.get("bytes_compressed", 0)),
                r.get("index_version", ""),
            )
        )
    pdf = pd.DataFrame(
        rows,
        columns=[f.name for f in schemas.BUILD_MANIFEST.fields],
    )
    return local_frame(spark, pdf, schemas.BUILD_MANIFEST)


def _encode_part(
    pdf: pd.DataFrame, pos_flat: np.ndarray | None, n_docs: int,
    avgdl: float, block_size: int, store_positions: bool,
) -> pd.DataFrame:
    """Batch-level posting encoder: one non-empty frame of posting rows
    in, its posting blocks out. The frame holds (term_id, salt)-
    CONTIGUOUS runs sorted by doc_id within each run (encode_salted's
    arrow_encode builds it from collect_list groups with one lexsort);
    ONE numpy pass encodes every block of every group in it — the delta
    pass, both varbyte width/scatter passes, and the reduceat block
    maxima all amortize across thousands of groups at once.

    With ``store_positions`` the positions ride as ONE flat int64 array,
    ``pos_flat``, aligned with the frame's rows via tf (row i owns the
    next tf[i] values, sorted ascending) — never as a per-row object
    column (1M tiny array objects would dominate the stage).

    The input carries term_id (xxhash64 of the term, collision-checked
    against the dictionary — see build_index) instead of the term string,
    and int32 tf/df: Arrow serialization of the posting rows was ~half of
    stage-C wall time (measured 25 s of 46 s at local[16] on 2.8M turns),
    and the term strings were most of those bytes. The string and the
    bucket are re-attached JVM-side to the ~n/block_size OUTPUT rows via a
    broadcast dictionary join (_attach_terms) — nothing wide crosses the
    Arrow boundary in either direction.

    This replaces a per-(term, salt)-group applyInPandas: with ~2k lemma
    groups per part, per-group pandas overhead (sort_values, frame
    construction, Arrow slicing) dominated the stage and did not scale
    with cores (measured flat 8 -> 32 on 700k turns; the vectorized form
    is bound by actual array math).

    idf per group is computed with math.log — bit-identical to the
    query-side scorer (query.py:_idf), which block-skip correctness
    (score <= block_max_score) relies on."""
    ids = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)
    dfs = pdf["df"].to_numpy(np.int64)
    salts = pdf["salt"].to_numpy(np.int64)
    terms = pdf["term_id"].to_numpy()
    n = ids.size

    # group boundaries over the (term, salt) sort prefix
    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    if n > 1:
        new_grp[1:] = (terms[1:] != terms[:-1]) | (
            salts[1:] != salts[:-1]
        )
    grp_of_row = np.cumsum(new_grp) - 1
    grp_start = np.flatnonzero(new_grp)
    rel = np.arange(n, dtype=np.int64) - grp_start[grp_of_row]

    # block starts: every block_size rows within a group (rel == 0 at
    # each group start, so every group start is a block start)
    starts = np.flatnonzero(rel % block_size == 0)
    ends = np.append(starts[1:], n)
    grp_of_block = grp_of_row[starts]
    first_block_of_grp = np.flatnonzero(new_grp[starts])
    local_block = (
        np.arange(starts.size, dtype=np.int64)
        - first_block_of_grp[grp_of_block]
    )

    # delta within blocks: each block's first value stays absolute
    # (cross-group diffs may wrap negative, but every group start is a
    # block start and gets overwritten with the absolute id)
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = np.uint64(ids[0])
    if n > 1:
        deltas[1:] = np.diff(ids).astype(np.uint64)
    deltas[starts] = ids[starts].astype(np.uint64)

    idf_g = np.fromiter(
        (
            math.log(1.0 + (n_docs - int(d) + 0.5) / (int(d) + 0.5))
            for d in dfs[grp_start]
        ),
        dtype=np.float64,
        count=grp_start.size,
    )
    denom = tfs + K1 * (1 - B + B * dls / avgdl)
    bscores = idf_g[grp_of_row] * (tfs * (K1 + 1)) / denom

    out = {
        "term_id": terms[starts],
        "block_id": salts[starts] * BLOCKS_PER_SALT_CAP + local_block,
        "n": (ends - starts).astype(np.int32),
        "doc_ids": varbyte_encode_sliced(deltas, starts),
        "tfs": varbyte_encode_sliced(tfs.astype(np.uint64), starts),
        "dls": varbyte_encode_sliced(dls.astype(np.uint64), starts),
        "first_doc_id": ids[starts],
        "last_doc_id": ids[ends - 1],
        "max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
        # min_dl feeds the query-side drift-immune block bound
        # (query.py:_bound_col_multi): f(max_tf, max(min_dl,
        # max_tf)) upper-bounds every score in the block with
        # CURRENT stats, where the stored block_max_score freezes
        # encode-time stats
        "min_dl": np.minimum.reduceat(dls, starts).astype(np.int32),
        "block_max_score": np.maximum.reduceat(bscores, starts),
    }
    if store_positions:
        # per-row position lists live flattened in pos_flat (row i
        # owns tf[i] values, already sorted ascending); delta within
        # each row (first absolute), then slice the stream at BLOCK
        # boundaries — block start offsets in flat-position space are
        # the tf prefix sums at the block-start rows
        tf_prefix = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs, out=tf_prefix[1:])
        if int(tf_prefix[-1]) != int(pos_flat.size):
            raise ValueError(
                f"positions length {pos_flat.size} != sum(tf) "
                f"{tf_prefix[-1]}"
            )
        pdeltas = np.empty(pos_flat.size, dtype=np.uint64)
        if pos_flat.size:
            pdeltas[0] = np.uint64(pos_flat[0])
            pdeltas[1:] = np.diff(pos_flat).astype(np.uint64)
            row_starts = tf_prefix[:-1]
            pdeltas[row_starts] = pos_flat[row_starts].astype(np.uint64)
        out["positions"] = varbyte_encode_sliced(
            pdeltas, tf_prefix[starts]
        )
    return pd.DataFrame(out)


def _term_id_col(hash_ids: bool) -> F.Column:
    """The Arrow-side surrogate for the term string: xxhash64 when the
    build verified the dictionary is collision-free under it, else the
    string itself (automatic fallback — same code path, wider rows)."""
    return F.xxhash64("term") if hash_ids else F.col("term")


def prepare_salted(
    raw_p: DataFrame,
    term_stats: DataFrame,
    part_lo: int,
    part_size: int,
    salt_budget: int,
    hash_ids: bool,
    store_positions: bool = False,
) -> DataFrame:
    """Staging slice -> slim encode input: broadcast-join df, range-salt
    hot terms (df > budget -> contiguous doc_id subranges; merge across
    salts == concatenation), replace the term string with term_id, narrow
    tf/df to int32."""
    joined = raw_p.join(F.broadcast(term_stats.select("term", "df")), "term")
    n_salts = F.greatest(
        F.lit(1), F.ceil(F.col("df") / F.lit(salt_budget)).cast("long")
    )
    cols = [
        _term_id_col(hash_ids).alias("term_id"),
        (
            ((F.col("doc_id") - F.lit(part_lo)) * n_salts) / F.lit(part_size)
        ).cast("int").alias("salt"),
        F.col("doc_id"),
        F.col("tf").cast("int").alias("tf"),
        F.col("dl"),
        F.col("df").cast("int").alias("df"),
    ]
    if store_positions:
        cols.append(F.col("pos"))
    return joined.select(*cols)


def encode_partitions(part_size: int, avgdl: float,
                      shuffle_partitions: int) -> int:
    """The encode's partition count for a part of ``part_size`` doc ids:
    one task when the part's estimated postings, ``part_size * avgdl``,
    fit ENCODE_POSTINGS_PER_TASK, else 3 * shuffle_partitions for a
    balanced tail (write_part). ``avgdl`` is the index's, not the part's, so
    a part of longer-than-average docs is underestimated and a part
    thinned by deletes overestimated."""
    if part_size * avgdl <= ENCODE_POSTINGS_PER_TASK:
        return 1
    return 3 * shuffle_partitions


def encode_salted(
    salted: DataFrame,
    n_partitions: int,
    n_docs: int,
    avgdl: float,
    block_size: int,
    store_positions: bool = False,
) -> DataFrame:
    """Aggregate ``salted`` (term_id, salt, doc_id, tf, dl, df rows) into
    ONE list-typed row per (term_id, salt) group (collect_list — map-side
    combinable, group size bounded by the salt budget), ship the groups to
    Python over mapInArrow, and encode each batch's posting blocks in one
    vectorized pass.

    Why groups, not rows: Arrow's per-ROW crossing cost was the dominant,
    WORST-SCALING term of the whole build (BENCH.md stage C: ~20 s of a
    45 s stage at local[16]; ~flat in cores). Shipping one list row per
    group drops the rows crossing Arrow from |postings| to |groups|
    (~10^4x), the list payload flattens zero-copy to numpy on the Python
    side, and the JVM post-shuffle sort disappears — a single in-worker
    lexsort over (group, doc_id) replaces it. Measured on the 2.81M-doc
    corpus part 0: 38.3 s -> 19.6 s best-clean at local[4]; at or below
    baseline at local[16] (storm-bounded); output blocks bit-identical
    (xxhash64 checksum over all 269k blocks).

    ``n_partitions`` is write_part's encode_partitions for the part: the
    pre-agg repartition on the grouping keys (the agg reuses it, no
    second exchange). The count decides which task encodes a group, never
    the group: salting bounds each (term_id, salt) group by the salt
    budget whatever the count, and the blocks are bit-identical across
    counts (tests/test_encode_sizing.py).
    A task's aggregation buffers hold its groups' postings as JVM lists:
    a one-task part holds about ENCODE_POSTINGS_PER_TASK postings (times
    the estimate's error); above it, size shuffle.partitions so a
    partition's groups fit executor memory. Output rows are term_id-keyed
    blocks; _attach_terms restores the string + bucket."""
    id_type = dict(salted.dtypes)["term_id"]  # bigint | string (fallback)
    out_schema = T.StructType(
        [T.StructField("term_id", T.LongType() if id_type == "bigint"
                       else T.StringType(), False)]
        + [f for f in schemas.postings_schema(store_positions).fields
           if f.name not in ("term", "bucket")]
    )
    ps_fields = ["doc_id", "tf", "dl"] + (["pos"] if store_positions else [])
    grouped = (
        salted.repartition(n_partitions, "term_id", "salt")
        .groupBy("term_id", "salt")
        .agg(
            F.first("df").alias("df"),
            F.collect_list(F.struct(*ps_fields)).alias("ps"),
        )
    )

    def arrow_encode(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ps = rb.column("ps")
            if isinstance(ps, pa.ChunkedArray):
                ps = ps.combine_chunks()
            # list_value_length + flatten are slice-correct (raw .offsets
            # are NOT when Spark hands a sliced batch)
            counts = pc.list_value_length(ps).to_numpy().astype(np.int64)
            flat = ps.flatten()
            doc = flat.field("doc_id").to_numpy()
            gi = np.repeat(np.arange(rb.num_rows, dtype=np.int64), counts)
            order = np.lexsort((doc, gi))
            pdf = pd.DataFrame(
                {
                    "term_id": np.repeat(
                        rb.column("term_id").to_numpy(zero_copy_only=False),
                        counts,
                    )[order],
                    "salt": np.repeat(
                        rb.column("salt").to_numpy(), counts
                    )[order],
                    "doc_id": doc[order],
                    "tf": flat.field("tf").to_numpy()[order],
                    "dl": flat.field("dl").to_numpy()[order],
                    "df": np.repeat(
                        rb.column("df").to_numpy(), counts
                    )[order],
                }
            )
            if store_positions:
                # gather the per-row position lists into ONE flat array
                # in the sorted row order — all vectorized (no per-row
                # Python objects cross into the encoder)
                pos_arr = flat.field("pos")
                if isinstance(pos_arr, pa.ChunkedArray):
                    pos_arr = pos_arr.combine_chunks()
                plens = pc.list_value_length(pos_arr).to_numpy().astype(
                    np.int64
                )
                pvals = pos_arr.flatten().to_numpy().astype(np.int64)
                poffs = np.zeros(plens.size + 1, dtype=np.int64)
                np.cumsum(plens, out=poffs[1:])
                lens_o = plens[order]
                starts_o = poffs[:-1][order]
                out_total = int(lens_o.sum())
                out_starts = np.zeros(lens_o.size, dtype=np.int64)
                np.cumsum(lens_o[:-1], out=out_starts[1:])
                idx = (
                    np.arange(out_total, dtype=np.int64)
                    - np.repeat(out_starts, lens_o)
                    + np.repeat(starts_o, lens_o)
                )
                pos_flat = pvals[idx]
            else:
                pos_flat = None
            out = _encode_part(pdf, pos_flat, n_docs, avgdl, block_size,
                               store_positions)
            # mapInArrow requires exact Arrow types (no pandas coercion):
            # block_id is int32 in the POSTINGS schema
            out["block_id"] = out["block_id"].astype("int32")
            yield pa.RecordBatch.from_pandas(out, preserve_index=False)

    return grouped.mapInArrow(arrow_encode, schema=out_schema)


def _attach_terms(
    encoded: DataFrame,
    term_stats: DataFrame,
    n_buckets: int,
    hash_ids: bool,
    store_positions: bool = False,
) -> DataFrame:
    """Restore (term, bucket) on the encoded BLOCK rows (~n/block_size of
    the posting rows) via a broadcast dictionary join, then re-sort each
    partition by (bucket, term, block_id): the dynamic-partition write
    requires a bucket sort anyway, and doing it explicitly keeps parquet
    row groups clustered by term so the query path's term-IN and
    doc_id-range row-group pruning stays sharp."""
    dict_df = term_stats.select(
        _term_id_col(hash_ids).alias("term_id"), "term"
    )
    return (
        encoded.join(F.broadcast(dict_df), "term_id")
        .withColumn("bucket", F.pmod(F.hash("term"), F.lit(n_buckets)))
        .select(
            *[f.name
              for f in schemas.postings_schema(store_positions).fields]
        )
        .sortWithinPartitions("bucket", "term", "block_id")
    )


def check_hash_ids(term_stats: DataFrame) -> bool:
    """True iff xxhash64 is injective over this build's dictionary (one
    small agg over n_terms rows). A collision would silently merge two
    terms' posting groups, so the slim Arrow path is only taken when the
    check proves it safe; otherwise term strings ride through (correct,
    just wider)."""
    row = term_stats.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.xxhash64("term")).alias("h"),
    ).collect()[0]
    return int(row["n"]) == int(row["h"])


def staging_rows(
    analyzed: DataFrame, part_id: F.Column, store_positions: bool
) -> DataFrame:
    """Analyzed docs (doc_id, dl, terms) -> staging rows: one (term,
    doc_id, dl, tf[, pos], part_id) row per distinct term of a doc. The
    one staging shape of build_index stage A and incremental_update.
    Positions are 0-based token indexes in the analyzed lemma array (the
    coordinate space phrase_count_col checks), one SORTED array per (doc,
    term) — collect_list order is not guaranteed across the partial agg,
    sort_array pins it."""
    if store_positions:
        term_col = F.posexplode("terms").alias("pos", "term")
        aggs = [F.count("*").alias("tf"),
                F.sort_array(F.collect_list("pos")).alias("pos")]
    else:
        term_col = F.explode("terms").alias("term")
        aggs = [F.count("*").alias("tf")]
    return (
        analyzed.select("doc_id", "dl", term_col)
        # dl functionally dep. on doc_id
        .groupBy("term", "doc_id", "dl")
        .agg(*aggs)
        .withColumn("part_id", part_id)
    )


def _part_metrics() -> list[F.Column]:
    """The lineage aggregates of a part's manifest row, over its posting
    blocks: observed on the part write (no second pass), aggregated from
    the written postings by recovery."""
    return [
        F.sum("n").alias("postings_written"),
        # observed metrics forbid DISTINCT aggregates; HLL approximation
        # is fine for lineage metadata
        F.approx_count_distinct("term").alias("terms_merged"),
        F.sum(
            F.length("doc_ids") + F.length("tfs") + F.length("dls")
        ).alias("bytes_compressed"),
        F.count(F.lit(1)).alias("blocks"),
    ]


def done_row(p: int, started_ts: float, **fields) -> dict:
    """A DONE manifest row finishing now: a part's (checkpoint + lineage),
    a deletes-only commit marker's, or a stage's (``p`` = -1)."""
    return {"partition_id": p, "status": "DONE", "started_ts": started_ts,
            "finished_ts": time.time(), **fields}


def write_part(spark: SparkSession, raw_p: DataFrame, term_stats: DataFrame,
               p: int, part_lo: int, part_size: int, part_dir: str, *,
               n_docs: int, avgdl: float, stats_epoch: int | None,
               hash_ids: bool, layout: PartLayout) -> dict:
    """Encode one part — the staging slice ``raw_p`` of doc_ids
    [part_lo, part_lo + part_size) — into posting blocks under
    ``part_dir`` and return its manifest row. The one part writer of
    build_index, incremental_update and compact_index; the caller writes
    the row when its commit protocol says to. ``hash_ids`` is the
    caller's check_hash_ids over ``term_stats`` (one check per call, not
    one job per part).

    The one place the encode's partition count is chosen:
    encode_partitions(part_size, avgdl, shuffle.partitions). Each
    mapInArrow task pays a fixed Python-worker cost and writes its own
    file into every bucket dir, so a part estimated at no more than
    ENCODE_POSTINGS_PER_TASK postings (an upsert's batch, a small build)
    encodes in one task and one file per bucket. A larger part keeps 3x
    shuffle.partitions: the encode is the longest stage of the build,
    and one partition per core would leave its tail on a few cores when
    the (term_id, salt) hash deals uneven partitions."""
    t0 = time.time()
    pos = layout.store_positions
    salted = prepare_salted(raw_p, term_stats, part_lo, part_size,
                            layout.salt_budget, hash_ids, store_positions=pos)
    n_enc = encode_partitions(
        part_size, avgdl,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    encoded = _attach_terms(
        encode_salted(salted, n_enc, n_docs, avgdl, layout.block_size,
                      store_positions=pos),
        term_stats, layout.n_buckets, hash_ids, store_positions=pos,
    )
    # one Observation per write (name unique across concurrent parts)
    obs = Observation(f"part_{p}_{time.time_ns()}")
    encoded.observe(obs, *_part_metrics()).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(part_dir)
    return done_row(p, t0, **{k: int(v or 0) for k, v in obs.get.items()},
                    index_version=layout.index_version,
                    stats_epoch=stats_epoch)


def run_parts(fn, parts, concurrency: int) -> list:
    """``fn`` over every part, ``concurrency`` parts at a time; results in
    part order. Parts are independent jobs (own output dir), so the
    scheduler interleaves their stages across the worker pool."""
    if concurrency > 1 and len(parts) > 1:
        with ThreadPoolExecutor(max_workers=concurrency) as ex:
            return list(ex.map(fn, parts))
    return [fn(p) for p in parts]


STATS_TABLES = ("term_stats", "corpus_stats")


def _write_stats_new(
    out_dir: str,
    raw_live: DataFrame,
    dls_live: DataFrame,
    id_space: int,
    version: str,
    n_buckets: int,
    stats_epoch: int | None,
) -> tuple[int, float]:
    """The one stats writer (build stage A, upserts, recovery and
    deletes-only commits): the LIVE term_stats (df, cf over the
    ``raw_live`` staging rows) to ``term_stats_new/`` and the corpus row
    (over the ``dls_live`` doc lengths) to ``corpus_stats_new/``;
    _swap_stats publishes both. Returns (n_docs, avgdl) as the encoder
    scores with them, read back on the driver (no job). avgdl is an
    integer sum over a count, so any union order of the same lengths
    gives the same double."""
    # each file sorted by term (no extra job or shuffle): the driver-side
    # dictionary lookup prunes row groups
    raw_live.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    ).sortWithinPartitions("term").write.mode("overwrite").parquet(
        f"{out_dir}/term_stats_new"
    )
    corpus_new = f"{out_dir}/corpus_stats_new"
    dls_live.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.max("dl").cast("double").alias("max_tf_sum"),
        F.lit(version).alias("index_version"),
        F.lit(n_buckets).alias("n_buckets"),
        F.lit(stats_epoch).cast("long").alias("stats_epoch"),
        F.lit(id_space).cast("long").alias("id_space"),
    ).write.mode("overwrite").parquet(corpus_new)
    r = schemas.read_row(corpus_new)
    return int(r["n_docs"]), float(r["avgdl"]) if r["avgdl"] else 1.0


def swap_dir(new: str, live: str, old: str) -> None:
    """Publish the table written to ``new`` as ``live`` by rename swap
    (one Iceberg snapshot commit on clusters). Spark's mode("overwrite")
    would DELETE the live table before its write job runs — a crash in
    that window loses it outright (for the stats: bricking every
    subsequent operation at entry). The rename gap is instantaneous and
    leaves ``old`` on disk for manual restore."""
    shutil.rmtree(old, ignore_errors=True)
    if Path(live).exists():
        Path(live).rename(old)
    Path(new).rename(live)
    shutil.rmtree(old, ignore_errors=True)


def _swap_stats(out_dir: str) -> None:
    """Publish _write_stats_new's tables."""
    for table in STATS_TABLES:
        tgt = f"{out_dir}/{table}"
        swap_dir(f"{tgt}_new", tgt, f"{tgt}_old")


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    *,
    n_buckets: int | None = None,
    block_size: int = BLOCK_SIZE,
    salt_budget: int = SALT_BUDGET,
    n_parts: int = 4,
    index_version: str = "v1",
    resume: bool = True,
    part_concurrency: int = 2,  # concurrent part jobs (Spark schedules both)
    store_positions: bool = False,
) -> IndexBuildResult:
    """Full index build with per-part checkpoint/resume. Stage A (doc
    ids, documents, staging, stats) commits with the stage_docs manifest
    row before any part is encoded; each part then commits with its own
    row. A resume over a committed stage A builds only the parts without
    a DONE row; a resume over an uncommitted one starts over, exactly as
    ``resume=False`` does.

    ``n_buckets`` defaults to 16 for fresh builds; a RESUMED build adopts
    the value persisted in corpus_stats (remaining parts must land in the
    same bucket->directory mapping as the committed ones) and refuses an
    explicit caller mismatch.

    ``block_size``, ``salt_budget`` and ``store_positions`` are the part
    layout: recorded in the stage_docs manifest row, read back by every
    later part write (read_layout), so they hold for the index's whole
    life; a resume refuses a caller value that differs from the recorded
    one.

    ``store_positions=True`` widens the index with per-posting token
    positions (staging carries a sorted pos array per (doc, term);
    postings gain a delta-varbyte ``positions`` stream per block — see
    schemas.postings_schema), enabling phrase queries evaluated entirely
    from the index (SearchEngine.search_phrase picks the positions path
    automatically). The documented trade is index size (measured in
    BENCH.md); maintenance carries the layout through — incremental_update
    and compact_index re-encode their parts WITH the positions stream, so
    every part stays phrase-readable (resume still refuses a
    store_positions mismatch: the flag is a build-wide layout choice)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    docs_path = str(out / "documents")
    staging_path = str(out / "_staging_postings_raw")
    stats_path = str(out / "term_stats")
    corpus_path = str(out / "corpus_stats")
    postings_path = str(out / "postings")

    manifest = _read_manifest(out_dir) if resume else {}
    if manifest.get("stage_docs", {}).get("status") != "DONE":
        # no committed stage A (a fresh build, resume=False, or a build
        # killed before its stage-A commit): start over. No part may
        # outlive the stage A it was encoded under, and a smaller rebuild
        # would otherwise leave stale part dirs that the postings reader
        # silently unions in
        for p in _manifest_path(out_dir).glob("*.json"):
            p.unlink()
        shutil.rmtree(postings_path, ignore_errors=True)
        manifest = {}
    else:
        # same contract as incremental_update: resuming (or no-op'ing over)
        # an index stamped with a DIFFERENT analyzer would leave postings
        # that tokenize differently than the queries analyzed against them
        # — silently wrong results, so refuse loudly
        built_with = manifest["stage_docs"].get("analyzer_version", "a1")
        if built_with != ANALYZER_VERSION:
            raise ValueError(
                f"index at {out_dir} was built with analyzer {built_with}, "
                f"current analyzer is {ANALYZER_VERSION}: resume would "
                "serve queries analyzed differently than the committed "
                "postings — rebuild with build_index(resume=False)"
            )
        # the part layout is fixed for the index's life; an index built
        # before block_size / salt_budget were recorded is not checked on
        # them (their values are unknown)
        recorded = {"store_positions": False, **manifest["stage_docs"]}
        for key, want in (("store_positions", store_positions),
                          ("block_size", block_size),
                          ("salt_budget", salt_budget)):
            if recorded.get(key, want) != want:
                raise ValueError(
                    f"index at {out_dir} was built with {key}="
                    f"{recorded[key]}, caller requested {want}: resumed "
                    "parts would be encoded differently than the "
                    "committed ones — rebuild with build_index(resume=False)"
                )

    n_buckets = resolve_n_buckets(
        schemas.read_row(corpus_path) if manifest else {}, n_buckets, out_dir
    )
    layout = PartLayout(n_buckets, block_size, salt_budget,
                        store_positions, index_version)

    # ---------------- Stage A: documents, staging, stats, commit -----------
    # One materializing pass (shuffle+sort -> cache of the RAW text, counted
    # by the same job that fills the doc_id offsets), then the documents
    # write runs on a helper thread while the main thread writes staging
    # (analyzer -> explode -> tf agg -> parquet partitioned by part_id, the
    # ONLY pass over the exploded postings). The analyzer is the Catalyst
    # terms_col expression, recomputed per chain: cheaper than caching
    # exploded string arrays, and the whole stage stays JVM codegen. The
    # exploded rows are deliberately NOT cached: at scale that cache is
    # corpus-sized, and the staging parquet IS the materialization every
    # consumer (stats, part encodes, upserts, compaction) reads a pruned
    # slice of. With both written, the one stats writer reads staging and
    # the documents' dl column, its tables are swapped in, and the
    # stage_docs row commits stage A.
    if not manifest:
        t0 = time.time()
        with_ids, cached, n_docs = assign_doc_ids(
            clean_transcripts(transcripts), spark
        )
        _plog("shuffle+count (materialize cache)", t0)
        part_size = max(1, math.ceil(n_docs / n_parts))
        documents = with_ids.withColumn(
            "dl", F.size(terms_col(F.col("text")))
        ).select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "text", "dl"
        )
        staging = staging_rows(
            with_ids.select(
                "doc_id", terms_col(F.col("text")).alias("terms")
            ).withColumn("dl", F.size("terms")),
            (F.col("doc_id") / F.lit(part_size)).cast("int"),
            store_positions,
        )

        def _write_documents() -> None:
            tw = time.time()
            documents.write.mode("overwrite").parquet(docs_path)
            _plog("documents write", tw)

        pool = ThreadPoolExecutor(max_workers=1)
        try:
            docs_write = pool.submit(_write_documents)
            tw = time.time()
            staging.write.mode("overwrite").partitionBy("part_id").parquet(
                staging_path
            )
            _plog("staging write (tf agg + explode)", tw)
            docs_write.result()
            tw = time.time()
            # fresh build: ids are dense 0..n_docs-1 and nothing is
            # deleted, so the id space IS the doc count
            _write_stats_new(
                out_dir, schemas.read_table(spark, staging_path,
                                            schemas.STAGING),
                schemas.read_table(spark, docs_path,
                                   schemas.DOCUMENTS).select("dl"),
                n_docs, index_version, n_buckets, int(t0 * 1e6),
            )
            _swap_stats(out_dir)
            _plog("stats write", tw)
            stage = done_row(
                -1, t0, index_version=index_version,
                # new documents must tokenize exactly like the postings
                # they join against — incremental_update refuses an
                # index stamped with a different analyzer version
                analyzer_version=ANALYZER_VERSION,
                store_positions=store_positions,
                block_size=block_size,
                salt_budget=salt_budget,
                n_docs=n_docs,
                part_size=part_size,
            )
            _write_manifest_row(out_dir, "stage_docs", stage)
        except BaseException as exc:
            # a failure waits for the in-flight documents write; an
            # interrupt (Ctrl-C) does not block on it
            pool.shutdown(wait=isinstance(exc, Exception))
            raise
        finally:
            pool.shutdown(wait=False)
            cached.unpersist()
    else:
        stage = manifest["stage_docs"]

    # ---------------- Stage C: per-part posting encode ---------------------
    # Fresh and resume take the SAME path: every scalar comes from the
    # committed stage A (the writer's corpus row, the stage_docs row), and
    # each part reads its partition-pruned slice of the staging parquet
    # and broadcast-joins the term dictionary.
    n_docs, part_size = int(stage["n_docs"]), int(stage["part_size"])
    corpus = schemas.read_row(corpus_path)
    avgdl = float(corpus["avgdl"]) if corpus["avgdl"] else 1.0
    stats_epoch = corpus.get("stats_epoch")
    term_stats = schemas.read_table(spark, stats_path, schemas.TERM_STATS)
    # a corpus whose every document analyzed to zero terms writes no
    # staging part files — the declared-schema read sees no rows and the
    # parts encode empty. A MISSING staging dir on a resume (lost/partial
    # copy) still raises PATH_NOT_FOUND here: it must never commit every
    # part DONE with zero postings over a populated documents table.
    staging_df = schemas.read_table(
        spark, staging_path, schemas.staging_schema(store_positions)
    )
    actual_parts = math.ceil(n_docs / part_size) if n_docs else 0
    todo = [
        p for p in range(actual_parts)
        if manifest.get(f"part_{p:05d}", {}).get("status") != "DONE"
    ]
    hash_ids = check_hash_ids(term_stats) if todo else True

    def _build_part(p: int) -> None:
        tpart = time.time()
        row = write_part(
            spark, staging_df.filter(F.col("part_id") == p), term_stats,
            p, p * part_size, part_size, f"{postings_path}/part_id={p}",
            n_docs=n_docs, avgdl=avgdl, stats_epoch=stats_epoch,
            hash_ids=hash_ids, layout=layout,
        )
        _plog(f"part {p} encode+write", tpart)
        _write_manifest_row(out_dir, f"part_{p:05d}", row)

    run_parts(_build_part, todo, part_concurrency)

    manifest = _read_manifest(out_dir)
    # every part committed: publish the build as a snapshot (idempotent —
    # a resumed no-op build returns the existing HEAD unchanged)
    from .snapshots import commit_snapshot

    commit_snapshot(
        spark, out_dir, "build", stats_epoch=stats_epoch, n_docs=n_docs
    )
    return IndexBuildResult(
        out_dir=out_dir,
        n_docs=n_docs,
        avgdl=avgdl,
        max_tf_sum=float(corpus["max_tf_sum"] or 0.0),
        # a footer-only row count: no Spark job
        n_terms=schemas.arrow_dataset(
            stats_path, schemas.TERM_STATS, ("term",)
        ).count_rows(),
        postings_blocks=sum(
            int(r.get("blocks", 0))
            for n, r in manifest.items() if n.startswith("part_")
        ),
        parts_built=len(todo),
        parts_skipped=actual_parts - len(todo),
        index_version=index_version,
    )

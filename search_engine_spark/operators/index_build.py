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
    -> term_stats (df, cf), corpus_stats
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
- postings are hash-bucketed by term (`bucket` partition column) so query
  lookups prune to matching directories.
"""

from __future__ import annotations

import json
import math
import os
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


def _manifest_part_epoch(manifest: dict) -> int | None:
    """The single stats_epoch shared by EVERY DONE part row, else None.
    Used by resume paths to keep rewritten (bit-identical) stats on the
    same epoch as surviving parts — see build_index."""
    eps = {
        r.get("stats_epoch")
        for name, r in manifest.items()
        if name.startswith("part_")
    }
    eps.discard(None)
    if len(eps) == 1:
        return int(next(iter(eps)))
    return None


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


def _make_part_encoder(
    n_docs: int, avgdl: float, block_size: int,
    store_positions: bool = False,
):
    """Batch-level posting encoder. Input frames hold (term_id, salt)-
    CONTIGUOUS runs sorted by doc_id within each run (encode_salted's
    arrow_encode builds them from collect_list groups with one lexsort);
    ONE numpy pass per frame encodes every block of every group in it —
    the delta pass, both varbyte width/scatter passes, and the reduceat
    block maxima all amortize across thousands of groups at once.

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

    def encode(batches):
        # store_positions batches arrive as (pdf, pos_flat) tuples: the
        # positions ride as ONE flat int64 array aligned with the frame's
        # rows via tf (row i owns the next tf[i] values) — never as a
        # per-row object column (1M tiny array objects would dominate
        # the stage)
        chunks = []
        pos_chunks = []
        for c in batches:
            if isinstance(c, tuple):
                c, pflat = c
                if len(c):
                    pos_chunks.append(np.asarray(pflat, dtype=np.int64))
            if len(c):
                chunks.append(c)
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        pos_flat = (
            np.concatenate(pos_chunks)
            if len(pos_chunks) > 1
            else (pos_chunks[0] if pos_chunks else None)
        )
        if store_positions and pos_flat is None:
            raise ValueError(
                "store_positions encoder got a frame without positions"
            )
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
        yield pd.DataFrame(out)

    return encode


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
    encode = _make_part_encoder(n_docs, avgdl, block_size, store_positions)

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
                batch_in = (pdf, pvals[idx])
            else:
                batch_in = pdf
            for out in encode(iter([batch_in])):
                # mapInArrow requires exact Arrow types (no pandas
                # coercion): block_id is int32 in the POSTINGS schema
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
    fail_after_parts: int | None = None,  # test hook: simulate a killed job
    part_concurrency: int = 2,  # concurrent part jobs (Spark schedules both)
    store_positions: bool = False,
) -> IndexBuildResult:
    """Full index build with per-part checkpoint/resume. ``n_buckets``
    defaults to 16 for fresh builds; a RESUMED build adopts the value
    persisted in corpus_stats (remaining parts must land in the same
    bucket->directory mapping as the committed ones) and refuses an
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
    manifest = _read_manifest(out_dir) if resume else {}
    if not resume and _manifest_path(out_dir).exists():
        for p in _manifest_path(out_dir).glob("*.json"):
            p.unlink()
        manifest = {}
    if manifest.get("stage_docs", {}).get("status") == "DONE":
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

    docs_path = str(out / "documents")
    staging_path = str(out / "_staging_postings_raw")
    stats_path = str(out / "term_stats")
    corpus_path = str(out / "corpus_stats")
    postings_path = str(out / "postings")

    if not resume:
        # per-part postings writes only overwrite their own part_id dir; a
        # smaller rebuild would otherwise leave stale part dirs that the
        # postings reader silently unions in
        import shutil as _shutil

        _shutil.rmtree(postings_path, ignore_errors=True)
    n_buckets = resolve_n_buckets(
        schemas.read_row(corpus_path)
        if manifest.get("stage_docs", {}).get("status") == "DONE"
        and Path(corpus_path).exists()
        else {},
        n_buckets, out_dir,
    )
    layout = PartLayout(n_buckets, block_size, salt_budget,
                        store_positions, index_version)

    # ---------------- Stage A+B: documents, staging, stats ------------------
    # One materializing pass (shuffle+sort -> cache of the RAW text, counted
    # by the same job that fills the doc_id offsets), then TWO independent
    # write chains run concurrently off the cache:
    #   thread 1: documents write (corpus_stats piggy-backs as an
    #             Observation on the same action — no second docs pass)
    #   main:     staging write (analyzer -> explode -> tf agg -> parquet,
    #             partitioned by part_id) — the ONLY pass over the exploded
    #             postings; avgdl/max_dl ride it as an Observation
    #   thread 2: term_stats from the staging parquet (column-pruned read
    #             of (term, tf) — overlaps the part encodes)
    # The exploded rows are deliberately NOT persisted in executor memory:
    # at scale that cache is corpus-sized (O(total tokens)), and filling it
    # costs allocation/GC bandwidth on every task thread — the staging
    # parquet IS the materialization, and every downstream consumer
    # (term_stats, part encodes, incremental merge, compaction) reads the
    # partition-pruned, column-pruned slice it needs. This also makes the
    # fresh and resume paths take the SAME stage-C code path.
    # The analyzer is the Catalyst terms_col expression — the whole stage
    # is JVM-side whole-stage codegen; no Python worker, no Arrow transfer.
    # (terms are computed independently per chain: recomputing the codegen
    # expression is cheaper than caching exploded string arrays.)
    # Serial driver work per build: the range-sample pass, ONE counts
    # collect, and the commit — everything else overlaps or is parallel.
    if manifest.get("stage_docs", {}).get("status") != "DONE":
        t0 = time.time()
        # one epoch per stats write; parts stamp it into their manifest
        # rows so the query engine can prove block_max_score freshness.
        # A resume that redoes stage A REUSES the epoch any surviving
        # DONE parts carry: stage A is deterministic over the same input
        # (the documented resume contract), so the rewritten stats are
        # bit-identical to what those parts were encoded under — minting
        # a fresh epoch here would leave them mixed-epoch and silently
        # disable stored-block-max pruning until a compaction. The
        # contract is not TRUSTED though: a resume fed different input
        # would otherwise re-validate stale stored block_max_score bounds
        # and _single_term_topk could silently drop true top-k hits — so
        # reuse is gated on a determinism witness (n_docs now; avgdl /
        # max_tf_sum once the staging Observation lands, below) against
        # the persisted corpus_stats, and any mismatch mints a fresh
        # epoch (stored-bound pruning then stays off until a compaction
        # re-encodes — sound, merely slower).
        reuse_epoch = _manifest_part_epoch(manifest)
        clean = clean_transcripts(transcripts)
        with_ids, cached, n_docs = assign_doc_ids(clean, spark)
        _plog("shuffle+count (materialize cache)", t0)
        prev_corpus: dict | None = None
        if reuse_epoch is not None:
            try:
                if Path(corpus_path).exists():
                    prev_corpus = schemas.read_row(corpus_path)
            except Exception:  # noqa: BLE001 — torn previous write
                prev_corpus = None
            if (
                prev_corpus is None
                or int(prev_corpus.get("n_docs") or -1) != int(n_docs)
            ):
                reuse_epoch = None
        stats_epoch = reuse_epoch or int(t0 * 1e6)
        part_size = max(1, math.ceil(n_docs / n_parts))

        corpus_ob = Observation(f"corpus_{int(t0)}")
        documents = with_ids.withColumn(
            "dl", F.size(terms_col(F.col("text")))
        ).select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "text", "dl"
        ).observe(
            corpus_ob,
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            F.max("dl").cast("double").alias("max_tf_sum"),
        )

        terms_df = with_ids.select(
            "doc_id", terms_col(F.col("text")).alias("terms")
        ).withColumn("dl", F.size("terms"))
        exploded = staging_rows(
            terms_df, (F.col("doc_id") / F.lit(part_size)).cast("int"),
            store_positions,
        )
        stats_ob = Observation(f"stats_{int(t0)}")
        fill_ob = Observation(f"fill_{int(t0)}")

        def _write_docs_corpus() -> None:
            tw = time.time()
            documents.write.mode("overwrite").parquet(docs_path)
            _plog("documents write", tw)
            m = corpus_ob.get
            corpus_pdf = pd.DataFrame(
                [
                    {
                        "n_docs": int(m["n_docs"] or 0),
                        "avgdl": float(m["avgdl"]) if m["avgdl"] else None,
                        "max_tf_sum": float(m["max_tf_sum"] or 0.0),
                        "index_version": index_version,
                        # the bucket->directory mapping is part of the
                        # index's physical layout: persist it so readers
                        # never guess a different n_buckets
                        "n_buckets": int(n_buckets),
                        "stats_epoch": stats_epoch,
                        # fresh build: ids are dense 0..n_docs-1, no
                        # deletes yet, so the id space IS the doc count
                        "id_space": int(m["n_docs"] or 0),
                    }
                ]
            )
            local_frame(
                spark, corpus_pdf, schemas.CORPUS_STATS
            ).write.mode("overwrite").parquet(corpus_path)

        def _write_stats() -> None:
            # term_stats from the staging parquet: a column-pruned read of
            # (term, tf) only — runs concurrently with the part encodes.
            # An all-empty corpus writes no staging part files, which the
            # declared-schema read sees as no rows: an empty dictionary.
            tw = time.time()
            # each file sorted by term (no extra job or shuffle): the
            # driver-side dictionary lookup then prunes row groups
            schemas.read_table(spark, staging_path, schemas.STAGING).groupBy(
                "term"
            ).agg(F.count("*").alias("df"), F.sum("tf").alias("cf")).observe(
                stats_ob, F.count(F.lit(1)).alias("n_terms")
            ).sortWithinPartitions("term").write.mode("overwrite").parquet(
                stats_path
            )
            _plog("term_stats write (from staging)", tw)

        ex = ThreadPoolExecutor(max_workers=3)
        try:
            f_docs = ex.submit(_write_docs_corpus)
            # THE materializing pass over the postings rows: analyzer ->
            # explode -> tf agg -> partitioned parquet, with the encode-side
            # corpus scalars riding as an Observation (sum(tf) over posting
            # rows == sum(dl) over documents, exactly — integer sums).
            tw = time.time()
            exploded.observe(
                fill_ob,
                F.sum("tf").alias("tok_sum"),
                F.max("dl").alias("max_dl"),
            ).write.mode("overwrite").partitionBy("part_id").parquet(
                staging_path
            )
            _plog("staging write (tf agg + explode)", tw)
            fm = fill_ob.get
            # epoch-witness tier 2: n_docs matched pre-launch, but the
            # redone stage A's token mass must too (sum(tf) over postings
            # == sum(dl) over docs exactly; max_dl == max_tf_sum). A
            # mismatch proves the resume input differs from what the
            # surviving DONE parts were encoded under: mint a fresh
            # epoch and rewrite the just-written corpus row (the docs
            # thread captured the reused epoch), so the stored
            # block_max_score bounds stay provably invalid.
            if reuse_epoch is not None and prev_corpus is not None:
                new_avgdl = (
                    float(fm["tok_sum"]) / float(n_docs)
                    if fm["tok_sum"]
                    else None
                )
                old_avgdl = prev_corpus.get("avgdl")
                if (
                    (old_avgdl is None) != (new_avgdl is None)
                    or (
                        new_avgdl is not None
                        and float(old_avgdl) != new_avgdl
                    )
                    or float(prev_corpus.get("max_tf_sum") or 0.0)
                    != float(fm["max_dl"] or 0.0)
                ):
                    stats_epoch = int(time.time() * 1e6)
                    f_docs.result()  # corpus row written with stale epoch
                    row = schemas.read_row(corpus_path)
                    row["stats_epoch"] = stats_epoch
                    local_frame(
                        spark,
                        [tuple(map(row.get, schemas.CORPUS_STATS.names))],
                        schemas.CORPUS_STATS,
                    ).write.mode("overwrite").parquet(corpus_path)
            f_stats = ex.submit(_write_stats)
        except BaseException:
            # a failed staging/docs job must not leak the pinned cache or
            # the in-flight executor
            ex.shutdown(wait=True)
            cached.unpersist()
            raise

        def _finalize_stage_a() -> None:
            # stage rows are the stage-A commit markers: written only after
            # EVERY stage-A artifact (docs, corpus, stats, staging) is
            # durable (staging landed on the main thread before stage C).
            # Part rows may land earlier — safe, because doc_ids
            # are deterministic: a resume that redoes stage A regenerates
            # identical ids, so already-DONE parts stay valid.
            try:
                f_stats.result()
                f_docs.result()
            finally:
                ex.shutdown(wait=True)
            _write_manifest_row(out_dir, "stage_docs", done_row(
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
            ))
            _write_manifest_row(out_dir, "stage_stats", done_row(
                -1, t0, index_version=index_version,
                n_terms=int(stats_ob.get["n_terms"] or 0),
            ))

        # encode-side scalars from the staging Observation — bit-identical
        # to the corpus_stats the docs write persists: sum(tf) over posting
        # rows equals sum(dl) over documents exactly (integer-valued double
        # sums are exact below 2^53), and zero-dl docs (absent from
        # staging) cannot carry the max. Block-skip correctness
        # (score <= block_max_score) relies on this identity.
        fresh = {
            "cached": cached,
            "stats_future": f_stats,
            "finalize": _finalize_stage_a,
            "stats_epoch": stats_epoch,
            "pool": ex,
            "avgdl": (
                float(fm["tok_sum"]) / float(n_docs)
                if fm["tok_sum"]
                else 1.0
            ),
            "max_tf_sum": float(fm["max_dl"] or 0.0),
        }
    else:
        fresh = None
        n_docs = int(manifest["stage_docs"]["n_docs"])
        part_size = int(manifest["stage_docs"]["part_size"])

    # Resume fallback (stage_docs DONE, stats missing — a crash between
    # _finalize_stage_a's two row writes): recompute the stats from the
    # durable staging/documents tables through the one stats writer
    if fresh is None and manifest.get("stage_stats", {}).get("status") != "DONE":
        from .incremental import _recompute_stats  # imports this module

        t0 = time.time()
        # the recompute is deterministic over the durable tables, so the
        # rewritten stats stay on the surviving parts' epoch (a fresh
        # epoch would silently disable stored-block-max pruning on a
        # fully consistent index)
        _recompute_stats(
            spark, out_dir, index_version, n_buckets,
            stats_epoch=_manifest_part_epoch(manifest) or int(t0 * 1e6),
        )
        _write_manifest_row(out_dir, "stage_stats", done_row(
            -1, t0, index_version=index_version,
            n_terms=schemas.read_table(
                spark, stats_path, schemas.TERM_STATS
            ).count(),
        ))
        manifest = _read_manifest(out_dir)

    if fresh is not None:
        avgdl = fresh["avgdl"]
        max_tf_sum = fresh["max_tf_sum"]
        stats_epoch = fresh["stats_epoch"]
    else:
        corpus_row = schemas.read_row(corpus_path)
        avgdl = float(corpus_row["avgdl"]) if corpus_row["avgdl"] else 1.0
        max_tf_sum = float(corpus_row["max_tf_sum"] or 0.0)
        _ep = corpus_row.get("stats_epoch")
        stats_epoch = int(_ep) if _ep is not None else None

    # ---------------- Stage C: per-part posting encode ---------------------
    # Fresh and resume take the SAME path: each part reads its
    # partition-pruned slice of the staging parquet and broadcast-joins the
    # term dictionary. The stats job runs concurrently with the staging
    # write's tail; wait for its parquet before resolving the read below.
    def _stage_a_cleanup(block: bool = True) -> None:
        # join the overlapped stats/docs writes, shut the pool down, and
        # release the pinned corpus cache — MUST run on every exit path
        # once `fresh` exists, or a failure pins the cache for the session.
        # On KeyboardInterrupt/SystemExit (block=False) skip the blocking
        # finalize — re-waiting minutes on in-flight futures defeats the
        # interrupt; stage rows stay uncommitted and resume redoes stage A.
        if fresh is None:
            return
        if not block:
            fresh["pool"].shutdown(wait=False)
            fresh["cached"].unpersist()
            return
        try:
            fresh["finalize"]()
        finally:
            fresh["cached"].unpersist()

    # ONE guard covers everything from the stats join through the part
    # loop: any statement added inside it stays covered (the previous
    # three separate guards left gaps to grow between them)
    try:
        if fresh is not None:
            fresh["stats_future"].result()
        term_stats = schemas.read_table(spark, stats_path, schemas.TERM_STATS)
        # a corpus whose every document analyzed to zero terms writes no
        # staging part files — the declared-schema read sees no rows and
        # the parts encode empty. A MISSING staging dir on a resume
        # (lost/partial copy) still raises PATH_NOT_FOUND here: it must
        # never commit every part DONE with zero postings over a
        # populated documents table.
        staging_df = schemas.read_table(
            spark, staging_path, schemas.staging_schema(store_positions)
        )
        actual_parts = math.ceil(n_docs / part_size) if n_docs else 0
        todo = [
            p for p in range(actual_parts)
            if manifest.get(f"part_{p:05d}", {}).get("status") != "DONE"
        ]
        skipped = actual_parts - len(todo)

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

        if fail_after_parts is not None:
            # deterministic sequential order for the kill-simulation hook
            for i, p in enumerate(todo):
                if i >= fail_after_parts:
                    raise RuntimeError(f"simulated kill before part {p}")
                _build_part(p)
            built = min(len(todo), fail_after_parts)
        else:
            run_parts(_build_part, todo, part_concurrency)
            built = len(todo)
    except BaseException as exc:
        # clean up then propagate the ORIGINAL failure: _stage_a_cleanup's
        # finalize joins the overlapped stage-A writes and can itself
        # raise, which would displace the part-build exception into
        # __context__ and report the cleanup error instead — so cleanup
        # errors here are logged and suppressed. Skip the blocking
        # finalize waits only for non-Exception interrupts (Ctrl-C must
        # not re-block).
        try:
            _stage_a_cleanup(block=isinstance(exc, Exception))
        except Exception as cleanup_exc:  # noqa: BLE001
            import warnings

            warnings.warn(
                "stage-A cleanup failed while handling "
                f"{type(exc).__name__}: {cleanup_exc!r} (original build "
                "failure propagates)",
                stacklevel=2,
            )
        raise
    else:
        # join the overlapped staging write + commit stage rows (stage A
        # commits independently of stage C outcomes — a part failure
        # above still commits stage A via the except path)
        _stage_a_cleanup()

    manifest = _read_manifest(out_dir)
    # every part committed: publish the build as a snapshot (idempotent —
    # a resumed no-op build returns the existing HEAD unchanged)
    from .snapshots import commit_snapshot

    commit_snapshot(
        spark, out_dir, "build", stats_epoch=stats_epoch, n_docs=n_docs
    )
    total_blocks = sum(
        int(r.get("blocks", 0)) for n, r in manifest.items() if n.startswith("part_")
    )
    n_terms = int(
        manifest.get("stage_stats", {}).get("n_terms")
        or schemas.read_table(spark, stats_path, schemas.TERM_STATS).count()
    )
    return IndexBuildResult(
        out_dir=out_dir,
        n_docs=n_docs,
        avgdl=avgdl,
        max_tf_sum=max_tf_sum,
        n_terms=n_terms,
        postings_blocks=total_blocks,
        parts_built=built,
        parts_skipped=skipped,
        index_version=index_version,
    )

"""Incremental index update — the reference's single-page re-index
(`POST /api/indexPage`, IndexationServiceImpl.java:119-131 +
EntitySaver.java:35-54) re-expressed as an idempotent batch merge:

  new transcripts batch
    -> P1 hygiene filter
    -> ANTI-JOIN against existing documents on (conv_id, turn_idx)
       (replaces the reference's synchronized get-or-create point lookups,
        EntitySaver.java:45-50 / PageRepository.java:18 — J4/S3)
    -> assign doc_ids continuing after the existing max (append order)
    -> analyze -> staging for the NEW part
    -> RECOMPUTE the post-batch live term_stats / corpus_stats into
       term_stats_new/ + corpus_stats_new/ (one pass per batch)
    -> postings for the NEW part, encoded with those stats by the one
       part writer (index_build.write_part) in the layout build_index
       fixed (block_size, salt_budget, n_buckets, positions — read from
       the index, never taken per call)
    -> append documents -> swap the *_new stats in
    -> manifest part row (COMMIT)

Every mutation (upsert, delete_docs, compact_index) opens the index
through open_index: a directory with no complete index is a caller error
(QueryArgumentError), a lost staging table is refused, and any crashed
batch is repaired before the new one starts.

Recomputing df from staging fixes the reference's df-drift bug
(EntitySaver.java:88-101 increments lemma.frequency again on re-index —
SURVEY.md §3.3/§7.5): our df is always exactly "distinct docs containing
the term", no matter how many times a batch is replayed.

Crash-safety (the multi-table append commit protocol):
  The MANIFEST PART ROW is the commit marker and is written LAST. Write
  order is staging -> postings -> deletes -> documents -> stats ->
  manifest (the delete vector, upsert mode only, travels with its part —
  operators/deletes.py). The stats are WRITTEN to *_new before the
  encode but only SWAPPED in after the documents append, so the live
  stats change where they always did, and a crashed attempt's *_new is
  debris that recovery drops. So at
  entry `_recover_uncommitted` can classify any staging part that has no
  manifest row:
    (a) documents do NOT cover its doc_id range -> the crash happened
        before the documents append; the part is garbage — delete its
        staging + postings dirs and let the replayed batch rebuild them.
    (b) documents DO cover its doc_id range -> everything ordered before
        the documents append (staging, postings) is complete; finish the
        commit (recompute stats, reconstruct the manifest row's metrics
        from the written postings).
  Either way a replayed batch is exact: the anti-join target (documents)
  is only ever written after the artifacts it vouches for. On a cluster
  this maps to a single Iceberg multi-table transaction / snapshot commit;
  on a local FS the marker file is the atomic bit.

Scale notes: the anti-join is a shuffle on (conv_id, turn_idx) sized by the
NEW batch (existing side is pruned to two columns); the stats recompute is
one agg over the staging table (columnar, term+tf columns only) and one
over the doc lengths, once per batch. The delete vector and the batch's
replaced ids are collected to the driver (both are bounded, by compaction
and by the batch) and join as local frames. Every table is read with its
declared schema (schemas.read_table; corpus_stats via schemas.read_row),
so no read runs a schema-inference job.

Duplicate (conv_id, turn_idx) rows WITHIN one batch are deliberately kept
(each gets its own doc_id) — a fresh build over the same rows does the
same (assign_doc_ids has no dedup), so incremental == full-rebuild parity
holds; deduplicating a batch before it is ingested is the caller's job.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..errors import QueryArgumentError
from ..functions.analyzer import ANALYZER_VERSION, terms_col
from ..schemas import read_table
from ..session import local_frame
from .index_build import (
    STATS_TABLES,
    PartLayout,
    _part_metrics,
    _read_manifest,
    _swap_stats,
    _write_manifest_row,
    _write_stats_new,
    assign_doc_ids,
    check_hash_ids,
    clean_transcripts,
    conform_transcripts,
    nonblank_text,
    done_row,
    read_layout,
    staging_rows,
    swap_dir,
    write_part,
)


def _part_ids_under(out_dir: str, subdir: str) -> set[int]:
    base = Path(out_dir) / subdir
    out: set[int] = set()
    if base.exists():
        for p in base.glob("part_id=*"):
            try:
                out.add(int(p.name.split("=", 1)[1]))
            except ValueError:
                continue
    return out


def _staging_part_ids(out_dir: str) -> set[int]:
    return _part_ids_under(out_dir, "_staging_postings_raw")


def _next_part_id(out_dir: str, manifest: dict) -> int:
    """Number a new part past every part ever seen in the manifest
    (including deletes-only commit markers — their name must never be
    reused either), staging, OR the postings dir itself, so a
    half-committed part id (or a part a crashed compaction swapped in
    before its manifest rewrite) is never reused/clobbered."""
    return 1 + max(
        [int(r["partition_id"]) for r in manifest.values()
         if int(r.get("partition_id", -1)) >= 0]
        + list(_staging_part_ids(out_dir))
        + list(_part_ids_under(out_dir, "postings")),
        default=-1,
    )


def _ids_frame(
    spark: SparkSession, ids: np.ndarray | None
) -> DataFrame | None:
    """A driver-held doc_id set as a local frame (the broadcast side of
    an anti-join, evaluated without a job), or None when it is empty."""
    if ids is None or ids.size == 0:
        return None
    return local_frame(spark, pd.DataFrame({"doc_id": ids}), "doc_id long")


def _live(df: DataFrame, dead: DataFrame | None) -> DataFrame:
    """``df`` without the doc_ids of ``dead`` (None: nothing to drop)."""
    return df if dead is None else df.join(dead, "doc_id", "left_anti")


def _recompute_stats(spark: SparkSession, out_dir: str, version: str,
                     n_buckets: int,
                     stats_epoch: int | None = None,
                     delete_dirs: list[str] | None = None) -> tuple[int, float]:
    """Global stats from the durable fact tables (drift-free df —
    SURVEY.md §7.5), through the same writer and swap as an upsert.
    Recovery and deletes-only commits use it; an upsert writes its
    post-batch stats once, before its encode. Returns (n_docs, avgdl).
    ``stats_epoch`` stamps the rewrite; part manifest rows carrying a
    DIFFERENT epoch are thereby marked as encoded under older stats,
    which disables the query engine's stored-block_max_score pruning
    until a compaction re-encodes them (query.py:_bound_col_multi).

    ``delete_dirs`` pins the delete-vector batch list the stats subtract
    (recovery's sweep passes the committed set so an about-to-be-rolled-
    back batch never poisons the rewrite); None = every batch on disk
    (the in-commit default: the new batch has landed, its marker has
    not)."""
    from .deletes import load_deleted_ids

    raw = read_table(
        spark, f"{out_dir}/_staging_postings_raw", schemas.STAGING
    )
    docs_all = read_table(spark, f"{out_dir}/documents", schemas.DOCUMENTS)
    # stats describe the LIVE corpus: the delete vector's docs are
    # subtracted from df/cf and from n_docs/avgdl/max_tf_sum. id_space is
    # the ID-SPACE size (max assigned + 1, deleted ids included) — the
    # layout quantity part-range math needs, which diverges from n_docs
    # once upserts delete docs.
    dead = _ids_frame(spark, load_deleted_ids(spark, out_dir, delete_dirs))
    raw, docs_live = _live(raw, dead), _live(docs_all, dead)
    id_space = docs_all.agg(F.max("doc_id")).collect()[0][0]
    n_docs, avgdl = _write_stats_new(
        out_dir, raw, docs_live.select("dl"),
        0 if id_space is None else int(id_space) + 1,
        version, n_buckets, stats_epoch,
    )
    _swap_stats(out_dir)
    return n_docs, avgdl


def require_staging(out_dir: str, manifest: dict) -> None:
    """Fail loudly when the durable staging table is missing from an index
    that has committed parts — the state a crash inside compact_index's
    staging swap (rename-out done, rename-in not) leaves behind. Without
    this guard the next incremental_update would recreate the directory
    with ONLY its own batch (parquet append creates missing dirs) and its
    stats pass would silently rewrite global df/cf/avgdl from that
    partial staging; a later compact_index would then rebuild
    postings from it, permanently dropping all prior postings."""
    if not any(k.startswith("part_") for k in manifest):
        return
    if Path(f"{out_dir}/_staging_postings_raw").exists():
        return
    leftover = [
        d
        for d in ("_staging_compacting", "_staging_old")
        if Path(f"{out_dir}/{d}").exists()
    ]
    hint = (
        f"rename {out_dir}/{leftover[0]} back to _staging_postings_raw"
        if leftover
        else "rebuild with build_index(resume=False)"
    )
    raise RuntimeError(
        f"index at {out_dir} has committed parts but no "
        f"_staging_postings_raw — a compact_index staging swap crashed "
        f"mid-rename; {hint}, then retry"
    )


def open_index(spark: SparkSession, out_dir: str) -> tuple[dict, PartLayout]:
    """The shared entry of every mutation (upsert, delete, compaction):
    refuse a directory with no complete index, read the part layout the
    build fixed, refuse a lost staging table, and repair any crashed
    batch. Returns the recovered manifest and the layout."""
    manifest = _read_manifest(out_dir)
    if manifest.get("stage_docs", {}).get("status") != "DONE":
        raise QueryArgumentError(
            f"no complete index at {out_dir}; run build_index first"
        )
    layout = read_layout(out_dir, manifest["stage_docs"])
    require_staging(out_dir, manifest)
    return _recover_uncommitted(spark, out_dir, manifest, layout), layout


def _recover_uncommitted(spark: SparkSession, out_dir: str,
                         manifest: dict, layout: PartLayout) -> dict:
    """See module docstring: delete or finish any staging part whose commit
    marker (manifest part row) is missing."""
    # deletes-only commits (blank-new-text upserts / delete_docs) have no
    # staging part to classify; their commit marker is the deletes_{P}
    # manifest row. An unmarked batch whose part id has no staging dir
    # either is deletes-only crash debris: roll it back (the docs it
    # would have deleted live again). Order matters — the crash may have
    # landed AFTER the stats rewrite (which already subtracted the doomed
    # batch), so stats are restored FIRST, pinned to the surviving batch
    # set, and the irreversible rmtree runs last: a crash anywhere in
    # between re-enters this branch and idempotently repeats it (the
    # reverse order would leave a window where the batch is gone but the
    # stats still exclude its docs, with nothing left to re-trigger the
    # repair).
    from .deletes import (
        delete_batch_dirs,
        drop_delete_batch,
        is_batch_committed,
        sweep_tmp_debris,
    )

    sweep_tmp_debris(out_dir)  # crashed write_delete_batch _tmp_ dirs
    # *_new stats are valid only inside the call that wrote them: a
    # crashed attempt's copy must never be swapped in (every later swap
    # follows its own _write_stats_new anyway; this drops the debris)
    for table in STATS_TABLES:
        shutil.rmtree(f"{out_dir}/{table}_new", ignore_errors=True)
    staged_now = _staging_part_ids(out_dir)
    orphan_batches: list[int] = []
    keep_dirs: list[str] = []
    for name in delete_batch_dirs(out_dir):
        p = int(name.rsplit("_", 1)[1])
        if is_batch_committed(name, manifest):
            keep_dirs.append(name)
        elif p in staged_now:
            # normal-batch debris: case (a)/(b) below decides; its
            # deletes stay OUT of this restore either way — a case-(a)
            # crash happened before its stats rewrite, and a case-(b)
            # finish recomputes with the full on-disk set afterwards
            pass
        else:
            orphan_batches.append(p)
    if orphan_batches:
        n_docs, _ = _recompute_stats(
            spark, out_dir, layout.index_version, layout.n_buckets,
            stats_epoch=int(time.time() * 1e6),
            delete_dirs=keep_dirs,
        )
        stage = dict(manifest["stage_docs"])
        stage["n_docs"] = n_docs
        _write_manifest_row(out_dir, "stage_docs", stage)
        for p in orphan_batches:
            drop_delete_batch(out_dir, p)
        manifest = _read_manifest(out_dir)
    committed = {
        int(r.get("partition_id", -1))
        for r in manifest.values()
        if int(r.get("partition_id", -1)) >= 0
    }
    orphans = sorted(_staging_part_ids(out_dir) - committed)
    if not orphans:
        return manifest
    documents = read_table(spark, f"{out_dir}/documents", schemas.DOCUMENTS)
    docs_max = documents.agg(F.max("doc_id")).collect()[0][0]
    docs_max = -1 if docs_max is None else int(docs_max)
    finish: list[int] = []
    finish_lo: dict[int, int] = {}
    partial_lo: int | None = None
    for p in orphans:
        staging_part = f"{out_dir}/_staging_postings_raw/part_id={p}"
        postings_part = f"{out_dir}/postings/part_id={p}"
        # a crash during the staging append's job commit can leave the
        # part DIRECTORY with zero data files: it reads as no rows
        # (declared schema), i.e. definitionally case-(a) garbage
        span = (
            read_table(spark, staging_part, schemas.STAGING)
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .collect()[0]
        )
        lo = None if span["lo"] is None else int(span["lo"])
        hi = None if span["hi"] is None else int(span["hi"])
        # the documents append commits files one at a time, so covering
        # the part's MIN doc_id does not prove the whole append landed:
        # batch doc_ids are dense in [lo, hi], so the append is complete
        # iff every id in the staging span has a documents row
        n_in_range = (
            documents.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
            ).count()
            if lo is not None
            else 0
        )
        if lo is not None and n_in_range == hi - lo + 1:
            # (b) the documents append landed in full -> staging+postings
            # for this part are complete; finish the commit below
            finish.append(p)
            finish_lo[p] = lo
        else:
            # (a) crash before/inside the documents append -> uncommitted
            # garbage. A PARTIAL documents append must be rolled back
            # too: leaving the landed rows would make the anti-join
            # treat those turns as indexed (with no postings) forever.
            # The batch's delete vector rolls back with it — the docs it
            # would have replaced live again (their replacement is gone).
            shutil.rmtree(staging_part, ignore_errors=True)
            shutil.rmtree(postings_part, ignore_errors=True)
            drop_delete_batch(out_dir, p)
            if lo is not None and 0 < n_in_range:
                partial_lo = lo if partial_lo is None else min(partial_lo, lo)
    if partial_lo is not None:
        if any(lo > partial_lo for lo in finish_lo.values()):
            # batches are sequential, so a COMPLETE batch cannot start
            # past a partial one; seeing it means the doc_id-ordering
            # invariant broke — stay loud, never delete committed docs
            raise RuntimeError(
                f"recovery at {out_dir}: complete orphan batch starts "
                f"beyond partial batch at doc_id {partial_lo} — "
                "inconsistent index, rebuild with build_index(resume=False)"
            )
        # rewrite documents without the partial batch's rows (doc_ids at
        # or above the rolled-back batch start — batches are sequential,
        # so nothing committed lives past a rolled-back range).
        docs_path = f"{out_dir}/documents"
        documents.filter(F.col("doc_id") < partial_lo).write.mode(
            "overwrite"
        ).parquet(f"{docs_path}_new")
        swap_dir(f"{docs_path}_new", docs_path, f"{docs_path}_old")
        # the rewrite renamed every documents file, so retained snapshots'
        # pinned documents_files lists now dangle — expire those records
        # (resolve_snapshot then reports them expired; leaving them would
        # make every as-of read die with raw PATH_NOT_FOUND, r4 review
        # finding). Intact records are kept.
        from .snapshots import expire_dangling_snapshots

        expire_dangling_snapshots(out_dir)
    if not finish:
        return _read_manifest(out_dir)
    # Recompute stats BEFORE writing the DONE manifest rows: a crash
    # between the two leaves the parts as orphans, so replay re-enters
    # this branch and idempotently recomputes again. The reverse order
    # would commit the parts with stale term_stats/corpus_stats and no
    # self-repair path (the part stops being an orphan, recovery never
    # re-triggers, every query scores with pre-batch idf/avgdl).
    # recovered orphan parts were encoded under unknowable pre-crash
    # stats: a fresh epoch here (with no matching part stamps) keeps the
    # stored-block-max validity check conservatively false
    n_docs, _ = _recompute_stats(
        spark, out_dir, layout.index_version, layout.n_buckets,
        stats_epoch=int(time.time() * 1e6),
    )
    for p in finish:
        m = read_table(
            spark, f"{out_dir}/postings/part_id={p}", schemas.POSTINGS
        ).agg(*_part_metrics()).collect()[0]
        _write_manifest_row(out_dir, f"part_{p:05d}", done_row(
            p, time.time(), **{k: int(v or 0) for k, v in m.asDict().items()},
            index_version=layout.index_version, recovered=True,
        ))
    stage = dict(manifest["stage_docs"])
    stage["n_docs"] = n_docs
    _write_manifest_row(out_dir, "stage_docs", stage)
    return _read_manifest(out_dir)


def _commit(spark: SparkSession, out_dir: str, manifest: dict, name: str,
            row: dict, n_docs: int, op: str) -> None:
    """Commit a batch: its manifest row ``name`` (the commit marker,
    written after every artifact it vouches for), then the live doc count
    on the stage_docs row and an ``op`` snapshot at the row's epoch."""
    from .snapshots import commit_snapshot

    _write_manifest_row(out_dir, name, row)
    _write_manifest_row(
        out_dir, "stage_docs", {**manifest["stage_docs"], "n_docs": n_docs}
    )
    commit_snapshot(spark, out_dir, op, stats_epoch=row["stats_epoch"],
                    n_docs=n_docs)


def _commit_deletes_only(
    spark: SparkSession,
    out_dir: str,
    manifest: dict,
    doomed: DataFrame,
    n_doomed: int,
    layout: PartLayout,
) -> int:
    """Commit a batch of pure deletions (no staging/postings/documents
    write): the doomed (doc_id) rows join the delete vector and the live
    stats are rewritten without them. Since there is no part whose
    manifest row could be the commit marker, a dedicated ``deletes_{P}``
    row is, written LAST. Protocol: delete batch -> stats rewrite ->
    marker -> snapshot. A crash before the marker leaves an unmarked
    batch that _recover_uncommitted's sweep rolls back (recomputing
    stats, since the crash may have landed after the rewrite). Returns
    the id the batch was committed under."""
    from .deletes import write_delete_batch

    part_new = _next_part_id(out_dir, manifest)
    write_delete_batch(doomed, out_dir, part_new)
    new_epoch = int(time.time() * 1e6)
    n_docs, _ = _recompute_stats(
        spark, out_dir, layout.index_version, layout.n_buckets,
        stats_epoch=new_epoch,
    )
    _commit(spark, out_dir, manifest, f"deletes_{part_new:05d}", done_row(
        part_new, time.time(), index_version=layout.index_version,
        stats_epoch=new_epoch, replaced_docs=n_doomed, deletes_only=True,
    ), n_docs, "delete")
    return part_new


def delete_docs(
    spark: SparkSession,
    keys: DataFrame,
    out_dir: str,
    *,
    tombstone: bool = True,
) -> dict:
    """Targeted deletion — the standalone half of the reference's
    deleteAllByPageId (IndexationServiceImpl.java:119-123; wiping a
    page's rows WITHOUT re-adding, e.g. a takedown / right-to-be-
    forgotten request over a training corpus). ``keys`` is a DataFrame
    with a ``conv_id`` column (every live turn of those conversations is
    deleted) or (``conv_id``, ``turn_idx``) columns (exactly those
    turns). Returns {"deleted_docs": int}.

    Same merge-on-read shape as upsert (operators/deletes.py): the doomed
    doc_ids join the delete vector in one deletes-only commit; nothing in
    staging/postings/documents is touched until the next compact_index
    physically drops the rows. Idempotent — re-deleting the same keys
    matches nothing live and commits nothing.

    ``tombstone=True`` (default) also records the keys in the tombstone
    table (written FIRST, so no crash window lets a replay slip by):
    every future ingest drops incoming rows matching them, which is what
    makes the takedown hold against REPLAYED batches — e.g. a streaming
    micro-batch whose checkpoint never committed would otherwise
    silently re-index the removed key. Lift with
    deletes.clear_tombstones. ``tombstone=False`` is the soft delete:
    a later incremental_update of the same (conv_id, turn_idx)
    re-indexes it as a NEW doc (the anti-join anchor is the LIVE view)."""
    manifest, layout = open_index(spark, out_dir)

    from .deletes import collect_ids, load_deleted_ids, write_tombstones

    if tombstone:
        write_tombstones(keys, out_dir)

    existing = read_table(spark, f"{out_dir}/documents", schemas.DOCUMENTS)
    live = _live(existing, _ids_frame(spark, load_deleted_ids(spark, out_dir)))
    # a NULL turn_idx row in a turn-keyed frame means the WHOLE
    # conversation — the tombstone table's own encoding, so a ledger
    # round-trips through delete_docs/clear_tombstones symmetrically
    # (a null-unsafe semi-join would silently delete nothing for it)
    if "turn_idx" in keys.columns:
        k = keys.select(
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
        ).distinct()
        matched = live.join(
            k.filter(F.col("turn_idx").isNotNull()),
            ["conv_id", "turn_idx"],
            "left_semi",
        ).unionByName(
            live.join(
                k.filter(F.col("turn_idx").isNull()).select("conv_id"),
                "conv_id",
                "left_semi",
            )
        )
    else:
        matched = live.join(
            keys.select("conv_id").distinct(), "conv_id", "left_semi"
        )
    # collected once (batch-bounded, like the vector itself): the commit
    # below mutates the vector this plan reads through, and a driver-
    # held set has no lineage to re-evaluate (self-dependency rule)
    doomed = collect_ids(matched.select("doc_id"))
    if doomed.size == 0:
        return {"deleted_docs": 0}
    _commit_deletes_only(
        spark, out_dir, manifest, _ids_frame(spark, doomed), int(doomed.size),
        layout,
    )
    return {"deleted_docs": int(doomed.size)}


def apply_cdc_batch(
    spark: SparkSession,
    batch: DataFrame,
    out_dir: str,
    *,
    tombstone_deletes: bool = False,
) -> dict:
    """Apply one CDC (change-data-capture) batch — the Iceberg/Delta
    ``apply changes`` shape, so a single stream can carry the index's
    whole mutation surface. ``batch`` is TRANSCRIPTS columns plus an
    ``op`` string column: 'I'/'U' rows upsert (insert-or-replace via the
    delete vector; 'I' and 'U' are deliberately synonyms — upsert
    semantics make the distinction immaterial and CDC feeds routinely
    mislabel them), 'D' rows delete the key (text ignored). Returns
    {"new_docs", "new_parts", "replaced_docs", "deleted_docs"}.

    Per-key conflict rule: deletes are applied AFTER upserts, so a key
    carrying both in one batch ends deleted (last-write-wins at the
    batch grain — the compaction of a "row updated then dropped" run).
    Replays converge exactly like the underlying ops: a replayed batch
    finds the upserted keys unchanged and the deleted keys gone.
    ``tombstone_deletes`` stays False by default: a CDC delete is data
    flow, not a takedown — the key may legitimately return later."""
    if "op" not in batch.columns:
        raise QueryArgumentError(
            "CDC batch needs an 'op' column ('I'/'U'/'D')"
        )
    ops = batch.select("op").distinct()
    bad = [
        r["op"] for r in ops.collect() if r["op"] not in ("I", "U", "D")
    ]
    if bad:
        raise QueryArgumentError(
            f"CDC batch has unknown op values: {sorted(bad)}"
        )
    upserts = batch.filter(F.col("op") != "D").drop("op")
    res_u = incremental_update(spark, upserts, out_dir, upsert=True)
    deletes = batch.filter(F.col("op") == "D").select(
        "conv_id", "turn_idx"
    ).distinct()
    res_d = (
        delete_docs(spark, deletes, out_dir, tombstone=tombstone_deletes)
        if deletes.limit(1).count()
        else {"deleted_docs": 0}
    )
    return {**res_u, **res_d}


def incremental_update(
    spark: SparkSession,
    new_transcripts: DataFrame,
    out_dir: str,
    *,
    upsert: bool = False,
) -> dict:
    """Merge a batch of new turns into an existing index at ``out_dir``.
    Returns {"new_docs": int, "new_parts": int, "replaced_docs": int}.
    Idempotent: replaying the same batch is a no-op (anti-join drops
    already-indexed turns), and a replay after a mid-write crash repairs
    the index first (see module docstring).

    ``upsert=True`` adds the reference's re-index-page REPLACE semantics
    (IndexationServiceImpl.java:119-131: deleteAllByPageId + re-add): an
    incoming turn whose (conv_id, turn_idx) already exists but whose TEXT
    differs replaces the old doc — the old doc_id joins the delete vector
    (operators/deletes.py, Iceberg merge-on-read shape) and the new text
    is indexed as a new doc in this batch's part. Same-text replays stay
    no-ops either way. Replacement is text-keyed: rows differing only in
    role/tool/ts are treated as unchanged. With upsert=False (default) a
    changed turn is dropped like any already-indexed key — pure insert
    semantics, bit-compatible with every pre-upsert index.

    The new part is encoded in the layout build_index fixed (read_layout:
    n_buckets, block_size, salt_budget, positions, index_version)."""
    manifest, layout = open_index(spark, out_dir)
    built_with = manifest["stage_docs"].get("analyzer_version", "a1")
    if built_with != ANALYZER_VERSION:
        raise QueryArgumentError(
            f"index at {out_dir} was built with analyzer {built_with}, "
            f"current analyzer is {ANALYZER_VERSION}: new turns would "
            "tokenize differently than the existing postings — rebuild "
            "with build_index(resume=False)"
        )
    # a positions index propagates its layout: the new part's staging rows
    # carry the per-(doc,term) position arrays and its posting blocks gain
    # the same delta-varbyte positions stream the base build wrote, so the
    # phrase reader sees a uniform schema across every part (a
    # position-less part would be silently skipped by the positions
    # phrase plan)
    store_pos = layout.store_positions

    docs_path = f"{out_dir}/documents"
    staging_path = f"{out_dir}/_staging_postings_raw"
    postings_path = f"{out_dir}/postings"

    existing = read_table(spark, docs_path, schemas.DOCUMENTS)
    base = existing.agg(F.max("doc_id")).collect()[0][0]
    base = int(base) + 1 if base is not None else 0

    # the live view subtracts the delete vector: replaced docs must not
    # anchor the anti-join (their replacement row does) nor feed stats.
    # The vector is collected once (the engine does the same) and rides
    # every anti-join below as a local frame.
    from .deletes import collect_ids, load_deleted_ids, write_delete_batch

    prior_ids = load_deleted_ids(spark, out_dir)
    if prior_ids is None:
        prior_ids = np.empty(0, dtype=np.int64)
    existing_live = _live(existing, _ids_frame(spark, prior_ids))

    # localCheckpoint truncates lineage at the anti-join: everything below
    # appends to `documents`, and a lazily re-evaluated anti-join against
    # the just-appended table would silently see its own output (classic
    # self-dependency) — the batch must be materialized BEFORE any write
    # takedown tombstones (operators/deletes.py): keys removed by
    # delete_docs(tombstone=True) must never come back via a replayed
    # batch — drop them from the incoming side BEFORE any anti-join,
    # in both modes. None (no takedown ever) costs nothing.
    from .deletes import filter_tombstoned, tombstones_df

    tombs = tombstones_df(spark, out_dir)
    if upsert:
        # changed-detection runs BEFORE hygiene: a key whose NEW text is
        # blank must still DELETE the old doc (the reference's re-index
        # of a now-empty page wipes its rows and re-adds nothing) — the
        # hygiene filter only gates what gets (re-)indexed, never what
        # gets replaced
        incoming_all = conform_transcripts(new_transcripts)
        if tombs is not None:
            incoming_all = filter_tombstoned(incoming_all, tombs)
        # the live side is AGGREGATED per key: duplicate (conv_id,
        # turn_idx) keys are legal in the doc store (module docstring —
        # batch-internal duplicates each get a doc_id), so a plain join
        # would fan incoming rows out and index one row several times.
        # One group row per key keeps the join 1:1 on the live side.
        # Changed-detection compares the key's INDEXABLE text multiset
        # (sorted arrays; hygiene-blank incoming rows are excluded —
        # they never index, so counting them would block replay
        # convergence): unchanged iff live texts == incoming non-blank
        # texts, which makes a replay of ANY batch — duplicate keys
        # included — land on an identical live set and go quiet. Any
        # difference is replaced wholesale: literally deleteAllByPageId
        # + re-add collapsing a page to its incoming rows.
        base_cols = list(incoming_all.columns)
        wk = Window.partitionBy("conv_id", "turn_idx")
        incoming_all = incoming_all.withColumn(
            "_inc_texts",
            F.sort_array(
                F.collect_list(
                    F.when(nonblank_text(), F.col("text"))
                ).over(wk)
            ),
        )
        live_keyed = existing_live.groupBy("conv_id", "turn_idx").agg(
            F.collect_list("doc_id").alias("_old_ids"),
            F.sort_array(F.collect_list("text")).alias("_old_texts"),
        )
        # ONE materialized join: fresh/replaced/counts all derive from
        # this checkpoint, so the incoming-vs-live comparison runs as a
        # single Spark job and nothing below re-reads `documents`
        # through a live plan (self-dependency rule, see comment above)
        j = (
            incoming_all.join(live_keyed, ["conv_id", "turn_idx"], "left")
            .withColumn(
                "_changed",
                F.col("_old_ids").isNotNull()
                & (F.col("_inc_texts") != F.col("_old_texts")),
            )
            .localCheckpoint()
        )
        # batch = brand-new keys + changed keys (indexed as new docs),
        # hygiene-gated like any build input
        fresh = j.filter(
            (F.col("_old_ids").isNull() | F.col("_changed"))
            & nonblank_text()
        ).select(*base_cols)
        # the replaced ids are batch-bounded: collected once, they feed
        # the stats, the delete batch and the count without re-running
        # the checkpoint's explode + distinct
        replaced_ids = collect_ids(
            j.filter(F.col("_changed")).select(F.explode("_old_ids"))
        )
    else:
        incoming_ins = clean_transcripts(new_transcripts)
        if tombs is not None:
            incoming_ins = filter_tombstoned(incoming_ins, tombs)
        fresh = (
            incoming_ins.join(
                existing_live.select("conv_id", "turn_idx"),
                ["conv_id", "turn_idx"],
                "left_anti",
            )
            .localCheckpoint()
        )
        replaced_ids = np.empty(0, dtype=np.int64)
    replaced = _ids_frame(spark, replaced_ids)
    n_replaced = int(replaced_ids.size)
    with_ids, ranged, n_new = assign_doc_ids(fresh, spark, base=base)
    if n_new == 0:
        ranged.unpersist()
        if n_replaced:
            # deletes-only commit: every changed key's new text is
            # hygiene-blank — the reference's "page now empty" re-index
            # (deleteAllByPageId wipes the rows, the re-add indexes
            # nothing).
            _commit_deletes_only(
                spark, out_dir, manifest, replaced, n_replaced, layout
            )
        return {"new_docs": 0, "new_parts": 0, "replaced_docs": n_replaced}

    analyzed = with_ids.withColumn("terms", terms_col(F.col("text")))
    analyzed = analyzed.withColumn("dl", F.size("terms")).persist()

    # a failed write below must not pin the batch caches for the
    # session lifetime (under streaming ingest the session is
    # long-lived and each failed micro-batch would leak another
    # batch-sized cache) — same guard as build_index's stage A
    try:
        # each batch becomes ONE new part directory — a fresh overwrite of its
        # own path (atomic locally; an Iceberg snapshot commit on clusters),
        # never an append into existing part dirs. Number it past every part
        # ever seen in manifest, staging, OR the postings dir itself, so a
        # half-committed part id (or a part a crashed compaction swapped in
        # before its manifest rewrite) is never reused/clobbered.
        part_new = _next_part_id(out_dir, manifest)
        staging_rows(
            analyzed, F.lit(part_new).cast("int"), store_pos
        ).write.mode("append").partitionBy("part_id").parquet(staging_path)

        # ONE stats pass per batch: the post-batch LIVE stats (staging
        # already holds the new part; prior deletes AND this batch's
        # replacements are subtracted) go to *_new now, the encoder
        # reads its df and scalars from them, and _swap_stats publishes
        # them after the documents append — exactly what a recompute
        # over the committed tables would write (integer df/dl sums;
        # the batch's ids are dense from base, so id_space = base + n_new)
        raw = read_table(
            spark, staging_path, schemas.staging_schema(store_pos)
        )
        dead = _ids_frame(spark, np.union1d(prior_ids, replaced_ids))
        raw_live, live_prev = _live(raw, dead), _live(existing, dead)
        # the new part is encoded with these POST-merge stats, so it
        # carries the new epoch; PRE-existing parts keep their old
        # epochs, which correctly disables stored-block-max pruning
        # until compaction re-encodes them
        new_epoch = int(time.time() * 1e6)
        n_docs, avgdl = _write_stats_new(
            out_dir, raw_live,
            live_prev.select("dl").unionByName(analyzed.select("dl")),
            base + n_new, layout.index_version, layout.n_buckets, new_epoch,
        )
        term_stats_now = read_table(
            spark, f"{out_dir}/term_stats_new", schemas.TERM_STATS
        )

        # the batch's ids are dense from base: the part spans them all
        part = write_part(
            spark, raw.filter(F.col("part_id") == part_new), term_stats_now,
            part_new, base, max(1, n_new),
            f"{postings_path}/part_id={part_new}",
            n_docs=n_docs, avgdl=avgdl, stats_epoch=new_epoch,
            hash_ids=check_hash_ids(term_stats_now), layout=layout,
        )

        # delete vector AFTER postings, BEFORE documents: recovery
        # classifies it with the part (an uncommitted batch's deletes are
        # rolled back with its staging/postings — the old docs live again
        # because their replacement was never committed)
        if n_replaced:
            write_delete_batch(replaced, out_dir, part_new)

        # documents LAST among data tables — the anti-join anchor must never
        # vouch for artifacts that don't exist yet (crash-safety, see docstring)
        analyzed.select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "text", "dl"
        ).write.mode("append").parquet(docs_path)
    finally:
        analyzed.unpersist()
        ranged.unpersist()

    _swap_stats(out_dir)

    # COMMIT: the manifest part row marks the batch durable. The snapshot
    # is an AppendFiles commit: the new part + appended documents files
    # (and any delete batch) become one retained snapshot; prior
    # snapshots still resolve (time travel)
    _commit(spark, out_dir, manifest, f"part_{part_new:05d}",
            {**part, "replaced_docs": n_replaced}, n_docs, "append")
    return {"new_docs": n_new, "new_parts": 1, "replaced_docs": n_replaced}

"""Doc-level delete vectors — the Iceberg delete-file analog that makes
true UPSERT possible over immutable posting parts.

The reference's single-page re-index REPLACES a page's lemma/index rows
(`deleteAllByPageId` + re-add, IndexationServiceImpl.java:119-131); our
posting parts are immutable columnar files, so replacement is expressed
the way Iceberg's merge-on-read does it: the old doc_id goes into a
delete vector, the new text is indexed as a new doc in the batch's new
part, and every read subtracts the vector — queries via a numpy mask in
the one decode kernel (query.py:_decode_blocks), stats via an anti-join
in the one stats writer (index_build.py:_write_stats_new).
`compact_index` is the merge: it rewrites staging/postings/documents
without the deleted rows and purges the vector.

Layout: one parquet directory per upsert batch,
``_deletes/batch_part_{P:05d}/`` (single column ``doc_id`` long), named
after the posting part whose batch replaced those docs — so crash
recovery can classify an orphan delete batch exactly like the part's
staging/postings dirs (operators/incremental.py commit protocol: the
delete batch is written AFTER postings and BEFORE the documents append;
a rolled-back batch rolls its deletes back too, resurrecting the old
docs it would have replaced).

Scale notes: the vector holds only docs replaced since the last
compaction — it is read on the driver (pyarrow) once per SearchEngine,
handed to the decode kernel as is by the driver-side local plan, and
shipped to the Spark plans as a broadcast, once per executor rather
than inside every task's UDF closure (at Iceberg scale the
broadcast value becomes a roaring bitmap; same plan shape). The decode
mask is one vectorized ``np.isin`` per (term, batch). Compaction bounds
the vector's growth exactly as it bounds part-count growth.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .. import schemas

DELETES_DIR = "_deletes"


def _root(out_dir: str) -> Path:
    return Path(out_dir) / DELETES_DIR


def batch_dir_name(part_id: int) -> str:
    return f"batch_part_{part_id:05d}"


def delete_batch_dirs(out_dir: str) -> list[str]:
    """Sorted names of committed delete batches. [] when none exist."""
    root = _root(out_dir)
    if not root.exists():
        return []
    return sorted(
        p.name for p in root.glob("batch_part_*") if p.is_dir()
    )


def deleted_ids_df(
    spark: SparkSession, out_dir: str, dirs: list[str] | None = None
) -> DataFrame | None:
    """Union view of the delete vector as a (doc_id) DataFrame, or None
    when there are no deletes (callers skip their anti-join entirely —
    the common case costs nothing). ``dirs`` pins a snapshot's batch
    list for as-of reads. Not deduplicated: every consumer is an
    anti-join, which does not need it."""
    names = delete_batch_dirs(out_dir) if dirs is None else list(dirs)
    if not names:
        return None
    paths = [str(_root(out_dir) / n) for n in names]
    return schemas.read_table(spark, paths, schemas.DELETES)


def load_deleted_ids(
    spark: SparkSession, out_dir: str, dirs: list[str] | None = None
) -> np.ndarray | None:
    """The vector as a sorted unique int64 array for the decode kernels,
    or None when empty. ``dirs`` pins a batch list like deleted_ids_df.
    Read on the driver with pyarrow and the declared schema: no Spark
    job (``spark`` is unused, kept for the callers' signature)."""
    names = delete_batch_dirs(out_dir) if dirs is None else list(dirs)
    if not names:
        return None
    ids = np.unique(np.concatenate([
        schemas.arrow_dataset(str(_root(out_dir) / n), schemas.DELETES)
        .to_table().column("doc_id").to_numpy()
        for n in names
    ]).astype(np.int64))
    return ids if ids.size else None


def collect_ids(frame: DataFrame) -> np.ndarray:
    """A one-column doc_id frame as a sorted unique int64 array."""
    return np.unique(
        np.array([r[0] for r in frame.collect()], dtype=np.int64)
    )


def is_batch_committed(name: str, manifest: dict) -> bool:
    """True iff a delete batch's COMMIT MARKER exists — the posting
    part's manifest row (normal upsert batches) or the deletes_{P} row
    (deletes-only commits). The ONE definition readers
    (committed_delete_batch_dirs) and recovery
    (incremental._recover_uncommitted's sweep) share; if they ever
    disagreed on committed-ness, a batch could be masked by one and
    rolled back by the other."""
    p = int(name.rsplit("_", 1)[1])
    return f"part_{p:05d}" in manifest or f"deletes_{p:05d}" in manifest


def committed_delete_batch_dirs(out_dir: str) -> list[str]:
    """Batch dirs whose commit marker exists (is_batch_committed).
    READERS must use this list: an on-disk batch without its marker is
    an in-flight or crashed commit whose deletes are not state yet
    (masking them with pre-commit stats would score with an n_docs/df
    that counts docs no query can surface). Stats REWRITES inside a
    commit use the unfiltered list instead — they run after the batch
    lands and before its marker, by design. Residual honesty: a crash
    in the instant BETWEEN a finished stats rewrite and its marker json
    leaves one window where stats exclude a batch this list omits —
    healed by the next mutation's recovery; Iceberg's atomic snapshot
    swap is what closes it fully on clusters."""
    from .index_build import _read_manifest

    manifest = _read_manifest(out_dir)
    return [
        name
        for name in delete_batch_dirs(out_dir)
        if is_batch_committed(name, manifest)
    ]


def write_delete_batch(
    replaced: DataFrame, out_dir: str, part_id: int
) -> str:
    """Persist one upsert batch's replaced doc_ids, keyed to the posting
    part that carries their replacements. Written to a _tmp_ sibling and
    renamed in (atomic locally): a crash mid-write leaves only _tmp_
    debris the batch glob never matches (and recovery sweeps), never a
    half-written batch dir whose partial doc_ids readers would apply
    (a batch dir with no data files reads as no rows: deleted_ids_df
    reads with the declared schema). Idempotent on replay."""
    name = batch_dir_name(part_id)
    root = _root(out_dir)
    tmp = root / f"_tmp_{name}"
    shutil.rmtree(tmp, ignore_errors=True)
    # one file: a batch is bounded by its upsert, and a local frame
    # would otherwise write one file per core
    replaced.select("doc_id").coalesce(1).write.mode("overwrite").parquet(
        str(tmp)
    )
    final = root / name
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return name


def sweep_tmp_debris(out_dir: str) -> None:
    """Drop crashed write_delete_batch _tmp_ dirs (harmless but untidy)."""
    root = _root(out_dir)
    if not root.exists():
        return
    for p in root.glob("_tmp_batch_part_*"):
        shutil.rmtree(p, ignore_errors=True)


def drop_delete_batch(out_dir: str, part_id: int) -> None:
    """Roll back an uncommitted batch's deletes (crash recovery case (a):
    the replacement part was rolled back, so the old docs live again)."""
    shutil.rmtree(_root(out_dir) / batch_dir_name(part_id),
                  ignore_errors=True)


def purge_deletes(out_dir: str) -> None:
    """Drop the whole vector — ONLY legal after a rewrite that removed
    the deleted rows from staging/postings/documents (compact_index)."""
    shutil.rmtree(_root(out_dir), ignore_errors=True)


# ---------------------------------------------------------------------------
# Tombstones — replay protection for takedowns.
#
# The ingest anti-join anchors on the LIVE doc view (a deleted key can be
# legitimately re-indexed later), which means a REPLAYED batch — e.g. a
# streaming micro-batch whose checkpoint never committed — would silently
# resurrect a key that delete_docs removed in between. For takedown /
# right-to-be-forgotten deletions that is precisely the failure that must
# never happen, so delete_docs(tombstone=True, the default) also records
# the keys here and every ingest path drops incoming rows that match a
# tombstone BEFORE the anti-join. turn_idx NULL tombstones block the whole
# conversation. Tombstones are ingest policy, not read state: readers and
# snapshots never consult them, and compaction keeps them.

TOMBSTONES_DIR = "_tombstones"


def _tomb_root(out_dir: str) -> Path:
    return Path(out_dir) / TOMBSTONES_DIR


def _heal_tombstones(out_dir: str) -> None:
    """Repair a crashed clear_tombstones rename-swap. Tombstone keys
    exist NOWHERE else (unlike stats, which any recovery recomputes), so
    losing the table would silently drop all takedown replay protection
    — every access path heals first. Cases: live dir present -> drop
    stale _new/_old debris; live dir missing with _new present -> the
    swap finished writing, complete it; missing with only _old ->
    restore the pre-clear table (the interrupted clear never happened —
    conservative: over-blocking, never under-blocking)."""
    root = _tomb_root(out_dir)
    new, old = Path(f"{root}_new"), Path(f"{root}_old")
    if root.exists():
        shutil.rmtree(new, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
    elif new.exists():
        new.rename(root)
        shutil.rmtree(old, ignore_errors=True)
    elif old.exists():
        old.rename(root)


def write_tombstones(keys: DataFrame, out_dir: str) -> None:
    """Append takedown keys (conv_id, turn_idx — turn_idx NULL = the whole
    conversation). Called BEFORE the delete commit so no crash ordering
    leaves a window where a replay could re-add the key (the worst case
    of a crash after this write is keys blocked but not yet deleted —
    the caller retries delete_docs). Duplicate rows are harmless (the
    filter is a semi-join)."""
    from pyspark.sql import functions as F

    _heal_tombstones(out_dir)
    cols = [F.col("conv_id").cast("string").alias("conv_id")]
    cols.append(
        F.col("turn_idx").cast("int").alias("turn_idx")
        if "turn_idx" in keys.columns
        else F.lit(None).cast("int").alias("turn_idx")
    )
    keys.select(*cols).write.mode("append").parquet(str(_tomb_root(out_dir)))


def tombstones_df(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The tombstone table, or None when no takedown was ever recorded
    (the common case — ingest pays nothing)."""
    _heal_tombstones(out_dir)
    root = _tomb_root(out_dir)
    if not root.exists():
        return None
    return schemas.read_table(spark, str(root), schemas.TOMBSTONES)


def filter_tombstoned(incoming: DataFrame, tombs: DataFrame) -> DataFrame:
    """Drop incoming transcript rows matching a tombstone: conv-level
    rows (turn_idx NULL) block every turn of the conversation, turn-level
    rows block exactly that key. Two broadcast-sized anti-joins."""
    from pyspark.sql import functions as F

    conv_level = (
        tombs.filter(F.col("turn_idx").isNull()).select("conv_id").distinct()
    )
    turn_level = (
        tombs.filter(F.col("turn_idx").isNotNull())
        .select("conv_id", "turn_idx")
        .distinct()
    )
    return incoming.join(conv_level, "conv_id", "left_anti").join(
        turn_level, ["conv_id", "turn_idx"], "left_anti"
    )


def clear_tombstones(
    spark: SparkSession, keys: DataFrame, out_dir: str
) -> int:
    """Deliberately lift takedowns (e.g. a legal hold expired) so the
    keys can be re-indexed: rewrite the tombstone table without rows
    matching ``keys``. A conv_id-only frame lifts BOTH the conv-wide
    tombstone and every turn-level one of that conversation; a
    (conv_id, turn_idx) frame matches null-SAFELY, so passing the
    tombstone table's own encoding (turn_idx NULL = conv-wide) lifts
    exactly those rows. Rename-swap with self-healing on every access
    (_heal_tombstones — tombstone keys are not recomputable, so a
    crashed swap must never lose the table). Returns rows removed."""
    from pyspark.sql import functions as F

    tombs = tombstones_df(spark, out_dir)  # heals first
    if tombs is None:
        return 0
    if "turn_idx" in keys.columns:
        k = keys.select(
            F.col("conv_id").cast("string").alias("k_conv"),
            F.col("turn_idx").cast("int").alias("k_turn"),
        ).distinct()
        keep = tombs.join(
            k,
            (tombs["conv_id"] == k["k_conv"])
            & tombs["turn_idx"].eqNullSafe(k["k_turn"]),
            "left_anti",
        )
    else:
        keep = tombs.join(
            keys.select("conv_id").distinct(), "conv_id", "left_anti"
        )
    before = tombs.count()
    after = keep.count()
    if after == before:
        return 0
    root = _tomb_root(out_dir)
    if after == 0:
        # last tombstone lifted: drop the table entirely so ingest
        # returns to the zero-cost no-takedown steady state
        shutil.rmtree(root, ignore_errors=True)
        return before
    tmp, old = Path(f"{root}_new"), Path(f"{root}_old")
    shutil.rmtree(tmp, ignore_errors=True)
    keep.write.mode("overwrite").parquet(str(tmp))
    shutil.rmtree(old, ignore_errors=True)
    root.rename(old)
    tmp.rename(root)
    shutil.rmtree(old, ignore_errors=True)
    return before - after

"""Iceberg-style snapshot log for the index store: atomic commits,
time-travel reads, and snapshot expiration.

The north rule stores the index "as Iceberg tables"; this module gives the
local parquet layout the part of Iceberg's table format the engine actually
leans on — a monotonically numbered snapshot log where every mutation is an
atomic commit and readers can pin any retained snapshot:

- ``build_index`` completion commits an ``op="build"`` snapshot.
- ``incremental_update`` commits an ``op="append"`` snapshot (Iceberg
  AppendFiles: the new posting part + the appended documents files become
  visible atomically; prior snapshots still resolve).
- ``compact_index`` commits an ``op="replace"`` snapshot with
  ``truncate=True`` (Iceberg RewriteFiles + an immediate
  ``expireSnapshots``): the postings tree is rewritten wholesale, so the
  files backing older snapshots are gone and keeping their snapshot
  records would leave dangling manifests — history is truncated to the
  replace commit, exactly like running Iceberg's rewrite_data_files
  followed by expire_snapshots.

What a snapshot pins:
- ``part_ids``: the committed posting parts (directory-level membership;
  an as-of read filters ``part_id IN (...)`` — a partition-column
  predicate, so old parts prune to directory listings at any scale).
- ``documents_files``: the exact parquet files of the doc store at commit
  time (appends add files, never rewrite — Iceberg's data-file manifest).
- ``stats_epoch``: the BM25 statistics version. Stats tables are
  rewritten in place on every commit (they are derived aggregates, not
  data), so each commit retains an immutable copy under
  ``_snapshots/stats_epoch={E}/`` — the analog of Iceberg keeping the old
  stats *files* referenced by the old snapshot. term_stats is
  vocabulary-sized (tiny next to postings: |vocab| rows vs Σdf posting
  entries), so the copy is cheap at any corpus size, and
  ``expire_snapshots`` garbage-collects copies no retained snapshot
  references.

Commit protocol (crash-safe, single-writer like the rest of the store):
stats copy first (content-addressed by epoch, idempotent), then the
snapshot json via tmp + atomic rename. A crash before the rename leaves
HEAD at the previous snapshot and at worst an orphan stats copy, which the
next expire sweep collects; a torn json is impossible.

Reference analog: the reference persists exactly one index state in
Postgres and re-indexing a page destroys the prior state
(IndexationServiceImpl.java:119-131) — snapshots are a capability the
Spark/Iceberg shape adds on top, not a ported behavior.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import SparkSession

from .. import schemas
from ..errors import QueryArgumentError
from .index_build import STATS_TABLES

SNAP_DIR = "_snapshots"
_HWM_FILE = "_id_high_water.json"


def _snap_root(out_dir: str) -> Path:
    return Path(out_dir) / SNAP_DIR


def _read_high_water(out_dir: str) -> int:
    """Highest snapshot id ever issued at this store (0 if never
    recorded). Consulted by commit_snapshot when NO snapshot record is
    retained (history invalidated/expired wholesale) so ids stay
    monotonic — a reissued id would silently alias different data for
    any reader that remembered the old one."""
    p = _snap_root(out_dir) / _HWM_FILE
    if not p.exists():
        return 0
    with open(p) as f:
        return int(json.load(f)["last_id"])


def _record_high_water(out_dir: str, last_id: int) -> None:
    root = _snap_root(out_dir)
    root.mkdir(exist_ok=True)
    p = root / _HWM_FILE
    tmp = p.with_suffix(".json.tmp")
    with open(tmp, "w") as f:
        json.dump({"last_id": max(_read_high_water(out_dir), int(last_id))}, f)
    tmp.rename(p)  # atomic: the mark moves forward or nothing happened


def _snap_file(out_dir: str, snapshot_id: int) -> Path:
    return _snap_root(out_dir) / f"v{snapshot_id:06d}.json"


def stats_dir(out_dir: str, stats_epoch: int) -> Path:
    """Directory holding the immutable stats copy for ``stats_epoch``."""
    return _snap_root(out_dir) / f"stats_epoch={stats_epoch}"


def list_snapshots(out_dir: str) -> list[dict]:
    """All retained snapshots, ascending by id. [] if no store exists."""
    root = _snap_root(out_dir)
    if not root.exists():
        return []
    out = []
    for p in sorted(root.glob("v*.json")):
        with open(p) as f:
            out.append(json.load(f))
    return sorted(out, key=lambda s: s["snapshot_id"])


def current_snapshot(out_dir: str) -> dict | None:
    snaps = list_snapshots(out_dir)
    return snaps[-1] if snaps else None


def resolve_snapshot(out_dir: str, snapshot_id: int | None = None) -> dict:
    """The snapshot to read: explicit id, or HEAD when ``None``. Raises
    loudly for a missing store, an unknown id, an expired id, and a
    record whose pinned files are gone — an as-of read must never
    silently degrade to HEAD or to a partial view."""
    snaps = list_snapshots(out_dir)
    if not snaps:
        if _read_high_water(out_dir) > 0:
            raise QueryArgumentError(
                f"index at {out_dir} retains no snapshots: history was "
                "truncated (compaction REPLACE or a recovery rewrite "
                "expired every record); the next commit mints a fresh one"
            )
        raise QueryArgumentError(
            f"index at {out_dir} has no snapshot store — it predates "
            "snapshot commits; rebuild or run one incremental_update to "
            "mint a snapshot"
        )
    if snapshot_id is None:
        snap = snaps[-1]
    else:
        snap = next(
            (s for s in snaps if s["snapshot_id"] == int(snapshot_id)), None
        )
        if snap is None:
            have = [s["snapshot_id"] for s in snaps]
            raise QueryArgumentError(
                f"snapshot {snapshot_id} not found at {out_dir}: retained "
                f"ids are {have} (older ids were expired by compaction or "
                "expire_snapshots; their backing files are gone)"
            )
    # pin-integrity refusal: a record can survive a crash of the one path
    # that rewrites pinned files mid-way (compaction invalidates history
    # BEFORE its swaps and recovery expires dangling records, but a kill
    # inside those very steps can still strand one). Reading through a
    # dangling pin would either die later with a raw PATH_NOT_FOUND or —
    # worse, for delete_dirs — silently resurrect replaced docs, so check
    # membership here and refuse with the real story.
    from .deletes import DELETES_DIR

    gone_docs = [
        n for n in snap.get("documents_files", [])
        if not (Path(out_dir) / "documents" / n).exists()
    ]
    gone_dels = [
        d for d in (snap.get("delete_dirs") or [])
        if not (Path(out_dir) / DELETES_DIR / d).is_dir()
    ]
    if gone_docs or gone_dels:
        what = []
        if gone_docs:
            what.append(f"documents files {gone_docs[:3]}")
        if gone_dels:
            what.append(f"delete batches {gone_dels[:3]}")
        raise QueryArgumentError(
            f"snapshot {snap['snapshot_id']} at {out_dir} pins "
            f"{' and '.join(what)} that no longer exist (a compaction or "
            "recovery rewrote them); the snapshot is unreadable — expire "
            "it and read a retained one"
        )
    return snap


def _documents_files(out_dir: str) -> list[str]:
    ddir = Path(out_dir) / "documents"
    if not ddir.exists():
        return []
    return sorted(p.name for p in ddir.glob("*.parquet"))


def _committed_part_ids(manifest: dict) -> list[int]:
    return sorted(
        int(r["partition_id"])
        for name, r in manifest.items()
        if name.startswith("part_") and r.get("status") == "DONE"
    )


def _retain_stats_copy(spark_unused, out_dir: str, stats_epoch: int) -> None:
    """Idempotent, content-addressed copy of the current stats tables.

    The epoch is minted fresh by every stats rewrite, so an existing
    ``stats_epoch={E}`` dir already holds exactly this content — skip.
    Copy into a tmp dir then rename so a crash never leaves a half-copied
    dir that resolves."""
    dest = stats_dir(out_dir, stats_epoch)
    if dest.exists():
        return
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for table in STATS_TABLES:
        src = Path(out_dir) / table
        if src.exists():
            shutil.copytree(src, tmp / table)
    tmp.rename(dest)


def commit_snapshot(
    spark: SparkSession,
    out_dir: str,
    operation: str,
    *,
    truncate: bool = False,
    stats_epoch: int | None = None,
    n_docs: int | None = None,
) -> dict:
    """Commit the CURRENT committed state of the index as a snapshot.

    Idempotent: if HEAD already pins the same (stats_epoch, part_ids,
    documents_files), it is returned unchanged — a resumed no-op build
    does not churn the log. With ``truncate=True`` (compaction's REPLACE)
    every older snapshot record is dropped and its stats copies are
    garbage-collected, because the replace rewrote the files they pin.

    ``stats_epoch``/``n_docs``: the mutation paths already hold both (they
    just wrote them), so passing them makes the commit pure filesystem
    work — no Spark job rides the hot build path. When omitted (ad-hoc
    callers), they are read back from corpus_stats."""
    if stats_epoch is None or n_docs is None:
        corpus = schemas.read_row(f"{out_dir}/corpus_stats")
        _ep = corpus.get("stats_epoch")
        stats_epoch = int(_ep) if _ep is not None else 0
        n_docs = int(corpus["n_docs"])
    from .deletes import delete_batch_dirs
    from .index_build import _read_manifest

    state = {
        "stats_epoch": int(stats_epoch),
        "part_ids": _committed_part_ids(_read_manifest(out_dir)),
        "documents_files": _documents_files(out_dir),
        # the delete vector is part of table state: an as-of read applies
        # exactly the batches committed by then (an older snapshot with
        # fewer batches correctly still sees the docs later replaced)
        "delete_dirs": delete_batch_dirs(out_dir),
    }
    head = current_snapshot(out_dir)
    if (
        head is not None
        and not truncate
        and head.get("stats_epoch") == state["stats_epoch"]
        and head.get("part_ids") == state["part_ids"]
        and head.get("documents_files") == state["documents_files"]
        # snapshots minted before delete vectors existed lack the key —
        # treat missing as the empty vector, not a state change
        and (head.get("delete_dirs") or []) == state["delete_dirs"]
    ):
        return head

    _snap_root(out_dir).mkdir(exist_ok=True)
    _retain_stats_copy(spark, out_dir, int(stats_epoch))
    # with no retained head (history invalidated before a compaction swap,
    # or every record expired as dangling) ids continue past the recorded
    # high-water mark — an id is never reissued to different data
    snap = {
        "snapshot_id": (
            (head["snapshot_id"] + 1)
            if head
            else _read_high_water(out_dir) + 1
        ),
        "parent_id": head["snapshot_id"] if head else None,
        "operation": operation,
        "committed_ts": time.time(),
        "n_docs": int(n_docs),
        **state,
    }
    path = _snap_file(out_dir, snap["snapshot_id"])
    tmp = path.with_suffix(".json.tmp")
    with open(tmp, "w") as f:
        json.dump(snap, f, indent=1)
    tmp.rename(path)  # atomic publish: HEAD moves or nothing happened
    if truncate:
        _expire_below(out_dir, snap["snapshot_id"])
    return snap


def _gc_stats_copies(out_dir: str) -> None:
    """Drop stats-epoch copies no retained snapshot references."""
    live_epochs = {s["stats_epoch"] for s in list_snapshots(out_dir)}
    root = _snap_root(out_dir)
    for p in root.glob("stats_epoch=*"):
        suffix = p.name.split("=", 1)[1]
        if p.name.endswith(".tmp") or int(suffix.removesuffix(".tmp")) not in live_epochs:
            shutil.rmtree(p, ignore_errors=True)


def _expire_below(out_dir: str, min_keep_id: int) -> list[int]:
    """Drop snapshot records with id < min_keep_id and GC stats copies no
    retained snapshot references. Postings parts and documents files are
    never deleted here: under append-only commits every data file is still
    live in HEAD, and the one path that rewrites them (compaction) already
    swapped the directories itself."""
    expired = []
    for s in list_snapshots(out_dir):
        if s["snapshot_id"] < min_keep_id:
            _snap_file(out_dir, s["snapshot_id"]).unlink(missing_ok=True)
            expired.append(s["snapshot_id"])
    _gc_stats_copies(out_dir)
    return expired


def invalidate_snapshots(out_dir: str) -> list[int]:
    """Expire EVERY retained snapshot record — called by compact_index
    BEFORE its postings/staging/documents swaps. Compaction renumbers
    posting parts from 0, so a crash between the swap and the final
    REPLACE commit would otherwise leave stale records whose pinned
    part_ids silently alias the NEW compacted parts (an as-of read
    returning wrong rows with no error). Invalidation first turns that
    crash window into a loud "history was truncated" refusal instead.
    The id high-water mark is recorded so the post-swap commit (and any
    commit after a crash) keeps ids monotonic. Returns expired ids."""
    head = current_snapshot(out_dir)
    if head is None:
        return []
    _record_high_water(out_dir, head["snapshot_id"])
    return _expire_below(out_dir, head["snapshot_id"] + 1)


def expire_dangling_snapshots(out_dir: str) -> list[int]:
    """Expire snapshot records whose pinned documents files or delete
    batch dirs no longer all exist. Crash recovery calls this after its
    partial-batch documents rollback — that rollback rewrites the doc
    store under NEW file names, so every retained snapshot's pinned
    documents_files list dangles and as-of reads would die with raw
    PATH_NOT_FOUND (the 'appends only ever ADD files' invariant holds
    for commits, not for rollbacks). Expiring the records keeps the
    store honest: resolve_snapshot reports them expired instead.
    Records with intact pins are retained untouched."""
    snaps = list_snapshots(out_dir)
    if not snaps:
        return []
    from .deletes import DELETES_DIR

    present = set(_documents_files(out_dir))
    expired = []
    for s in snaps:
        dangling = any(
            n not in present for n in s.get("documents_files", [])
        ) or any(
            not (Path(out_dir) / DELETES_DIR / d).is_dir()
            for d in (s.get("delete_dirs") or [])
        )
        if dangling:
            _record_high_water(out_dir, s["snapshot_id"])
            _snap_file(out_dir, s["snapshot_id"]).unlink(missing_ok=True)
            expired.append(s["snapshot_id"])
    if expired:
        _gc_stats_copies(out_dir)
    return expired


def expire_snapshots(out_dir: str, keep_last: int = 2) -> dict:
    """Retention sweep (Iceberg expireSnapshots): keep the newest
    ``keep_last`` snapshots, drop the rest, GC unreferenced stats copies.
    Returns {"expired": [ids], "retained": [ids]}."""
    if keep_last < 1:
        raise QueryArgumentError(
            "keep_last must be >= 1 (HEAD is never expired)"
        )
    snaps = list_snapshots(out_dir)
    if len(snaps) <= keep_last:
        return {"expired": [], "retained": [s["snapshot_id"] for s in snaps]}
    cutoff = snaps[-keep_last]["snapshot_id"]
    expired = _expire_below(out_dir, cutoff)
    return {
        "expired": expired,
        "retained": [s["snapshot_id"] for s in list_snapshots(out_dir)],
    }

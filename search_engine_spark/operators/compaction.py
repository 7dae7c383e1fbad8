"""Index compaction: fold accumulated incremental parts back into a
balanced part layout.

Each streaming/incremental batch appends one new part (operators/
incremental.py); after many batches the postings tree accumulates many
small parts whose per-term block chains fragment (more files listed per
query, shorter varbyte runs). Compaction rebuilds postings from the
staging table — the durable (term, doc_id, dl, tf) fact table that every
part build is derived from — into a fresh `n_parts` layout, then swaps
directories and rewrites the manifest. The reference's analog is the full
wipe-and-rebuild (`clearDB`, IndexationServiceImpl.java:81-86); ours keeps
documents/staging intact and only rewrites the derived postings, so it is
restartable and much cheaper than a rebuild from raw text.

Query equivalence is exact: postings content is (term -> {(doc,tf)}) no
matter the part layout, and BM25 stats are recomputed from the same
staging rows (tests/test_api_compaction.py asserts score identity). Only
the part COUNT changes: every part is re-encoded through the one part
writer (index_build.write_part) in the layout build_index fixed for the
index (block_size, salt_budget, n_buckets, positions), read back from
the index itself.
"""

from __future__ import annotations

import math
import shutil
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import schemas
from .incremental import _live, open_index
from .index_build import (
    _manifest_path,
    _read_manifest,
    _write_manifest_row,
    check_hash_ids,
    run_parts,
    swap_dir,
    write_part,
)

# part jobs run concurrently like build_index's: they write disjoint dirs,
# and the swap below stays atomic
PART_CONCURRENCY = 2


def compact_index(
    spark: SparkSession,
    out_dir: str,
    *,
    n_parts: int = 4,
) -> dict:
    """Rewrite postings into ``n_parts`` balanced parts. Returns
    {"parts_before": int, "parts_after": int}."""
    # open_index repairs any crashed incremental batch FIRST: compacting
    # over an uncommitted orphan staging part would fold its ghost
    # postings into committed parts (and its replay would then duplicate
    # doc_ids)
    manifest, layout = open_index(spark, out_dir)
    parts_before = sum(1 for k in manifest if k.startswith("part_"))

    staging_path = f"{out_dir}/_staging_postings_raw"
    stats_path = f"{out_dir}/term_stats"
    postings_path = f"{out_dir}/postings"
    new_postings = f"{out_dir}/_postings_compacting"

    corpus_row = schemas.read_row(f"{out_dir}/corpus_stats")
    # n_docs from corpus_stats, the SAME source as avgdl/stats_epoch (and
    # rewritten in the same stats swap): the manifest
    # stage_docs copy goes stale in the crash window between an
    # incremental's stats recompute and its manifest rewrite, and a
    # mismatched pair here would truncate the part range (dropping the
    # newest docs' postings) while stamping epoch-valid block maxima
    # computed with the wrong n_docs
    n_docs = int(corpus_row["n_docs"])
    # part ranges divide the ID SPACE (max assigned id + 1, deleted ids
    # included), which diverges from the live n_docs once upserts delete
    # docs — dividing by n_docs there would truncate the highest parts
    id_space = int(corpus_row.get("id_space") or n_docs)
    part_size = max(1, math.ceil(id_space / n_parts))
    avgdl = float(corpus_row["avgdl"]) if corpus_row["avgdl"] else 1.0
    # parts are re-encoded with the CURRENT stats read right here, so
    # they regain the current epoch — compaction restores the stored
    # block_max_score pruning an incremental run disabled
    _ep = corpus_row.get("stats_epoch")
    stats_epoch = int(_ep) if _ep is not None else None
    term_stats = schemas.read_table(spark, stats_path, schemas.TERM_STATS)

    # an index whose every document analyzed to zero terms (or an empty
    # corpus) has a staging dir with no data files: no rows (declared
    # schema); a MISSING dir stays loud (open_index already rejects it
    # for part-ful indexes). A positions index compacts positionally:
    # staging carries the per-(doc, term) position arrays (incremental
    # appends write the same shape), so every re-encoded part keeps the
    # delta-varbyte positions stream the phrase reader needs
    raw = schemas.read_table(
        spark, staging_path, schemas.staging_schema(layout.store_positions)
    )
    # compaction IS the merge of merge-on-read: deleted docs' staging rows
    # are dropped here, so the rebuilt parts carry no replaced postings
    # and the delete vector can be purged after the swaps
    from .deletes import deleted_ids_df, purge_deletes

    del_df = deleted_ids_df(spark, out_dir)
    raw = _live(raw, del_df).withColumn(
        "part_id", (F.col("doc_id") / F.lit(part_size)).cast("int")
    )
    shutil.rmtree(new_postings, ignore_errors=True)
    actual_parts = math.ceil(id_space / part_size) if id_space else 0
    hash_ids = check_hash_ids(term_stats)

    def _compact_part(p: int) -> dict:
        return write_part(
            spark, raw.filter(F.col("part_id") == p), term_stats, p,
            p * part_size, part_size, f"{new_postings}/part_id={p}",
            n_docs=n_docs, avgdl=avgdl, stats_epoch=stats_epoch,
            hash_ids=hash_ids, layout=layout,
        )

    rows = run_parts(_compact_part, range(actual_parts), PART_CONCURRENCY)

    # staging must land in the SAME part layout the new manifest will
    # describe: a leftover old-layout staging dir with part ids outside the
    # new manifest range reads as uncommitted orphans to
    # _recover_uncommitted (incremental.py), which would then chase
    # postings parts compaction just deleted. Rewrite it from the already
    # part_id-recomputed `raw` before any swap.
    new_staging = f"{out_dir}/_staging_compacting"
    shutil.rmtree(new_staging, ignore_errors=True)
    raw.write.mode("overwrite").partitionBy("part_id").parquet(new_staging)

    # invalidate the snapshot log BEFORE any swap: parts renumber from 0,
    # so a crash after the swaps but before the final REPLACE commit would
    # otherwise leave stale snapshot records whose pinned part_ids
    # silently alias the NEW compacted parts — time-travel reads returning
    # wrong rows with no error (r4 review finding). Post-invalidate, that
    # crash window resolves to a loud "history was truncated" refusal;
    # the recorded id high-water mark keeps the replace commit's id
    # monotonic. HEAD reads never consult the log, so this costs nothing.
    from .snapshots import commit_snapshot, invalidate_snapshots

    invalidate_snapshots(out_dir)

    # swap: postings dir replaced wholesale, then staging, then manifest
    # part rows rewritten (on a cluster this is one Iceberg REPLACE
    # snapshot commit; locally the rename gaps are the crash windows and
    # SearchEngine fails loudly on a populated index with no postings dir)
    if Path(new_postings).exists():  # an empty corpus has no postings
        swap_dir(new_postings, postings_path, f"{out_dir}/_postings_old")
    swap_dir(new_staging, staging_path, f"{out_dir}/_staging_old")
    if del_df is not None:
        # merge-on-read merge, documents side: rewrite the doc store
        # without the deleted rows (ids keep their values — the id space
        # keeps holes), THEN purge the vector. Crash between the two
        # leaves vector entries pointing at already-gone rows — harmless,
        # every reader subtracts the vector anyway.
        docs_path = f"{out_dir}/documents"
        new_docs = f"{out_dir}/_documents_compacting"
        shutil.rmtree(new_docs, ignore_errors=True)
        schemas.read_table(spark, docs_path, schemas.DOCUMENTS).join(
            del_df, "doc_id", "left_anti"
        ).write.mode("overwrite").parquet(new_docs)
        swap_dir(new_docs, docs_path, f"{out_dir}/_documents_old")
        purge_deletes(out_dir)
    for name in list(_read_manifest(out_dir)):
        # deletes_* rows are deletes-only commit markers (incremental.py);
        # their batches were purged with the vector above, so the markers
        # go too — a stale marker would pin a part id forever
        if name.startswith("part_") or name.startswith("deletes_"):
            (_manifest_path(out_dir) / f"{name}.json").unlink()
    for row in rows:
        _write_manifest_row(out_dir, f"part_{row['partition_id']:05d}", row)
    stage = dict(manifest["stage_docs"])
    stage["part_size"] = part_size
    _write_manifest_row(out_dir, "stage_docs", stage)
    # REPLACE commit: history was already truncated by the pre-swap
    # invalidation above; truncate=True stays for the case where another
    # writer minted a commit in between (single-writer contract, belt
    # and suspenders) — Iceberg rewrite_data_files + expireSnapshots
    commit_snapshot(
        spark, out_dir, "replace", truncate=True,
        stats_epoch=stats_epoch, n_docs=n_docs,
    )
    return {"parts_before": parts_before, "parts_after": actual_parts}

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
staging rows (tests/test_api_compaction.py asserts score identity).
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from .index_build import (
    _attach_terms,
    _manifest_path,
    _read_manifest,
    _write_manifest_row,
    check_hash_ids,
    encode_salted,
    prepare_salted,
)


def compact_index(
    spark: SparkSession,
    out_dir: str,
    *,
    n_parts: int = 4,
    n_buckets: int | None = None,
    block_size: int = 128,
    salt_budget: int = 100_000,
    part_concurrency: int = 2,
) -> dict:
    """Rewrite postings into ``n_parts`` balanced parts. Returns
    {"parts_before": int, "parts_after": int}."""
    from .incremental import resolve_n_buckets

    manifest = _read_manifest(out_dir)
    if manifest.get("stage_docs", {}).get("status") != "DONE":
        raise ValueError(f"no complete index at {out_dir}")
    # a positions index compacts positionally: staging carries the
    # per-(doc, term) position arrays (they survive incremental appends
    # too — incremental.py writes the same shape), so the re-encode
    # rebuilds each part WITH its delta-varbyte positions stream and the
    # phrase reader keeps a uniform schema across parts
    store_pos = bool(manifest["stage_docs"].get("store_positions", False))
    from .incremental import require_staging

    require_staging(out_dir, manifest)
    version = manifest["stage_docs"].get("index_version", "v1")
    n_buckets = resolve_n_buckets(spark, out_dir, n_buckets)
    # repair any crashed incremental batch FIRST: compacting over an
    # uncommitted orphan staging part would fold its ghost postings into
    # committed parts (and its replay would then duplicate doc_ids)
    from .incremental import _recover_uncommitted

    manifest = _recover_uncommitted(spark, out_dir, manifest, n_buckets)
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
    # schema); a MISSING dir stays loud (require_staging above already
    # rejects it for part-ful indexes)
    raw = schemas.read_table(
        spark, staging_path, schemas.staging_schema(store_pos)
    )
    # compaction IS the merge of merge-on-read: deleted docs' staging rows
    # are dropped here, so the rebuilt parts carry no replaced postings
    # and the delete vector can be purged after the swaps
    from .deletes import deleted_ids_df, purge_deletes

    del_df = deleted_ids_df(spark, out_dir)
    if del_df is not None:
        raw = raw.join(del_df, "doc_id", "left_anti")
    raw = raw.withColumn(
        "part_id", (F.col("doc_id") / F.lit(part_size)).cast("int")
    )
    shutil.rmtree(new_postings, ignore_errors=True)
    t0 = time.time()
    rows_per_part: dict[int, dict] = {}
    actual_parts = math.ceil(id_space / part_size) if id_space else 0

    hash_ids = check_hash_ids(term_stats)

    def _compact_part(p: int) -> None:
        raw_p = raw.filter(F.col("part_id") == p)
        salted = prepare_salted(
            raw_p, term_stats, p * part_size, part_size, salt_budget, hash_ids,
            store_positions=store_pos,
        )
        encoded = _attach_terms(
            encode_salted(salted, spark, n_docs, avgdl, block_size,
                          store_positions=store_pos),
            term_stats,
            n_buckets,
            hash_ids,
            store_positions=store_pos,
        )
        obs = Observation(f"compact_{p}_{int(t0)}")
        encoded = encoded.observe(
            obs,
            F.sum("n").alias("postings_written"),
            F.approx_count_distinct("term").alias("terms_merged"),
            F.sum(
                F.length("doc_ids") + F.length("tfs") + F.length("dls")
            ).alias("bytes_compressed"),
            F.count(F.lit(1)).alias("blocks"),
        )
        encoded.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{new_postings}/part_id={p}"
        )
        m = obs.get
        rows_per_part[p] = {
            "partition_id": p,
            "status": "DONE",
            "started_ts": t0,
            "finished_ts": time.time(),
            "postings_written": int(m["postings_written"] or 0),
            "terms_merged": int(m["terms_merged"] or 0),
            "bytes_compressed": int(m["bytes_compressed"] or 0),
            "blocks": int(m["blocks"] or 0),
            "index_version": version,
            "stats_epoch": stats_epoch,
        }

    # parts are independent jobs writing disjoint dirs — run them
    # concurrently like build_index does (the swap below stays atomic)
    if part_concurrency > 1 and actual_parts > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=part_concurrency) as ex:
            list(ex.map(_compact_part, range(actual_parts)))
    else:
        for p in range(actual_parts):
            _compact_part(p)

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
    old = f"{out_dir}/_postings_old"
    shutil.rmtree(old, ignore_errors=True)
    if Path(postings_path).exists():  # empty-corpus index has no postings
        Path(postings_path).rename(old)
    if Path(new_postings).exists():
        Path(new_postings).rename(postings_path)
    shutil.rmtree(old, ignore_errors=True)
    old_staging = f"{out_dir}/_staging_old"
    shutil.rmtree(old_staging, ignore_errors=True)
    Path(staging_path).rename(old_staging)
    Path(new_staging).rename(staging_path)
    shutil.rmtree(old_staging, ignore_errors=True)
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
        old_docs = f"{out_dir}/_documents_old"
        shutil.rmtree(old_docs, ignore_errors=True)
        Path(docs_path).rename(old_docs)
        Path(new_docs).rename(docs_path)
        shutil.rmtree(old_docs, ignore_errors=True)
        purge_deletes(out_dir)
    for name in list(_read_manifest(out_dir)):
        # deletes_* rows are deletes-only commit markers (incremental.py);
        # their batches were purged with the vector above, so the markers
        # go too — a stale marker would pin a part id forever
        if name.startswith("part_") or name.startswith("deletes_"):
            (_manifest_path(out_dir) / f"{name}.json").unlink()
    for p, row in rows_per_part.items():
        _write_manifest_row(out_dir, f"part_{p:05d}", row)
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

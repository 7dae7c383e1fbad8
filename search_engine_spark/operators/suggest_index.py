"""Symmetric-delete ("SymSpell"-style) suggestion index — the scale path
for SearchEngine.suggest.

The scan path (one pass over term_stats with a length-band prefilter and
the levenshtein DP) is exact and cheap while the vocabulary is small, but
it touches every dictionary row per suggestion. The classic fix is
Wolf Garbe's symmetric-delete scheme: precompute, for every dictionary
term, all variants reachable by deleting up to ``max_edit`` characters;
at query time generate the SAME variants of the query word and look them
up. If lev(word, term) <= e, then aligning the two strings and deleting
the substituted/inserted characters from each side yields a COMMON
variant reachable with <= e deletions from both — so the delete-key
intersection is a SUPERSET of the true match set (property-tested in
tests/test_suggest_index.py), and an exact levenshtein over the few
candidates makes the result identical to the scan path.

Cost model at scale: the index holds O(|vocab| * L^e) short rows
(range-partitioned and sorted by delete key, so a lookup's ``dkey IN``
filter prunes to a handful of row groups); a suggestion reads
O(deletes(word)) keys instead of the whole vocabulary. df values are
NOT stored here — candidates join the live term_stats, so document
deletions/upserts can never serve a stale df. Vocabulary MEMBERSHIP can
still go stale (incremental merges add terms), so the artifact records
the corpus ``stats_epoch`` it was built from and SearchEngine falls back
to the exact scan path whenever the epochs disagree (correct, just
slower — same degrade contract as the block-max bounds).

This is a derived cache, not table state: it is NOT part of snapshot
commits, and snapshot-pinned engines always use the scan path over
their pinned term_stats.

Cite: beyond-reference surface (the reference hard-fails unknown
lemmas, SearchServiceImpl.java:60-62); SURVEY.md §7 scale notes.
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
from pyspark.sql import SparkSession

from .. import schemas
from .query import _sql_in

SUGGEST_DIR = "_suggest_deletes"
DEFAULT_MAX_EDIT = 2
# deletes per term is O(L^max_edit); cap the term length so one
# pathological token cannot explode the index. Query words longer than
# max_term_len - max_edit fall back to the scan path (a longer term
# could otherwise be a true match yet be absent here).
DEFAULT_MAX_TERM_LEN = 32


def delete_variants(word: str, max_edit: int) -> set[str]:
    """All strings reachable from ``word`` by deleting up to ``max_edit``
    characters (including ``word`` itself)."""
    outs = {word}
    frontier = {word}
    for _ in range(max_edit):
        nxt = set()
        for w in frontier:
            for i in range(len(w)):
                nxt.add(w[:i] + w[i + 1:])
        frontier = nxt - outs
        outs |= nxt
    return outs


def _manifest_path(index_dir: str) -> Path:
    return Path(index_dir) / SUGGEST_DIR / "_MANIFEST.json"


def read_suggest_manifest(index_dir: str) -> dict | None:
    p = _manifest_path(index_dir)
    if not p.exists():
        return None
    return json.loads(p.read_text())


def build_suggest_index(
    spark: SparkSession,
    index_dir: str,
    max_edit: int = DEFAULT_MAX_EDIT,
    max_term_len: int = DEFAULT_MAX_TERM_LEN,
    n_parts: int = 8,
) -> dict:
    """Materialize the delete-key table for ``index_dir``'s dictionary:
    (dkey, term) rows, range-partitioned + sorted by dkey so a query's
    ``dkey IN`` filter prunes files and row groups by min/max stats.
    One mapInPandas over the vocab-sized term_stats — no shuffle before
    the write exchange. Records the corpus stats_epoch for the freshness
    handshake."""
    if max_edit < 1:
        raise ValueError("max_edit must be >= 1")
    terms = schemas.read_table(
        spark, f"{index_dir}/term_stats", schemas.TERM_STATS
    ).select("term")
    epoch = schemas.read_row(f"{index_dir}/corpus_stats").get("stats_epoch")
    if epoch is None:
        # a legacy pre-epoch index has no freshness handle, so the
        # O(|vocab| * L^e) build would produce an artifact
        # _suggest_index_usable can never trust — refuse loudly instead
        # of burning the build
        raise ValueError(
            "index has no corpus_stats.stats_epoch (pre-epoch layout); "
            "the delete index's freshness handshake cannot work — "
            "rebuild or compact the index first"
        )

    def gen(batches):
        for pdf in batches:
            keys: list[str] = []
            ts: list[str] = []
            for t in pdf["term"]:
                if t is None or len(t) > max_term_len:
                    continue
                for d in delete_variants(t, max_edit):
                    keys.append(d)
                    ts.append(t)
            if keys:
                yield pd.DataFrame({"dkey": keys, "term": ts})

    out = f"{index_dir}/{SUGGEST_DIR}"
    rows = terms.mapInPandas(gen, schemas.SUGGEST_DELETES)
    (
        rows.repartitionByRange(n_parts, "dkey")
        .sortWithinPartitions("dkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    manifest = {
        "max_edit": int(max_edit),
        "max_term_len": int(max_term_len),
        "stats_epoch": int(epoch),
    }
    _manifest_path(index_dir).write_text(json.dumps(manifest))
    return manifest


def suggest_candidates(
    spark: SparkSession,
    index_dir: str,
    word: str,
    max_edit: int,
):
    """Distinct dictionary terms sharing a delete key with ``word`` —
    the SymSpell candidate superset. The table is read with its
    declared schema (no schema-inference job), and the dkey IN filter,
    parsed from one SQL string, is pushed into the range-partitioned,
    dkey-sorted parquet (file + row-group pruning)."""
    keys = sorted(delete_variants(word, max_edit))
    return (
        schemas.read_table(
            spark, f"{index_dir}/{SUGGEST_DIR}", schemas.SUGGEST_DELETES
        )
        .filter(_sql_in("dkey", keys))
        .select("term")
        .distinct()
    )

"""Top-k query engine over the built index (reference search lifecycle,
SearchServiceImpl.java:34-103; SURVEY.md §3.1).

Engine init reads only metadata, all on the driver with pyarrow (no
Spark job): the corpus_stats row, the delete vector, and the postings /
term_stats / documents datasets (file listings; postings' schema, which
tells has_positions, from one footer). The Spark frames over the same
tables are built on first use.

Flow per query:
  1. analyze the query driver-side (tiny; same analyzer as the build).
  2. dictionary lookup in term_stats — a pyarrow read of <=|q| rows
     (J3, LemmaRepository.java:18-21); term_stats files are sorted by
     term, so the OR-of-equalities filter prunes row groups;
     df-ascending term order (O1).
  3. optional df cutoff (P3, SearchServiceImpl.java:169-178; OFF by default
     — documented deviation, it changes recall).
  4. route (_route). A query whose summed df is under
     LOCAL_PLAN_MAX_POSTINGS runs the LOCAL plan on the driver: pyarrow
     reads the query terms' posting blocks (bucket partition filter +
     term row-group filter), the one decode kernel decodes them and
     masks the delete vector, numpy scores, combines (step 5's order)
     and cuts the top-k (step 6's order) — no Spark job, bit-identical
     to the classic plan. Larger queries run a Spark plan, steps 4'-6.
  4'. posting-block scan: parquet read pruned by `bucket` partition dirs +
     `term` row-group min/max; decode + per-term BM25 partials in
     mapInPandas (Arrow, numpy). Multi-term conjunctive queries
     additionally prune to the RAREST term's doc_id ranges (the
     distributed analog of WAND pointer advance); hot SINGLE-term
     queries run two-pass block-max pruning (seed the k best-bounded
     blocks -> provisional kth score -> skip every block whose score
     upper bound is strictly below it — exact, tie-safe; see
     _single_term_topk).
  5. per-doc combine: pivot per-term partial scores and sum in FIXED
     df-ascending term order (left-to-right chain) so float accumulation is
     bit-identical to the single-node oracle — rank-identity without
     tolerance games.
  6. TakeOrderedAndProject top-(offset+k) by (score DESC, doc_id ASC) —
     deterministic tie-break (fixes the reference's HashSet
     nondeterminism; SURVEY.md §7.5).
  7. point-read the k hits' documents with pyarrow (doc_id filter,
     delete vector subtracted) and build the snippets on the driver
     (SearchEngine.present); search() returns those rows as a list. A
     bounded search() thus runs 0 Spark jobs from engine init to
     snippets, and builds no DataFrame.

Scoring modes:
  - "bm25" (default): idf = ln(1 + (N - df + .5)/(df + .5)), k1=1.2, b=.75
  - "relevance_ref": SUM(tf)/max_tf_sum — exact reference formula
    (IndexRepository.java:14-20)
"""

from __future__ import annotations

import functools
import math
import operator
from dataclasses import dataclass
from functools import cached_property
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.analyzer import analyze_text

from .. import schemas
from ..errors import QueryArgumentError
from ..functions.snippet import make_snippet
from ..session import local_frame
from .index_build import (
    K1, B, _read_manifest, read_layout, resolve_n_buckets,
)


@dataclass
class TermInfo:
    term: str
    df: int
    order: int  # df-ascending rank among query terms


def _span_arrays(spans: list[tuple[int, int]]) -> tuple[np.ndarray, np.ndarray]:
    """Sorted, merged doc_id spans -> the (lo, hi) int64 arrays the
    decode kernel's range mask searches."""
    return (
        np.array([s[0] for s in spans], dtype=np.int64),
        np.array([s[1] for s in spans], dtype=np.int64),
    )


def _pa_any_of(name: str, values, cap: int = 64) -> ds.Expression:
    """pyarrow filter: column ``name`` equals one of ``values``, shaped
    so row-group min/max stats prune. pyarrow 16 prunes row groups on
    ``==`` but not on ``isin``, so up to ``cap`` values this is an OR of
    equalities. Past the cap the OR's cost grows with its length (1,667
    equalities took 5.8 s over 50 row groups), so ``cap`` sorted value
    runs prune the row groups and an ``isin`` keeps the rows."""
    values = sorted(set(values))
    field = ds.field(name)
    if len(values) <= cap:
        return functools.reduce(operator.or_, (field == v for v in values))
    step = -(-len(values) // cap)
    runs = [values[i:i + step] for i in range(0, len(values), step)]
    return functools.reduce(
        operator.or_, ((field >= r[0]) & (field <= r[-1]) for r in runs)
    ) & field.isin(values)


def _sql_in(name: str, values) -> F.Column:
    """``name IN (values)`` (str or int values) parsed from ONE SQL
    string: Column.isin makes one Py4J round trip per literal (720 for
    a 128-query batch's scan)."""
    lits = ", ".join(
        str(v) if isinstance(v, int) else
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for v in values
    )
    return F.expr(f"`{name}` IN ({lits})")


def _partial_scores(tfs, dls, idf, mode, avgdl, max_tf_sum) -> np.ndarray:
    """Per-posting partial scores of one term: the one numpy copy of the
    BM25 expression (CLAUDE.md "Score formula shape"), shared by the
    Spark decode UDFs (candidate_scores, _packed_topk) and the local
    plan. ``dls`` is read only in bm25 mode."""
    if mode == "bm25":
        dls = dls.astype(np.float64)
        denom = tfs + K1 * (1 - B + B * dls / avgdl)
        return idf * (tfs * (K1 + 1)) / denom
    return tfs / max_tf_sum  # relevance_ref (IndexRepository.java:14-20)


def _value(bc):
    """A broadcast's value inside a UDF, None for no broadcast."""
    return bc.value if bc is not None else None


def _decode_blocks(batches, streams, ranges, deleted):
    """The one decode kernel every posting reader runs: in mapInPandas
    for the Spark plans, in-process for the local plan. It closes over
    nothing (arrays come in as arguments), so a reader's UDF pickles
    without the engine.

    For each term group of each scan batch: ONE grouped codec pass over
    the doc_ids plus only the requested ``streams`` (any of "tfs",
    "dls", "positions"; VByte buffers concatenate, see
    codec.varbyte_decode_groups), then the doc_id range mask (``ranges``:
    term -> (lo, hi) span arrays, so ranges may differ per term; a term
    without an entry is unmasked) and the delete-vector mask
    (``deleted``: the sorted id array, or None), each applied once to
    every stream row-aligned — positions by repeating the row mask over
    each row's tf. Yields, per batch that keeps any posting, a list of
    (term, cols): "doc_ids"/"tfs" int64, "dls" uint64, "positions" one
    flat int64 array segmented by cols["tfs"]."""
    from ..functions.codec import (
        decode_doc_ids_grouped,
        decode_positions_grouped,
        varbyte_decode_groups,
    )

    for pdf in batches:
        if len(pdf) == 0:
            continue
        raw = {s: pdf[s].to_numpy() for s in ("doc_ids", *streams)}
        groups = []
        for term, rows in pdf.groupby("term", sort=False).indices.items():
            ids, _ = decode_doc_ids_grouped(list(raw["doc_ids"][rows]))
            if ids.size == 0:
                continue
            cols = {"doc_ids": ids}
            for s in ("tfs", "dls"):
                if s in streams:
                    vals, _ = varbyte_decode_groups(list(raw[s][rows]))
                    cols[s] = vals.astype(np.int64) if s == "tfs" else vals
            if "positions" in streams:
                cols["positions"] = decode_positions_grouped(
                    list(raw["positions"][rows]), cols["tfs"]
                )
            keep = None
            rng = ranges.get(term) if ranges else None
            if rng is not None:
                # lossless pruning (rarest-term ranges under conjunction,
                # scope runs): pruned docs never reach the shuffle
                lo, hi = rng
                pos = np.searchsorted(lo, ids, side="right") - 1
                keep = (pos >= 0) & (ids <= hi[np.clip(pos, 0, None)])
            if deleted is not None:
                # replaced docs never score, match or surface
                live = ~np.isin(ids, deleted)
                keep = live if keep is None else keep & live
            if keep is not None and not keep.all():
                if not keep.any():
                    continue
                if "positions" in cols:
                    cols["positions"] = cols["positions"][
                        np.repeat(keep, cols["tfs"])
                    ]
                cols.update(
                    {s: v[keep] for s, v in cols.items() if s != "positions"}
                )
            groups.append((term, cols))
        if groups:
            yield groups


def _combine_topk(docs, mat, hit, cols, conjunctive, k, offset=0):
    """The one per-query combine and cut (the local plan, one query or a
    batch, and the packed plan's scoring stage). ``mat`` / ``hit`` are
    (rows x terms) partials (+0.0 where missing) / presence, ``docs``
    each row's doc_id, ``cols`` the query's columns df-ascending.
    Presence is the AND (conjunctive) / OR of its hit columns; a kept
    row's score sums its partials left to right, _pivot_combine's chain,
    so the doubles are bit-identical. The cut is (score DESC, doc_id
    ASC) rows [offset, offset + k); past 4x that many candidates an O(n)
    argpartition preselects by score, keeping every tie of the cut
    score. Returns (doc_ids, scores)."""
    n = offset + k
    present = hit[:, cols[0]].copy()
    merge = np.logical_and if conjunctive else np.logical_or
    for c in cols[1:]:
        merge(present, hit[:, c], out=present)
    cand = np.flatnonzero(present)
    if cand.size <= offset:
        return np.empty(0, dtype=np.int64), np.empty(0)
    # presence first (1-byte bool traffic), then 8-byte gathers of the
    # candidate rows only
    cs = mat[cand, cols[0]]
    for c in cols[1:]:
        cs += mat[cand, c]
    docs = docs[cand]
    if cand.size > 4 * n:
        thr = cs[np.argpartition(-cs, n - 1)[n - 1]]
        keep = np.flatnonzero(cs >= thr)
        docs, cs = docs[keep], cs[keep]
    order = np.lexsort((docs, -cs))[offset:n]
    return docs[order], cs[order]


class SearchEngine:
    """Loads index metadata once, on the driver (pyarrow, no Spark job),
    then serves queries over that snapshot. A bounded ``search`` runs the
    local plan and the point-read on the driver (0 Spark jobs); a larger
    one runs its Spark plan's jobs (AQE splits one collect into stage
    jobs) plus the same point-read."""

    def __init__(
        self, spark: SparkSession, index_dir: str,
        n_buckets: int | None = None, snapshot_id: int | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        # Time travel (operators/snapshots.py): an explicit snapshot_id
        # pins the engine to that commit — its stats copy, its posting
        # parts (a part_id partition predicate: directory-level pruning,
        # old parts never listed beyond the filter), and the exact
        # documents files of the commit. snapshot_id=None reads HEAD
        # through the live layout exactly as before (no snapshot store
        # required — legacy indexes keep working).
        self.snapshot: dict | None = None
        stats_root = index_dir
        if snapshot_id is not None:
            from .snapshots import resolve_snapshot, stats_dir

            self.snapshot = resolve_snapshot(index_dir, snapshot_id)
            stats_root = str(stats_dir(index_dir, self.snapshot["stats_epoch"]))
        self._stats_root = stats_root
        # every init read runs on the driver with pyarrow (no Spark job):
        # the one-row corpus_stats, the delete vector, and the datasets
        # (file listings) of term_stats and documents with their declared
        # schemas — a missing dir raises FileNotFoundError here, the
        # API's no-index signal. The Spark frames over the same tables
        # (postings, term_stats, documents below) are built on first use.
        corpus = schemas.read_row(f"{stats_root}/corpus_stats")
        # bucket layout is persisted with the index (corpus_stats.n_buckets);
        # a caller-supplied mismatch would silently prune the wrong partition
        # dirs, so fail loudly instead
        self.n_buckets = resolve_n_buckets(corpus, n_buckets, index_dir)
        self.n_docs = int(corpus["n_docs"])
        # layout bound: doc_ids span [0, id_space) — on an index that ever
        # replaced docs (operators/deletes.py) this EXCEEDS n_docs (the
        # LIVE count BM25 scores with), so anything that turns a doc_id
        # into an array slot (search_many's range buckets, the MaxScore
        # grid) must size by id_space, never n_docs. Older indexes lack
        # the column; there ids are dense and n_docs IS the space.
        _isp = corpus.get("id_space")
        self.id_space = int(_isp) if _isp is not None else self.n_docs
        self.avgdl = float(corpus["avgdl"]) if corpus["avgdl"] else 1.0
        self.max_tf_sum = float(corpus["max_tf_sum"] or 1.0)
        _ep = corpus.get("stats_epoch")
        self._stats_epoch = int(_ep) if _ep is not None else None
        self._dictionary = schemas.arrow_dataset(
            f"{stats_root}/term_stats", schemas.TERM_STATS, ("term", "df")
        )
        # as-of reads pin the commit's documents by exact file list
        # (appends only ever ADD files, so the pinned list is immutable)
        self._documents_files: str | list[str] = (
            f"{index_dir}/documents" if self.snapshot is None else [
                f"{index_dir}/documents/{name}"
                for name in self.snapshot["documents_files"]
            ]
        )
        self._docstore = schemas.arrow_dataset(
            self._documents_files, schemas.DOCUMENTS,
            ("doc_id", "conv_id", "turn_idx", "text"),
        )
        # postings: discovered (hive part_id/bucket dirs), so the schema
        # — has_positions — comes from one footer. A valid index over an
        # EMPTY corpus has no postings directory at all, and one whose
        # every document analyzed to zero terms (symbol-only text:
        # hygiene keeps the docs, the analyzer emits nothing) has part
        # dirs but no data files; both serve empty results (_blocks is
        # None). The missing dir is legal ONLY when the corpus is empty:
        # a populated index without one means a crashed compaction swap
        # (postings renamed away, replacement not renamed in) — that must
        # stay loud, never become silently-zero results. Any other read
        # error (corrupt footer, permissions) propagates.
        self._blocks: ds.Dataset | None = None
        postings_dir = Path(index_dir) / "postings"
        if postings_dir.exists():
            blocks = ds.dataset(
                str(postings_dir), format="parquet", partitioning="hive"
            )
            self._blocks = blocks if blocks.files else None
        elif self.n_docs > 0:
            raise RuntimeError(
                f"index at {index_dir} has n_docs={self.n_docs} but "
                "no postings directory — likely a crashed "
                "compact_index swap; restore _postings_old/"
                "_postings_compacting or rebuild"
            )
        # store_positions=True builds widen postings with the per-block
        # positions stream; search_phrase picks the indexed path off it
        self.has_positions = (
            self._blocks is not None
            and "positions" in self._blocks.schema.names
        )
        # delete vector (operators/deletes.py, upsert support): read once
        # per engine, masked out by the decode kernel, subtracted from
        # every documents read (present, the Spark documents view), so
        # replaced docs neither score nor surface. Pinned snapshots load
        # THEIR vector (a snapshot taken before an upsert correctly still
        # sees the old doc). None (the common case) costs nothing.
        from .deletes import committed_delete_batch_dirs, load_deleted_ids

        # HEAD reads apply only COMMITTED batches (marker row present):
        # an in-flight/crashed batch's deletes are not state yet, and
        # masking them against pre-commit stats would score with an
        # n_docs/df counting docs that can never surface
        self._deleted = load_deleted_ids(
            spark,
            index_dir,
            self.snapshot.get("delete_dirs", [])
            if self.snapshot is not None
            else committed_delete_batch_dirs(index_dir),
        )
        self._init_caches()

    # -- the Spark views, built on first use (a bounded query needs none)
    @cached_property
    def postings(self) -> DataFrame:
        """The posting blocks, read with their declared schema (the
        part_id dir column is discovered from the paths, no job)."""
        schema = schemas.postings_schema(self.has_positions)
        if self._blocks is None:
            return local_frame(self.spark, [], schema)
        blocks = schemas.read_table(
            self.spark, f"{self.index_dir}/postings", schema
        )
        if self.snapshot is not None and "part_id" in blocks.columns:
            # as-of reads pin the commit's parts by partition predicate
            # (an empty live set matches nothing)
            live = [int(p) for p in self.snapshot["part_ids"]]
            blocks = blocks.filter(
                _sql_in("part_id", live) if live else F.lit(False)
            )
        return blocks

    @cached_property
    def term_stats(self) -> DataFrame:
        return schemas.read_table(
            self.spark, f"{self._stats_root}/term_stats", schemas.TERM_STATS
        )

    @cached_property
    def documents(self) -> DataFrame:
        """The doc store (the pinned file list when snapshot-pinned),
        delete vector anti-joined."""
        files = self._documents_files
        docs = (
            schemas.read_table(self.spark, files, schemas.DOCUMENTS)
            if files
            else local_frame(self.spark, [], schemas.DOCUMENTS)
        )
        if self._deleted is None:
            return docs
        ddf = local_frame(
            self.spark, pd.DataFrame({"doc_id": self._deleted}), "doc_id long"
        )
        return docs.join(F.broadcast(ddf), "doc_id", "left_anti")

    @cached_property
    def _deleted_bc(self):
        """The delete vector as a Spark BROADCAST for the Spark plans'
        decode UDFs, not a closure capture: a closure ships the
        O(replaced-docs) int64 array inside EVERY task's serialized UDF,
        a broadcast ships it once per executor (torrent blocks) and tasks
        read the cached value — the difference between O(tasks) and
        O(executors) copies on a high-churn corpus between compactions.
        It lives as long as the engine's SparkContext (vectors are
        compaction-bounded and tiny next to executor memory, so no
        explicit unpersist). None when there are no deletes."""
        if self._deleted is None:
            return None
        return self.spark.sparkContext.broadcast(self._deleted)

    def _init_caches(self) -> None:
        # A SearchEngine is a SNAPSHOT view of an immutable index (it
        # already pins corpus_stats at construction), so per-term
        # dictionary rows and block ranges can be memoized — repeated or
        # vocabulary-overlapping queries skip whole driver-coordinated
        # Spark jobs, the dominant fixed cost of the latency-bound read
        # path. Rebuild the engine after an incremental_update.
        self._df_cache: dict[str, int | None] = {}
        self._ranges_cache: dict[str, list[tuple[int, int]] | None] = {}
        self._stored_bmx_valid: bool | None = None
        # plan-audit breadcrumbs from the last _maxscore_topk run
        self.last_maxscore_stats: dict | None = None

    VALID_MODES = ("bm25", "relevance_ref")

    @classmethod
    def _check_mode(cls, mode: str) -> None:
        # an unrecognized mode must never silently fall through to the
        # relevance_ref else-branches in the scoring kernels
        if mode not in cls.VALID_MODES:
            raise QueryArgumentError(
                f"unknown scoring mode {mode!r}; valid: {cls.VALID_MODES}"
            )

    # ------------------------------------------------------------------
    def lookup_terms(self, query: str, max_df: int | None = None) -> tuple[list[TermInfo], int]:
        """Analyze + dictionary lookup. Returns (present terms df-asc,
        n_missing = count of analyzed terms absent from the dictionary).
        Missing terms under conjunctive semantics make the result empty —
        the caller decides."""
        q_terms = sorted(set(analyze_text(query)))
        return self._infos_for_terms(q_terms, max_df=max_df)

    def _infos_for_terms(
        self, q_terms: list[str], max_df: int | None = None
    ) -> tuple[list[TermInfo], int]:
        """lookup_terms over an already-analyzed, sorted lemma set — the
        shared core, so search_many analyzes each query text exactly
        once."""
        if not q_terms:
            return [], 0
        self._fill_df_cache(q_terms)
        found = {
            t: self._df_cache[t]
            for t in q_terms
            if self._df_cache[t] is not None
        }
        n_missing = sum(1 for t in q_terms if t not in found)
        infos = [
            TermInfo(t, found[t], 0)
            for t in q_terms
            if t in found and (max_df is None or found[t] < max_df)
        ]
        infos.sort(key=lambda ti: (ti.df, ti.term))  # O1 rarest-first
        for i, ti in enumerate(infos):
            ti.order = i
        return infos, n_missing

    def _fill_df_cache(self, terms: list[str]) -> None:
        """Memoize dictionary rows for ``terms`` in one driver-side
        pyarrow read (no Spark job); absent terms memoize as None (the
        single- and batch-query paths must share this contract — see
        lookup_terms / search_many). Both term_stats writers sort each
        file by term, so the equality filter keeps each file's footer
        plus <= |terms| row groups, not the whole vocabulary."""
        uncached = [t for t in terms if t not in self._df_cache]
        if not uncached:
            return
        found = self._dictionary.to_table(
            columns=["term", "df"], filter=_pa_any_of("term", uncached)
        )
        hit = dict(zip(
            found.column("term").to_pylist(), found.column("df").to_pylist()
        ))
        for t in uncached:
            self._df_cache[t] = hit.get(t)

    def _fill_ranges_cache(self, infos: list[TermInfo]) -> None:
        """Memoize the merged doc_id spans of ``infos``' posting blocks
        (the rarest-term ranges conjunctive reads prune to) in one
        driver-side pyarrow read (_read_blocks, no Spark job) — the
        block-range twin of _fill_df_cache. A term memoizes as None (no
        pruning) when it has no blocks or more than PRUNE_MAX_RARE_BLOCKS
        of them; two kinds memoize None without being read: a term absent
        from the dictionary, and one whose df exceeds
        PRUNE_MAX_RARE_BLOCKS * block_size (a block holds at most
        block_size postings, so it has too many blocks)."""
        terms = [ti.term for ti in infos if ti.term not in self._ranges_cache]
        if not terms:
            return
        self._fill_df_cache(terms)
        cap = self.PRUNE_MAX_RARE_BLOCKS
        read = sorted({
            t for t in terms
            if self._df_cache[t] is not None
            and self._df_cache[t] <= cap * self._block_size
        })
        spans: dict[str, list[tuple[int, int]]] = {}
        if read:
            blocks = self._read_blocks(
                read, ["term", "first_doc_id", "last_doc_id"]
            )
            for t, lo, hi in zip(*(
                blocks[c].tolist()
                for c in ("term", "first_doc_id", "last_doc_id")
            )):
                spans.setdefault(t, []).append((lo, hi))
        for t in terms:
            sp = spans.get(t, [])
            self._ranges_cache[t] = (
                self._merge_spans(sp) if 0 < len(sp) <= cap else None
            )

    @cached_property
    def _block_size(self) -> int:
        """The most postings one block holds: the block size the index
        was built with (its recorded layout, 128 for older indexes)."""
        stage = _read_manifest(self.index_dir).get("stage_docs", {})
        return read_layout(self.index_dir, stage).block_size

    def _idf(self, df: int) -> float:
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    # ------------------------------------------------------------------
    # Block skipping (the distributed analog of WAND pointer advance,
    # SURVEY.md §7.3): under conjunctive semantics every match must fall in
    # a doc_id range covered by the RAREST term's blocks. Read those
    # ranges (few — df-ascending order O1 makes term 0 the rarest), merge
    # them, and (a) push an OR-of-ranges filter into the parquet scan so
    # row-group min/max stats skip hot-term blocks entirely, (b) mask
    # decoded doc_ids to the ranges so pruned docs never enter the shuffle.
    PRUNE_MAX_RARE_BLOCKS = 4096   # skip pruning when the rarest term is hot
    PRUNE_MAX_FILTER_RANGES = 64   # OR-chain size Catalyst handles happily
    # Interactive plan routing (_route), on the query's summed df (=
    # decoded postings volume). A plain search_ids runs the packed
    # plan only when it clears this floor; below it the
    # classic pivot plan's lower fixed cost wins. Measured crossover ~1M
    # postings at local[8] on 717k- and 2.87M-doc corpora (BENCH.md).
    BATCH_PLAN_MIN_POSTINGS = 1_000_000
    # Single-term block-max pruning (SURVEY.md §7.3, the true block-max
    # half of "block-max WAND") and multi-term MaxScore: engage only when
    # decoding the whole posting list is expensive enough to buy back
    # the extra seed job
    BLOCKMAX_MIN_POSTINGS = 100_000
    # Below this a query (a search_many batch: its union df) runs on the
    # driver (the local plan): decoding 100k postings takes a few ms at
    # the measured ~22 Mpostings/s, against ~1 CPU-s of Spark fixed cost.
    # Postings average ~7.2 B, so the df bound also bounds the bytes read.
    # Equal to BLOCKMAX_MIN_POSTINGS, so the regimes do not overlap:
    # local below, the Spark plans at or above it.
    LOCAL_PLAN_MAX_POSTINGS = BLOCKMAX_MIN_POSTINGS

    @staticmethod
    def _merge_spans(
        spans: list[tuple[int, int]]
    ) -> list[tuple[int, int]]:
        spans = sorted(spans)
        merged = [spans[0]]
        for lo, hi in spans[1:]:
            if lo <= merged[-1][1] + 1:
                merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
            else:
                merged.append((lo, hi))
        return merged

    # a scope's run count is structurally <= 1 + #incremental batches
    # (see _scope_ranges); blowing past this cap means the doc_id-order
    # invariant broke — stay loud rather than collect unbounded rows
    SCOPE_MAX_RANGES = 4096

    @staticmethod
    def _intersect_spans(
        a: list[tuple[int, int]], b: list[tuple[int, int]]
    ) -> list[tuple[int, int]]:
        """Intersect two sorted, merged interval lists (two-pointer)."""
        out: list[tuple[int, int]] = []
        i = j = 0
        while i < len(a) and j < len(b):
            lo = max(a[i][0], b[j][0])
            hi = min(a[i][1], b[j][1])
            if lo <= hi:
                out.append((lo, hi))
            if a[i][1] < b[j][1]:
                i += 1
            else:
                j += 1
        return out

    def _scope_ranges(self, scope: str) -> list[tuple[int, int]] | None:
        """P4 site-scope → doc_id ranges (SearchServiceImpl.java:105-114).
        doc_ids are dense in (conv_id, turn_idx) order WITHIN each build
        batch (fresh build = one batch; every incremental_update appends
        its own contiguously-numbered batch, compaction restores a single
        batch), so a conv_id PREFIX owns one contiguous doc_id run PER
        BATCH — not one global interval: after an incremental append, a
        naive [min, max] envelope would span every unrelated document
        between the base run and the appended run and scoped search would
        silently return out-of-scope hits. The exact maximal runs are
        recovered distributed-side with two anti-joins (a doc_id STARTS a
        run iff doc_id-1 is not in scope, ENDS one iff doc_id+1 is not),
        so only the ≤ 2·n_batches boundary rows reach the driver; the
        scan still prunes on row-group min/max over first/last_doc_id.
        Returns None when no document matches the scope. Memoized like
        the dictionary rows (immutable snapshot view)."""
        key = f"\x00scope:{scope}"
        if key in self._ranges_cache:
            return self._ranges_cache[key]
        ids = self.documents.filter(
            F.col("conv_id").startswith(scope)
        ).select("doc_id")
        starts = ids.join(
            ids.select((F.col("doc_id") + F.lit(1)).alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        ends = ids.join(
            ids.select((F.col("doc_id") - F.lit(1)).alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        cap = self.SCOPE_MAX_RANGES
        # ONE driver job for both boundary sets (the read path is
        # latency-bound; two sequential collects would double the cold
        # scope-lookup cost). In any doc_id-ordered prefix #starts >=
        # #ends, so a truncated collect of 2*(cap+1) rows always shows
        # > cap starts when the cap is exceeded.
        rows = (
            starts.select("doc_id", F.lit(1).alias("is_start"))
            .unionByName(ends.select("doc_id", F.lit(0).alias("is_start")))
            .orderBy("doc_id", F.desc("is_start"))
            .limit(2 * (cap + 1))
            .collect()
        )
        lo_ids = [int(r["doc_id"]) for r in rows if r["is_start"]]
        hi_ids = [int(r["doc_id"]) for r in rows if not r["is_start"]]
        if len(lo_ids) > cap:
            raise RuntimeError(
                f"scope '{scope}' spans more than {cap} doc_id runs — "
                "the per-batch contiguity invariant is broken (or the "
                "index has seen thousands of incremental batches); run "
                "compact_index to restore a single dense ordering"
            )
        runs = list(zip(lo_ids, hi_ids))
        result = self._merge_spans(runs) if runs else None
        self._ranges_cache[key] = result
        return result


    def _ranges_pred(
        self, ranges: list[tuple[int, int]] | None, lo_col: str, hi_col: str
    ) -> F.Column | None:
        """The one OR-of-ranges pushdown predicate: rows whose
        [lo_col, hi_col] interval overlaps any doc_id span (posting
        blocks: first/last_doc_id; the doc store: doc_id twice). None
        when there is nothing to push. Past PRUNE_MAX_FILTER_RANGES spans
        the smallest gaps are bridged (_coarsen_spans): a superset only
        skips fewer row groups, and the decode-side mask (or the join
        against already-pruned scores) keeps results exact."""
        if not ranges:
            return None
        # merged first: coarsening bridges gaps between disjoint spans
        spans = self._coarsen_spans(
            self._merge_spans(ranges), self.PRUNE_MAX_FILTER_RANGES
        )
        pred = None
        for lo, hi in spans:
            c = (F.col(lo_col) <= hi) & (F.col(hi_col) >= lo)
            pred = c if pred is None else (pred | c)
        return pred

    def _scan_blocks(
        self,
        terms: list[str],
        ranges: list[tuple[int, int]] | None = None,
        columns: list[str] | None = None,
        keep_terms: list[str] | None = None,
    ) -> DataFrame:
        """The one posting-block scan every reader and planner starts
        from. bucket = pmod(hash(term), n_buckets) is a directory
        partition column, so computing the terms' buckets driver-side
        (pure Python murmur3, no Spark job) turns the term filter into
        PartitionFilters (whole bucket dirs skipped) plus the term
        row-group filter. ``ranges`` pushes the doc_id OR-of-ranges
        overlap into the scan (row-group min/max over first/last_doc_id);
        ``keep_terms`` exempts terms whose blocks must be read whole
        (the packed plan's terms with an unpruned subscriber). ``columns``
        projects only the streams a reader decodes; None keeps every
        column for planners that filter on block metadata first."""
        from ..functions.spark_hash import spark_bucket

        buckets = sorted({spark_bucket(t, self.n_buckets) for t in terms})
        blocks = self.postings.filter(
            _sql_in("bucket", buckets) & _sql_in("term", terms)
        )
        overlap = self._ranges_pred(ranges, "first_doc_id", "last_doc_id")
        if overlap is not None:
            if keep_terms:
                overlap = _sql_in("term", keep_terms) | overlap
            blocks = blocks.filter(overlap)
        return blocks if columns is None else blocks.select(*columns)

    def candidate_scores(
        self,
        infos: list[TermInfo],
        mode: str = "bm25",
        conjunctive: bool = True,
        scope_ranges: list[tuple[int, int]] | None = None,
        blocks_df: DataFrame | None = None,
    ) -> DataFrame:
        """Decode matching posting blocks -> (doc_id, order, s) partial
        scores. Partition-pruned by bucket, row-group pruned by term,
        (conjunctive) by rarest-term doc_id ranges, and (scoped) by the
        scope's doc_id run list. Scoring statistics stay GLOBAL under a
        scope (idf/avgdl of the whole corpus — the scope excludes
        candidates, it does not define a sub-corpus; documented deviation
        from the reference's per-site lemma frequencies, SURVEY.md §7.5).
        ``blocks_df`` replaces the scan with a pre-filtered block set
        (the block-max seed / threshold-kept sets, cut from _scan_blocks)."""
        terms = [ti.term for ti in infos]
        params = {
            ti.term: (ti.order, self._idf(ti.df)) for ti in infos
        }
        avgdl, max_tf_sum = self.avgdl, self.max_tf_sum

        ranges = None
        if conjunctive and len(infos) > 1:
            self._fill_ranges_cache(infos[:1])
            ranges = self._ranges_cache[infos[0].term]
        if scope_ranges is not None:
            if ranges is None:
                ranges = scope_ranges
            else:
                # intersect rare-term ranges with the scope's run list
                # (both sorted + merged)
                ranges = self._intersect_spans(ranges, scope_ranges)
                if not ranges:
                    ranges = [(1, 0)]  # empty intersection -> no blocks

        streams = ("tfs", "dls") if mode == "bm25" else ("tfs",)
        cols = ["term", "doc_ids", *streams]
        blocks = (
            self._scan_blocks(terms, ranges, cols)
            if blocks_df is None
            else blocks_df.select(*cols)
        )
        span = {t: _span_arrays(ranges) for t in terms} if ranges else None
        # ship-once-per-executor broadcast handle (None when no deletes);
        # the UDF dereferences .value executor-side
        deleted_bc = self._deleted_bc

        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("order", T.IntegerType(), False),
                T.StructField("s", T.DoubleType(), False),
            ]
        )

        def decode_score(batches):
            deleted = _value(deleted_bc)
            for groups in _decode_blocks(batches, streams, span, deleted):
                outs = []
                for term, c in groups:
                    order, idf = params[term]
                    s = _partial_scores(
                        c["tfs"], c.get("dls"), idf, mode, avgdl, max_tf_sum
                    )
                    outs.append(
                        pd.DataFrame(
                            {
                                "doc_id": c["doc_ids"],
                                "order": np.int32(order),
                                "s": s,
                            }
                        )
                    )
                yield pd.concat(outs, ignore_index=True)

        return blocks.mapInPandas(decode_score, schema=out_schema)

    # ------------------------------------------------------------------
    PLANS = ("local", "classic", "packed", "blockmax", "maxscore")
    # arguments only the classic plan serves (every other plan refuses
    # them when forced); the local plan also serves offset and max_df
    CLASSIC_ONLY = ("scope", "role")

    def _route(
        self,
        infos: list[TermInfo],
        n_missing: int,
        conjunctive: bool,
        offset: int = 0,
        scope: str | None = None,
        max_df: int | None = None,
        role: str | None = None,
        plan: str | None = None,
    ) -> tuple[str, str]:
        """Pick the top-k plan for an already looked-up query -> (plan,
        reason). Pure: no Spark job, it reads only the dfs in ``infos``
        and the routing thresholds. ``plan`` forces one; a forced
        non-classic plan refuses the arguments that ride the classic plan
        (the local plan: scope/role; the Spark plans: offset/scope/role/
        max_df too) with ONE QueryArgumentError.

        Auto routing: scope/role ride the classic plan. Otherwise a plain
        query's hot plans come first (block-max, MaxScore, packed — the
        thresholds a caller shadows low to force them at toy scale),
        then a summed df under LOCAL_PLAN_MAX_POSTINGS runs on the
        driver (offset and max_df too), and the rest runs the classic
        plan. With the default thresholds the local and Spark regimes
        do not overlap."""
        if plan is not None and plan not in self.PLANS:
            raise QueryArgumentError(
                f"unknown plan {plan!r}; valid: {self.PLANS}"
            )
        features = [name for name, on in (
            ("offset", offset != 0), ("scope", scope is not None),
            ("role", role is not None), ("max_df", max_df is not None),
        ) if on]
        classic_only = [f for f in features if f in self.CLASSIC_ONLY]
        if plan == "classic":
            return plan, "forced"
        if plan is not None:
            refused, needs = (
                (classic_only, "scope=None, role=None") if plan == "local"
                else (features, "offset=0, scope=None, role=None, "
                      "max_df=None")
            )
            if refused:
                raise QueryArgumentError(
                    f"plan={plan!r} requires {needs} ({refused[0]} rides "
                    "the classic plan)"
                )
            if plan == "blockmax" and len(infos) != 1 and not (
                conjunctive and n_missing
            ):
                raise QueryArgumentError(
                    "plan='blockmax' requires a single-term query; got "
                    f"{len(infos)} dictionary terms"
                )
            if plan == "maxscore" and conjunctive:
                raise QueryArgumentError(
                    "plan='maxscore' requires conjunctive=False — "
                    "conjunctive queries already prune via rarest-term "
                    "doc_id ranges"
                )
            return plan, "forced"
        if classic_only:
            return "classic", classic_only[0]
        if not infos or (conjunctive and n_missing):
            return "classic", "no match"
        total = sum(ti.df for ti in infos)
        if not features:
            if len(infos) == 1 and total >= self.BLOCKMAX_MIN_POSTINGS:
                return "blockmax", "df >= BLOCKMAX_MIN_POSTINGS"
            if not conjunctive and total >= self.BLOCKMAX_MIN_POSTINGS:
                return "maxscore", "summed df >= BLOCKMAX_MIN_POSTINGS"
            if total >= self.BATCH_PLAN_MIN_POSTINGS:
                return "packed", "summed df >= BATCH_PLAN_MIN_POSTINGS"
        if total < self.LOCAL_PLAN_MAX_POSTINGS:
            return "local", "summed df < LOCAL_PLAN_MAX_POSTINGS"
        if features:
            return "classic", features[0]
        return "classic", "summed df < BATCH_PLAN_MIN_POSTINGS"

    TOPK_SCHEMA = "doc_id long, score double"

    def search_ids(
        self,
        query: str,
        k: int = 10,
        offset: int = 0,
        mode: str = "bm25",
        max_df: int | None = None,
        conjunctive: bool = True,
        scope: str | None = None,
        role: str | None = None,
        plan: str | None = None,
    ) -> DataFrame:
        """Top-k (doc_id, score) — the rank-identity contract surface.
        ``scope`` restricts results to conversations whose conv_id starts
        with it (the reference's site-scoped search,
        SearchServiceImpl.java:105-114) via doc_id-range pushdown.
        ``role`` restricts results to turns whose doc-store role matches
        (transcript-shaped: 'search only what the user said') — one
        semi-join against the delete-masked doc store's (doc_id, role)
        projection BEFORE the top-k cut; rides the classic plan, scoring
        stats stay global like scope.

        Plan selection (``plan``: None = route by cost, or one of
        "local" | "classic" | "packed" | "blockmax" | "maxscore" to force
        it): _route, on the query terms' summed df (the exact
        decoded-postings volume, memoized by the dictionary lookup).
        Under LOCAL_PLAN_MAX_POSTINGS the query runs on the driver
        (_local_topk, a batch of one: no Spark job, offset and max_df
        included) and its rows come back as a local frame; scope/role
        and larger offset/max_df queries run the classic pivot plan; a
        large plain one a hot-term plan (_single_term_topk,
        _maxscore_topk, which may bail back to classic), the packed
        plan (summed df >= BATCH_PLAN_MIN_POSTINGS, the measured
        crossover, BENCH.md "interactive plan routing") or the classic
        plan. All plans are bit-identical by contract
        (tests/test_query.py compares each against "classic")."""
        top = self._topk(
            query, k, offset, mode, max_df, conjunctive, scope, role, plan
        )
        if isinstance(top, DataFrame):
            return top
        return local_frame(self.spark, top, self.TOPK_SCHEMA)

    def _topk(
        self, query: str, k: int, offset: int, mode: str,
        max_df: int | None, conjunctive: bool, scope: str | None,
        role: str | None, plan: str | None,
    ) -> list[tuple[int, float]] | DataFrame:
        """Route and run one query: the (doc_id, score) rows when no
        Spark plan runs (the local plan, an empty result), else the
        Spark plan's lazy top-k frame. search_ids wraps rows in a local
        frame; search hands them to present as they are."""
        self._check_mode(mode)
        infos, n_missing = self.lookup_terms(query, max_df=max_df)
        plan, reason = self._route(
            infos, n_missing, conjunctive, offset, scope, max_df, role, plan
        )
        if (conjunctive and n_missing) or not infos:
            # a query term absent from the dictionary -> no doc matches ALL
            # (reference error contract, SearchServiceImpl.java:60-62);
            # df-pruned terms (P3) do NOT trigger this — they are merely
            # excluded from scoring, matching the reference's pickNonFrequent
            return []
        if plan == "local":
            top = self._local_topk({query: infos}, k, offset, mode,
                                   conjunctive)
            return [(d, s) for _, d, s in top]
        if plan == "blockmax":
            return self._single_term_topk(infos[0], k, mode)
        if plan == "maxscore":
            return self._maxscore_topk(
                infos, k, mode, allow_bailout=reason != "forced"
            )
        if plan == "packed":
            return (
                self._packed_topk({query: infos}, k, mode, conjunctive)
                .select("doc_id", "score")
                .orderBy(F.desc("score"), F.asc("doc_id"))
            )
        scope_ranges = None
        if scope is not None:
            scope_ranges = self._scope_ranges(scope)
            if scope_ranges is None:  # scope matches no documents
                return []

        return self._classic_topk(
            infos, k=k, offset=offset, mode=mode,
            conjunctive=conjunctive, scope_ranges=scope_ranges,
            role=role,
        )

    def _local_topk(
        self, per_q: dict[str, list[TermInfo]], k: int, offset: int,
        mode: str, conjunctive: bool,
    ) -> list[tuple[str, int, float]]:
        """The local plan, one query or a batch: the classic plan's
        answers on the driver, no Spark job. ONE _read_blocks of the
        union's blocks, ONE decode pass (delete vector masked), partials
        once per term, then _combine_topk per query over arrays sized to
        its own postings -> (query_id, doc_id, score) rows. No range
        pass: under the bound decoding every block costs less than the
        extra read, and conjunctive presence yields the same set."""
        if k <= 0:
            return []
        dfs = {ti.term: ti.df for infos in per_q.values() for ti in infos}
        streams = ("tfs", "dls") if mode == "bm25" else ("tfs",)
        blocks = self._read_blocks(sorted(dfs), ["term", "doc_ids", *streams])
        partials = {
            term: (c["doc_ids"], _partial_scores(
                c["tfs"], c.get("dls"), self._idf(dfs[term]), mode,
                self.avgdl, self.max_tf_sum,
            ))
            for groups in _decode_blocks(
                [blocks], streams, None, self._deleted
            )
            for term, c in groups
        }
        none = (np.empty(0, dtype=np.int64), np.empty(0))
        rows = []
        for qid, infos in per_q.items():
            terms = [partials.get(ti.term, none) for ti in infos]
            docs = np.unique(np.concatenate([ids for ids, _ in terms]))
            # this query's own (docs x terms), never the union's
            mat = np.zeros((docs.size, len(terms)))
            hit = np.zeros(mat.shape, dtype=bool)
            for j, (ids, s) in enumerate(terms):
                at = np.searchsorted(docs, ids)
                mat[at, j], hit[at, j] = s, True
            top_d, top_s = _combine_topk(
                docs, mat, hit, range(len(terms)), conjunctive, k, offset
            )
            rows += [(qid, d, s) for d, s in zip(top_d.tolist(),
                                                 top_s.tolist())]
        return rows

    def _read_blocks(
        self, terms: list[str], columns: list[str]
    ) -> pd.DataFrame:
        """The local plan's posting-block read: pyarrow over the postings
        dataset, with the terms' bucket partition filter (whole bucket
        dirs skipped), the term filter (row-group min/max; equalities,
        see _pa_any_of) and, on a snapshot-pinned engine, the pinned
        part_ids — the driver-side twin of _scan_blocks."""
        from ..functions.spark_hash import spark_bucket

        if self._blocks is None:
            return pd.DataFrame(columns=columns)
        pred = _pa_any_of(
            "bucket", [spark_bucket(t, self.n_buckets) for t in terms]
        ) & _pa_any_of("term", terms)
        pinned = self.snapshot is not None
        if pinned and "part_id" in self._blocks.schema.names:
            live = [int(p) for p in self.snapshot["part_ids"]]
            if not live:
                return pd.DataFrame(columns=columns)
            pred = pred & _pa_any_of("part_id", live)
        # one thread: a bounded read touches a few dozen small files, and
        # the thread pool cost more CPU than it saved (22 vs 39 ms for 72
        # fragments)
        return self._blocks.to_table(
            columns=columns, filter=pred, use_threads=False
        ).to_pandas()

    def _empty_topk(self) -> DataFrame:
        return local_frame(self.spark, [], self.TOPK_SCHEMA)

    def _classic_topk(
        self,
        infos: list[TermInfo],
        k: int,
        offset: int = 0,
        mode: str = "bm25",
        conjunctive: bool = True,
        scope_ranges: list[tuple[int, int]] | None = None,
        role: str | None = None,
    ) -> DataFrame:
        """The classic pivot plan over an already-resolved term list —
        shared by ``search_ids`` and ``search_prefix``. ``role``
        semi-joins the scored set against the doc store's matching
        (doc_id, role) rows BEFORE the limit (a filtered-out doc must
        not occupy a result slot)."""
        partials = self.candidate_scores(
            infos, mode=mode, conjunctive=conjunctive,
            scope_ranges=scope_ranges,
        )
        scored = self._pivot_combine(partials, len(infos), conjunctive)
        if role is not None:
            keep = self.documents.filter(
                F.col("role") == role
            ).select("doc_id")
            scored = scored.join(keep, "doc_id", "left_semi")
        topk = (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(offset + k)
        )
        if offset:
            # distributed offset: row_number over the already-limited
            # top-(offset+k) rows (TakeOrderedAndProject), then slice.
            # The single-partition window touches at most offset+k rows —
            # bounded — and the plan stays fused end-to-end (no
            # collect/createDataFrame round-trip through the driver).
            w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
            return (
                topk.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > offset)
                .drop("_rn")
            )
        return topk

    def _pivot_combine(
        self, partials: DataFrame, n: int, conjunctive: bool
    ) -> DataFrame:
        """(doc_id, order, s) partials -> (doc_id, score): pivot to one
        column per term (values are single partial scores, so the
        pivot-sum is exact), then combine left-to-right in df-ascending
        order — fixed float accumulation order, bit-identical to the
        single-node oracle. Shared by the classic plan and the MaxScore
        seed pass (the seed's tau must be a score the final plan could
        emit, or the prune threshold would drift by an ulp)."""
        pivoted = (
            partials.groupBy("doc_id")
            .pivot("order", list(range(n)))
            .agg(F.first("s"))
        )
        score = F.lit(0.0)
        for o in range(n):
            score = score + F.coalesce(F.col(f"`{o}`"), F.lit(0.0))
        scored = pivoted.withColumn("score", score)
        if conjunctive and n > 1:
            present = None
            for o in range(n):
                c = F.col(f"`{o}`").isNotNull()
                present = c if present is None else (present & c)
            scored = scored.filter(present)
        return scored.select("doc_id", "score")

    # ------------------------------------------------------------------
    def _stored_blockmax_valid(self) -> bool:
        """True iff the stored per-block ``block_max_score`` column is
        provably consistent with CURRENT corpus stats: every part's
        manifest row carries the stats_epoch its encoder read, and all
        of them match the epoch stamped on corpus_stats. Any stats
        rewrite (incremental merge) bumps the corpus epoch without
        touching old parts' stamps, so this flips false until a
        compaction re-encodes every part under the new stats. Memoized
        (snapshot-view engine)."""
        if self._stored_bmx_valid is None:
            valid = False
            if self._stats_epoch is not None:
                from .index_build import _read_manifest

                parts = [
                    r
                    for name, r in _read_manifest(self.index_dir).items()
                    if name.startswith("part_")
                ]
                valid = bool(parts) and all(
                    r.get("stats_epoch") is not None
                    and int(r["stats_epoch"]) == self._stats_epoch
                    for r in parts
                )
            self._stored_bmx_valid = valid
        return self._stored_bmx_valid

    def _single_term_topk(self, info: TermInfo, k: int, mode: str) -> DataFrame:
        """Two-pass EXACT block-max top-k for a single-term query:

        1. seed: decode only the k blocks with the highest score bound
           (TakeOrderedAndProject over block metadata — no full decode)
           and collect their top-k -> provisional kth score ``tau``.
           Since the final top-k is over a superset of the seed docs,
           the true kth best score is >= tau.
        2. keep exactly the blocks whose bound >= tau; every doc in a
           dropped block scores <= bound < tau <= true-kth — strictly
           below, so it cannot enter the top-k even via the doc_id
           tie-break. The kept set necessarily contains every seed
           block (a block's bound >= its docs' scores >= tau for the
           block holding the tau doc). Decoding the kept set therefore
           yields the identical top-k, bit-for-bit.

        The win on a hot term (df ~ n_docs): the Arrow/numpy decode —
        the expensive half of the read path — runs over the few blocks
        whose max_tf competes, instead of df/block_size blocks; the
        bound filter itself is a cheap JVM predicate on block metadata
        rows."""
        if k <= 0:  # degenerate-but-valid; the classic plan returns empty
            return self._empty_topk()
        term_blocks = self._scan_blocks([info.term])
        bound = self._bound_col_multi([info], mode)
        seed = (
            term_blocks.withColumn("_bms", bound)
            .orderBy(F.desc("_bms"), F.asc("first_doc_id"))
            .limit(k)
            .drop("_bms")
        )
        seed_rows = (
            self.candidate_scores(
                [info], mode=mode, conjunctive=False, blocks_df=seed
            )
            .orderBy(F.desc("s"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        if len(seed_rows) < k:
            kept = term_blocks  # fewer than k seed docs: no sound bound
        else:
            tau = float(seed_rows[-1]["s"])
            kept = term_blocks.filter(bound >= F.lit(tau))
        partials = self.candidate_scores(
            [info], mode=mode, conjunctive=False, blocks_df=kept
        )
        # single term: the partial IS the score (the classic pivot's
        # 0.0 + s chain is an IEEE no-op on the positive partial)
        return (
            partials.select("doc_id", F.col("s").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # ------------------------------------------------------------------
    # Multi-term block-max pruning (MaxScore / BMW's block-skip half in
    # batch form — SURVEY.md §7.3 "block-max WAND"; reference anchor: the
    # rarest-first candidate loop SearchServiceImpl.java:160-166,
    # generalized to disjunctive semantics the reference never had).
    MAXSCORE_GRID = 4096  # coarse doc_id buckets for the bound-sum sweep
    # auto-routed MaxScore bails back to classic when the p50 bucket
    # ceiling is within this fraction of the max (flat bound distribution
    # = nothing for any tau to prune; see _maxscore_topk)
    MAXSCORE_BAILOUT_P50 = 0.8

    def _bound_col_multi(self, infos: list[TermInfo], mode: str) -> F.Column:
        """Per-block score UPPER BOUND as a Catalyst expression over a
        block frame of ``infos``' terms (the per-term idf comes from a
        literal term->idf map, |q| entries), from ``max_tf`` and the
        CURRENT corpus stats. The stored ``block_max_score`` (exact, idf
        baked in at encode — measured 5432 -> 206 kept blocks on a
        693k-df term, PERF.md) is preferred whenever the stats-epoch
        handshake validates it; otherwise it is frozen at encode time and
        goes stale when incremental updates shift n_docs/avgdl (idf can
        then rise above it and pruning would silently drop true hits).
        The BM25 partial is increasing in tf and decreasing in dl, so
        f(max_tf, dl_eff) with dl_eff = max(min_dl, max_tf) upper-bounds
        every score in the block: docs with dl >= dl_eff are dominated
        directly, and a doc shorter than max_tf has tf <= dl < max_tf, so
        its score f(tf, dl) <= g(dl) <= g(max_tf) <= f(max_tf, dl_eff),
        where g(t) = f(t, t) is increasing. The arithmetic mirrors
        decode_score's numpy literally — when the block's best doc has
        (tf, dl) == (max_tf, dl_eff) the bound equals its score
        bit-for-bit, so the ``bound >= tau`` keep-test is tie-safe.
        Indexes encoded before the min_dl column exist fall back to
        dl_eff = max_tf (sound, looser: the declared read gives null)."""
        mt = F.col("max_tf").cast("double")
        if mode == "bm25":
            if self._stored_blockmax_valid():
                return F.col("block_max_score")
            # min_dl reads as null on indexes encoded before the
            # column, and greatest skips nulls: dl_eff = max_tf there
            dl_eff = F.greatest(F.col("min_dl"), F.col("max_tf")).cast(
                "double"
            )
            idf_map = F.create_map(
                *[
                    lit
                    for ti in infos
                    for lit in (F.lit(ti.term), F.lit(self._idf(ti.df)))
                ]
            )
            denom = mt + F.lit(K1) * (
                F.lit(1 - B) + F.lit(B) * dl_eff / F.lit(self.avgdl)
            )
            return (idf_map[F.col("term")] * (mt * F.lit(K1 + 1))) / denom
        return mt / F.lit(self.max_tf_sum)

    def _maxscore_topk(
        self, infos: list[TermInfo], k: int, mode: str,
        allow_bailout: bool = False,
    ) -> DataFrame:
        """Two-pass EXACT block-max pruning for a multi-term DISJUNCTIVE
        query — the case rarest-term range pruning cannot touch (it is
        only lossless under conjunction) and where a hot OR query
        otherwise decodes every subscribed block.

        1. bound grid (one small distributed agg): every query-term block's
           score upper bound is folded into a coarse doc_id grid of
           MAXSCORE_GRID buckets — max bound per (term, bucket), a block
           contributing to every bucket it overlaps. Collecting the grid
           is O(|q| * GRID) rows regardless of df, so the driver never
           sees per-block metadata of a hot term (at 10^12 docs a hot
           term's block LIST is itself too big to collect — the grid is
           the scale-safe summary).
        2. seed (one bounded decode): the k best-bounded blocks PER TERM
           (WindowGroupLimit over block metadata) are decoded and combined
           through the SAME pivot/fixed-order accumulation as the classic
           plan; the provisional kth score tau under-estimates each seed
           doc's true score (other terms' undecoded blocks can only add),
           so tau <= the true kth score.
        3. sweep (driver-side numpy over the grid): a bucket's score
           ceiling is sum over terms of its max bound — any doc in the
           bucket scores <= that sum. Buckets with ceiling < tau are
           dropped WHOLE (every term's postings for those doc_ids), so a
           surviving doc keeps ALL its term contributions and its final
           score is bit-identical to the classic plan; a dropped doc
           scores <= ceiling < tau <= true-kth, strictly below, so it
           cannot enter the top-k even via the doc_id tie-break. Every
           true top-k doc's bucket necessarily survives (its ceiling >=
           its score >= true-kth >= tau).
        4. the kept buckets merge into doc_id spans and the classic
           plan runs with them as scope_ranges: row-group min/max skips
           non-competitive blocks at the SCAN (the pushdown coarsens the
           spans to PRUNE_MAX_FILTER_RANGES, _ranges_pred — a superset,
           always sound), the decode-side mask drops stragglers.

        Records {tau, buckets_total, buckets_kept, n_spans} in
        ``last_maxscore_stats`` for plan audits."""
        if k <= 0:
            return self._empty_topk()
        blocks = self._scan_blocks([ti.term for ti in infos])
        bound = self._bound_col_multi(infos, mode)

        # -- pass 1a: per-(term, grid-bucket) max bound ------------------
        grid_n = self.MAXSCORE_GRID
        width = max(1, -(-(self.id_space + 1) // grid_n))  # ceil div
        g_first = (F.col("first_doc_id") / F.lit(width)).cast("long")
        g_last = (F.col("last_doc_id") / F.lit(width)).cast("long")
        grid_rows = (
            blocks.withColumn("_bms", bound)
            .select(
                "term",
                F.explode(F.sequence(g_first, g_last)).alias("g"),
                "_bms",
            )
            .groupBy("term", "g")
            .agg(F.max("_bms").alias("bmax"))
            .collect()
        )
        if not grid_rows:  # no postings for any query term
            return self._empty_topk()

        # fold the grid BEFORE the seed decode: the bail-out below must
        # only cost the cheap grid agg, never pass 1b's bounded decode
        ub = np.zeros(grid_n + 1, dtype=np.float64)  # +1: last block may
        for r in grid_rows:  # round last_doc_id into a final part bucket
            g = int(r["g"])
            if 0 <= g <= grid_n:
                ub[g] += float(r["bmax"])
        nz = ub[ub > 0.0]

        # -- adaptive bail-out (auto-routed queries only) -----------------
        # tau can never exceed the global ceiling, so when the bucket
        # ceilings are nearly uniform (p50 within MAXSCORE_BAILOUT_P50 of
        # the max — e.g. a synthetic corpus with near-identical BM25 score
        # ranges everywhere) no achievable tau prunes a meaningful
        # fraction, and the full plan would pay the seed decode + sweep
        # for nothing (measured 3x classic latency on a flat 1.4M-doc
        # corpus). Real Zipf-headed corpora sit far below the threshold.
        # Bailing to the classic plan is always sound — it IS the exact
        # plan; this only skips a pointless pruning attempt.
        if allow_bailout and nz.size > 1:
            p50 = float(np.percentile(nz, 50))
            if p50 >= self.MAXSCORE_BAILOUT_P50 * float(nz.max()):
                self.last_maxscore_stats = {
                    "bailout": True,
                    "p50_over_max": round(p50 / float(nz.max()), 4),
                    "buckets_total": int(nz.size),
                }
                return self._classic_topk(
                    infos, k=k, mode=mode, conjunctive=False
                )

        # -- pass 1b: seed tau from the k best-bounded blocks per term --
        w = Window.partitionBy("term").orderBy(
            F.desc("_bms"), F.asc("first_doc_id")
        )
        seed_blocks = (
            blocks.withColumn("_bms", bound)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn", "_bms")
        )
        seed_partials = self.candidate_scores(
            infos, mode=mode, conjunctive=False, blocks_df=seed_blocks
        )
        seed_rows = (
            self._pivot_combine(seed_partials, len(infos), False)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        if len(seed_rows) < k:
            # fewer than k candidate docs exist in the seed superset: no
            # sound threshold — decode everything (classic disjunctive)
            self.last_maxscore_stats = None
            return self._classic_topk(infos, k=k, mode=mode, conjunctive=False)
        tau = float(seed_rows[-1]["score"])

        # -- pass 2: driver-side bound-sum sweep over the grid ------------
        kept = np.flatnonzero(ub >= tau)
        self.last_maxscore_stats = {
            "tau": tau,
            "buckets_total": int((ub > 0.0).sum()),
            "buckets_kept": int(kept.size),
        }
        if kept.size == 0:
            # cannot happen with a sound bound (the tau doc's own bucket
            # clears it) — fail safe, not fast
            return self._classic_topk(infos, k=k, mode=mode, conjunctive=False)
        spans = self._merge_spans(
            [(int(g) * width, int(g) * width + width - 1) for g in kept]
        )
        self.last_maxscore_stats["n_spans"] = len(spans)
        return self._classic_topk(
            infos, k=k, mode=mode, conjunctive=False, scope_ranges=spans
        )

    @staticmethod
    def _coarsen_spans(
        spans: list[tuple[int, int]], cap: int
    ) -> list[tuple[int, int]]:
        """Reduce a sorted merged span list to <= cap spans by bridging
        the SMALLEST inter-span gaps (keeping a superset is always sound
        for pruning; the scan filter just skips a little less)."""
        if len(spans) <= cap:
            return spans
        gaps = np.array(
            [spans[i + 1][0] - spans[i][1] for i in range(len(spans) - 1)]
        )
        # keep the (cap - 1) largest gaps as separators; bridge the rest
        sep = set(np.argsort(gaps)[-(cap - 1):].tolist()) if cap > 1 else set()
        out: list[tuple[int, int]] = []
        cur_lo, cur_hi = spans[0]
        for i in range(1, len(spans)):
            if (i - 1) in sep:
                out.append((cur_lo, cur_hi))
                cur_lo, cur_hi = spans[i]
            else:
                cur_hi = spans[i][1]
        out.append((cur_lo, cur_hi))
        return out

    # ------------------------------------------------------------------
    PREFIX_MAX_EXPANSIONS = 64

    def search_prefix(
        self,
        prefix: str,
        k: int = 10,
        mode: str = "bm25",
        max_expansions: int | None = None,
    ) -> DataFrame:
        """Prefix query: expand ``prefix`` against the dictionary
        (term_stats, the J3 lookup surface) to every term starting with
        it, then score DISJUNCTIVELY over the expansion set with the same
        df-ascending fixed-order accumulation as ``search_ids`` — so
        ``search_prefix("sp")`` ranks exactly like a disjunctive search
        for every dictionary term in ['sp', 'spz'). Beyond the reference
        (its query path is exact-lemma only) but a standard fulltext
        surface (Lucene PrefixQuery).

        The expansion collect is bounded: more than ``max_expansions``
        matching dictionary terms raises loudly (no silent caps — a
        1-char prefix over a 100 TB vocabulary is a user error, and
        silently scoring a truncated expansion set would change ranking;
        Lucene throws TooManyClauses for the same reason)."""
        self._check_mode(mode)
        if not prefix:
            raise QueryArgumentError("prefix must be non-empty")
        return self._expand_terms_topk(
            F.col("term").startswith(prefix), f"prefix '{prefix}'",
            k=k, mode=mode, max_expansions=max_expansions,
        )

    # ------------------------------------------------------------------
    def search_suffix(
        self,
        suffix: str,
        k: int = 10,
        mode: str = "bm25",
        max_expansions: int | None = None,
    ) -> DataFrame:
        """Leading-wildcard query (`*ing`): expand ``suffix`` against the
        dictionary to every term ENDING with it, then score disjunctively
        with the same fixed-order accumulation — the suffix twin of
        ``search_prefix`` (Lucene WildcardQuery's leading-* case), same
        loud expansion cap.

        Plan note: unlike a prefix (which dictionary sort order could
        serve), a suffix match is a full vocab-sized dictionary scan —
        the same cost class as ``suggest``'s scan path, fine at any
        corpus scale because the vocabulary grows ~sublinearly. The
        classic index-side fix (a reversed-term dictionary column
        turning suffix into prefix) is the documented next step if the
        vocabulary ever warranted it."""
        self._check_mode(mode)
        if not suffix:
            raise QueryArgumentError("suffix must be non-empty")
        return self._expand_terms_topk(
            F.col("term").endswith(suffix), f"suffix '{suffix}'",
            k=k, mode=mode, max_expansions=max_expansions,
        )

    def _expand_terms_topk(
        self, pred, desc: str, k: int, mode: str,
        max_expansions: int | None,
    ) -> DataFrame:
        """Shared dictionary-expansion tail for prefix/suffix queries:
        bounded expansion collect (loudly refusing past the cap — a
        silently truncated expansion set would change ranking, Lucene's
        TooManyClauses contract), df-asc ordered TermInfos, disjunctive
        classic plan."""
        cap = (
            self.PREFIX_MAX_EXPANSIONS
            if max_expansions is None
            else int(max_expansions)
        )
        rows = (
            self.term_stats.filter(pred)
            .select("term", "df")
            .limit(cap + 1)
            .collect()
        )
        if len(rows) > cap:
            raise QueryArgumentError(
                f"{desc} expands to more than {cap} dictionary "
                "terms; use a longer pattern or raise max_expansions"
            )
        if not rows:
            return self._empty_topk()
        found = {r["term"]: int(r["df"]) for r in rows}
        self._df_cache.update(found)
        infos = [
            TermInfo(t, d, 0)
            for t, d in sorted(found.items(), key=lambda kv: (kv[1], kv[0]))
        ]
        for i, ti in enumerate(infos):
            ti.order = i
        return self._classic_topk(infos, k=k, mode=mode, conjunctive=False)

    # ------------------------------------------------------------------
    def _positions_rows(
        self,
        infos: list[TermInfo],
        ranges: list[tuple[int, int]] | None,
    ) -> DataFrame:
        """(doc_id, term, positions) rows decoded from the positions
        stream of the given terms' posting blocks (store_positions=True
        builds) — bucket-pruned and range-pruned exactly like
        candidate_scores, delete-vector masked like every reader.
        positions are the 0-based token indexes in the analyzed lemma
        array (the phrase_count_col coordinate space)."""
        terms = [ti.term for ti in infos]
        streams = ("tfs", "positions")
        blocks = self._scan_blocks(terms, ranges, ["term", "doc_ids", *streams])
        span = {t: _span_arrays(ranges) for t in terms} if ranges else None
        deleted_bc = self._deleted_bc

        def gen(batches):
            deleted = _value(deleted_bc)
            for groups in _decode_blocks(batches, streams, span, deleted):
                outs = []
                for term, c in groups:
                    pos = c["positions"].astype(np.int32)
                    offs = np.concatenate(([0], np.cumsum(c["tfs"])))
                    outs.append(
                        pd.DataFrame(
                            {
                                "doc_id": c["doc_ids"],
                                "term": term,
                                "positions": [
                                    pos[lo:hi]
                                    for lo, hi in zip(offs[:-1], offs[1:])
                                ],
                            }
                        )
                    )
                yield pd.concat(outs, ignore_index=True)

        return blocks.mapInPandas(
            gen, schema="doc_id long, term string, positions array<int>"
        )

    # ------------------------------------------------------------------
    def _pivot_positions(
        self,
        infos: list[TermInfo],
        ranges: list[tuple[int, int]] | None,
        distinct: list[str],
    ) -> DataFrame:
        """Per-doc position arrays for the distinct lemmas: one `_p{i}`
        array column per lemma, NULL when the doc lacks it — a NULL
        pivots any exists() over it to non-true, which is exactly what
        conjunctive semantics require. Shared by the positional phrase
        and proximity plans (the match predicate is the only thing that
        differs between them)."""
        return self._positions_rows(infos, ranges).groupBy("doc_id").agg(
            *[
                F.max(
                    F.when(F.col("term") == t, F.col("positions"))
                ).alias(f"_p{i}")
                for i, t in enumerate(distinct)
            ]
        )

    def _range_pruned_docs(
        self, ranges: list[tuple[int, int]] | None
    ) -> DataFrame:
        """(doc_id, text) view pruned to the rarest-term doc_id spans —
        the scan side of the residual phrase/proximity fallback, so row
        groups that cannot hold a candidate are skipped."""
        docs = self.documents.select("doc_id", "text")
        within = self._ranges_pred(ranges, "doc_id", "doc_id")
        return docs if within is None else docs.filter(within)

    @staticmethod
    def _topk_matched(scored: DataFrame, matched: DataFrame, k: int) -> DataFrame:
        """Standard tail: restrict the conjunctive scores to the matched
        docs, (score DESC, doc_id ASC) top-k."""
        return (
            scored.join(matched, "doc_id")
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # ------------------------------------------------------------------
    def search_phrase(
        self, phrase_text: str, k: int = 10, mode: str = "bm25",
        via_positions: bool | None = None,
    ) -> DataFrame:
        """Indexed exact-phrase top-k, candidate-first (the composition
        PERF.md documents; positions-in-codec is explicitly traded away
        for ~2x smaller postings): BM25 candidates come THROUGH the
        index — the analyzed phrase's distinct lemmas run the classic
        conjunctive plan (rarest-term range pruning, pivot, fixed-order
        accumulation), uncut — and the phrase test (contiguous lemma run,
        functions/phrase.phrase_count_col) is a RESIDUAL Catalyst filter
        evaluated only around the k-bounded candidate join, never as a
        full-corpus re-analysis (the naive plan a positional-index-less
        engine falls into; phrase_match keeps that shape as the oracle
        baseline). The documents side of the join is additionally
        range-pruned to the rarest lemma's doc_id spans, so the scan
        skips row groups that cannot hold a candidate.

        Scores are the conjunctive BM25 scores of the surviving docs —
        bit-identical to search_ids on the same lemma set restricted to
        phrase matches (the filter drops rows, never touches floats).
        A phrase lemma missing from the dictionary means no document can
        contain the phrase: empty result (the search_ids contract).
        Cite: SearchServiceImpl.java:155-168 (the candidate loop this
        composes with); beyond-reference surface like search_prefix.

        On a store_positions=True index (``via_positions`` defaults to
        the index's capability) the phrase test never touches the doc
        store at all: the phrase lemmas' position streams are decoded
        from the SAME range-pruned blocks, pivoted per doc, and the
        contiguity check (exists p in pos[L0]: p+j in pos[Lj] for all j)
        runs as a JVM higher-order array expression — the true
        positional-index plan, at the documented ~storage cost."""
        from ..functions.analyzer import terms_col
        from ..functions.phrase import phrase_count_col

        self._check_mode(mode)
        if via_positions is None:
            via_positions = self.has_positions
        if via_positions and not self.has_positions:
            raise QueryArgumentError(
                "via_positions=True requires a store_positions=True index "
                "(postings have no positions column)"
            )
        lemmas = analyze_text(phrase_text)  # ordered, duplicates kept
        if not lemmas:
            raise QueryArgumentError("phrase analyzes to zero lemmas")
        distinct = sorted(set(lemmas))
        infos, n_missing = self._infos_for_terms(distinct)
        if n_missing:
            return self._empty_topk()
        partials = self.candidate_scores(infos, mode=mode, conjunctive=True)
        scored = self._pivot_combine(partials, len(infos), conjunctive=True)
        self._fill_ranges_cache(infos[:1])
        ranges = self._ranges_cache[infos[0].term]
        if via_positions and len(lemmas) > 1:
            # indexed phrase test: decode the phrase lemmas' position
            # streams (already range-pruned to the rarest lemma's spans),
            # pivot to one array column per distinct lemma, keep docs
            # where some occurrence of lemmas[0] is followed contiguously
            # by the rest. A doc missing a lemma pivots to NULL and the
            # exists() evaluates non-true — dropped, as conjunctive
            # semantics require (scored already enforces it too).
            col_of = {t: i for i, t in enumerate(distinct)}
            pivot = self._pivot_positions(infos, ranges, distinct)

            def _contig(x):
                c = None
                for j in range(1, len(lemmas)):
                    cj = F.array_contains(
                        F.col(f"_p{col_of[lemmas[j]]}"), x + j
                    )
                    c = cj if c is None else (c & cj)
                return c

            matched = pivot.filter(
                F.exists(F.col(f"_p{col_of[lemmas[0]]}"), _contig)
            ).select("doc_id")
            return self._topk_matched(scored, matched, k)
        if via_positions:
            # single-lemma phrase: presence IS the phrase test; scored is
            # already exactly the containing docs — no positions needed
            return (
                scored.select("doc_id", "score")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        docs = self._range_pruned_docs(ranges)
        occ = phrase_count_col(terms_col(F.col("text")), tuple(lemmas))
        return self._topk_matched(
            scored, docs.filter(occ >= F.lit(1)).select("doc_id"), k
        )

    # ------------------------------------------------------------------
    def search_proximity(
        self, term_a: str, term_b: str, window: int, k: int = 10,
        mode: str = "bm25", via_positions: bool | None = None,
    ) -> DataFrame:
        """Indexed proximity top-k: docs where the two terms' lemmas
        co-occur within ``window`` tokens, scored with the conjunctive
        BM25 of the pair — the within-k twin of ``search_phrase``, and
        the indexed replacement for the full-corpus text-scan plan
        (functions/phrase.min_distance_col over re-analyzed text, kept
        as the oracle baseline). Candidates come THROUGH the index
        (rarest-term range pruning, pivot, fixed-order accumulation).

        On a store_positions=True index (``via_positions`` defaults to
        the index's capability) the within-window test never touches the
        doc store: both lemmas' position streams decode from the SAME
        range-pruned posting blocks, pivot per doc, and the test
        (exists i in pos[a], j in pos[b]: |i - j| <= window) runs as a
        JVM higher-order array expression. Without positions the test is
        a residual Catalyst filter over the range-pruned doc store, same
        as the phrase fallback. Both plans are bit-identical: the filter
        drops rows, never touches floats (tests/test_positions.py).

        A term missing from the dictionary, or both terms analyzing to
        the same lemma, can never satisfy the two-distinct-lemmas
        contract the distance is defined over — empty result / loud
        error respectively. Cite: beyond-reference surface (the
        reference stores per-doc lemma counts only,
        IndexationServiceImpl.java); VERDICT r4 "Next round #4"."""
        from ..functions.analyzer import terms_col
        from ..functions.phrase import min_distance_col

        self._check_mode(mode)
        if window < 0:
            raise QueryArgumentError("window must be >= 0")
        if via_positions is None:
            via_positions = self.has_positions
        if via_positions and not self.has_positions:
            raise QueryArgumentError(
                "via_positions=True requires a store_positions=True index "
                "(postings have no positions column)"
            )
        la = analyze_text(term_a)
        lb = analyze_text(term_b)
        if len(la) != 1 or len(lb) != 1:
            raise QueryArgumentError(
                f"each proximity term must analyze to exactly one lemma "
                f"(got {la!r} / {lb!r})"
            )
        la, lb = la[0], lb[0]
        if la == lb:
            raise QueryArgumentError(
                f"proximity terms analyze to the same lemma {la!r}"
            )
        distinct = sorted((la, lb))
        infos, n_missing = self._infos_for_terms(distinct)
        if n_missing:
            return self._empty_topk()
        partials = self.candidate_scores(infos, mode=mode, conjunctive=True)
        scored = self._pivot_combine(partials, len(infos), conjunctive=True)
        self._fill_ranges_cache(infos[:1])
        ranges = self._ranges_cache[infos[0].term]
        if via_positions:
            # indexed within-window test over the shared pivot (a doc
            # missing a lemma pivots to NULL and the exists() evaluates
            # non-true — dropped, as conjunctive semantics require)
            pivot = self._pivot_positions(infos, ranges, distinct)
            w = F.lit(int(window))
            matched = pivot.filter(
                F.exists(
                    F.col("_p0"),
                    lambda i: F.exists(
                        F.col("_p1"), lambda j: F.abs(i - j) <= w
                    ),
                )
            ).select("doc_id")
            return self._topk_matched(scored, matched, k)
        docs = self._range_pruned_docs(ranges)
        mind = min_distance_col(terms_col(F.col("text")), la, lb)
        return self._topk_matched(
            scored, docs.filter(mind <= F.lit(int(window))).select("doc_id"), k
        )

    # ------------------------------------------------------------------
    def matching_doc_ids(
        self,
        infos: list[TermInfo],
        ranges: list[tuple[int, int]] | None = None,
    ) -> DataFrame:
        """One row per (containing doc, term) for ``infos``' terms —
        membership only, no scores, term identity not materialized.
        Decodes ONLY the doc_ids stream (the parquet scan reads the
        doc_ids binary column and the term, never tfs/dls, and the
        kernel skips their VByte passes; bucket partition pruning and
        term row-group pushdown as in candidate_scores). ``ranges``
        pushes a doc_id-range OR-filter into the scan plus a
        decode-side mask — lossless under conjunctive semantics,
        INVALID for negation (a NOT caller must see every containing
        doc, so search_not never passes ranges). The delete vector is
        subtracted like every posting reader (a replaced doc's old id
        must not act on any result). A (doc, term) pair yields exactly
        one row (salted hot-term blocks split by DISJOINT doc
        subranges, parts hold disjoint doc batches), so a per-doc row
        count equals the number of query terms the doc contains —
        match_count's conjunctive test; anti-join callers need no
        distinct, any-match callers dedup."""
        terms = [ti.term for ti in infos]
        blocks = self._scan_blocks(terms, ranges, ["term", "doc_ids"])
        span = {t: _span_arrays(ranges) for t in terms} if ranges else None
        deleted_bc = self._deleted_bc
        out_schema = T.StructType(
            [T.StructField("doc_id", T.LongType(), False)]
        )

        def decode_ids(batches):
            deleted = _value(deleted_bc)
            for groups in _decode_blocks(batches, (), span, deleted):
                ids = np.concatenate([c["doc_ids"] for _, c in groups])
                yield pd.DataFrame({"doc_id": ids})

        return blocks.mapInPandas(decode_ids, schema=out_schema)

    # ------------------------------------------------------------------
    def match_count(
        self, query: str, conjunctive: bool = True
    ) -> DataFrame:
        """TOTAL number of matching documents — the 'about N results'
        figure next to a ranked page — without computing a single
        score: the membership-only reader (ids-stream decode, 1 binary
        column read) feeds a per-doc term count (= conjunctive test)
        and a global count. Conjunctive queries keep the rarest-term
        doc_id-range pruning (lossless, as in candidate_scores).
        Returns one row (n_matches long). Cite: the reference's result
        count A7 (SearchServiceImpl.java:78-90) generalized to the
        whole match set instead of the page."""

        infos, n_missing = self.lookup_terms(query)
        if (conjunctive and n_missing) or not infos:
            return local_frame(self.spark, [(0,)], "n_matches long")
        ranges = None
        if conjunctive and len(infos) > 1:
            self._fill_ranges_cache(infos[:1])
            ranges = self._ranges_cache[infos[0].term]
        pairs = self.matching_doc_ids(infos, ranges=ranges)
        if conjunctive and len(infos) > 1:
            matched = (
                pairs.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") == len(infos))
            )
        else:
            matched = pairs.select("doc_id").distinct()
        return matched.agg(
            F.count(F.lit(1)).cast("long").alias("n_matches")
        )

    # ------------------------------------------------------------------
    def search_not(
        self, query: str, exclude_query: str, k: int = 10,
        mode: str = "bm25", conjunctive: bool = True,
    ) -> DataFrame:
        """Boolean NOT: top-k for ``query`` restricted to docs containing
        NO lemma of ``exclude_query`` — the missing boolean connective
        next to conjunctive (AND) and disjunctive (OR) search_ids modes.
        Cite: beyond-reference surface (the reference's query language is
        conjunctive-only, SearchServiceImpl.java:34-103).

        Plan: the classic pivot plan scores the positive terms (rarest-
        term range pruning intact), then ONE left-anti join against the
        excluded lemmas' decoded doc_ids drops excluded docs BEFORE the
        top-k cut (an excluded doc must not occupy a result slot). The
        exclusion side cannot be range-pruned — NOT must see every doc
        that contains the excluded lemma, that's inherent to negation —
        but it runs the membership-only reader (matching_doc_ids):
        bucket partition pruning + term row-group pushdown like any
        scan, ONE binary column read, ids-stream-only decode. Exclusion lemmas absent from the dictionary
        exclude nothing; positive-term semantics are exactly search_ids'.
        Both sides run the delete-vector-masked decode kernel, so a
        replaced doc can neither match nor shield a match."""
        self._check_mode(mode)
        infos, n_missing = self.lookup_terms(query)
        if (conjunctive and n_missing) or not infos:
            return self._empty_topk()
        ex_terms = sorted(set(analyze_text(exclude_query)))
        ex_infos, _ = self._infos_for_terms(ex_terms)
        partials = self.candidate_scores(
            infos, mode=mode, conjunctive=conjunctive
        )
        scored = self._pivot_combine(partials, len(infos), conjunctive)
        if ex_infos:
            scored = scored.join(
                self.matching_doc_ids(ex_infos), "doc_id", "left_anti"
            )
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        )

    # ------------------------------------------------------------------
    def _suggest_index_usable(self, word: str, max_edit: int) -> bool:
        """True iff the symmetric-delete index (operators/
        suggest_index.py) can answer (word, max_edit) EXACTLY: built,
        covering the requested edit distance, fresh (its recorded
        stats_epoch matches the live corpus — incremental merges grow
        the vocabulary, which only the scan path sees), word short
        enough that the builder's term-length cap cannot hide a true
        match, and the engine not pinned to a snapshot (the delete
        index is a HEAD-derived cache)."""
        if self.snapshot is not None:
            return False
        from .suggest_index import read_suggest_manifest

        m = read_suggest_manifest(self.index_dir)
        if m is None or max_edit > m["max_edit"]:
            return False
        if m["stats_epoch"] is None or m["stats_epoch"] != self._stats_epoch:
            return False
        # a true match is at most max_edit longer than the word, so the
        # REQUESTED distance decides whether the index's length cap can
        # hide it
        return len(word) <= m["max_term_len"] - max_edit

    def suggest(
        self, word: str, max_edit: int = 2, k: int = 10,
        use_delete_index: bool | None = None,
    ) -> DataFrame:
        """Spell suggestion ("did you mean"): dictionary lemmas within
        Levenshtein distance ``max_edit`` of the lowercased ``word``,
        ranked (dist ASC, df DESC, term ASC) top-k — closest first, most
        common within a distance first. Cite: beyond-reference surface
        (the reference hard-fails unknown lemmas, SearchServiceImpl.java:
        60-62 — this is the recovery path a user hits right after).

        Scan path (the exact baseline): ONE narrow scan of the
        vocab-sized dictionary (term_stats) with a length-band prefilter
        (|len(term) - len(word)| <= max_edit lower-bounds the edit
        distance, so most of the vocabulary never reaches the DP), the
        JVM levenshtein expression for survivors, and a
        TakeOrderedAndProject top-k. No shuffle, no Python, no collect.

        Scale path (``use_delete_index``, default: auto when fresh): the
        symmetric-delete index (operators/suggest_index.py) — the query
        word's own delete variants probe the range-partitioned delete-key
        table (file/row-group pruning), the candidate superset joins the
        LIVE term_stats for df, and the same exact levenshtein filter +
        ordering run over the few candidates. Bit-identical to the scan
        path by construction (superset + exact filter; parity-tested and
        oracle-gated by ``engine_suggest_fast``); silently degrades to
        the scan path when the index is missing, stale (stats_epoch
        handshake), too narrow for the requested edit distance, or the
        engine is snapshot-pinned."""
        w = (word or "").strip().lower()
        if not w:
            raise QueryArgumentError("suggest() needs a non-empty word")
        max_edit = int(max_edit)
        if max_edit < 0:
            raise QueryArgumentError("max_edit must be >= 0")
        if use_delete_index is None:
            use_delete_index = max_edit >= 1 and self._suggest_index_usable(
                w, max_edit
            )
        elif use_delete_index and not self._suggest_index_usable(w, max_edit):
            raise QueryArgumentError(
                "use_delete_index=True but the delete index cannot answer "
                "this lookup exactly: it is missing, stale, narrower than "
                "the requested max_edit, built with a term-length cap too "
                "small for this word, or the engine is snapshot-pinned — "
                "rebuild with build_suggest_index() (or a larger "
                "max_term_len), or use the scan path"
            )
        dist = F.levenshtein(F.col("term"), F.lit(w)).cast("long")
        if use_delete_index:
            from .suggest_index import suggest_candidates

            cand = suggest_candidates(
                self.spark, self.index_dir, w, max_edit
            )
            base = cand.join(self.term_stats, "term")
        else:
            base = self.term_stats.filter(
                F.abs(F.length("term") - F.lit(len(w))) <= F.lit(max_edit)
            )
        return (
            base
            .withColumn("dist", dist)
            .filter(F.col("dist") <= F.lit(max_edit))
            .select("term", F.col("df").cast("long").alias("df"), "dist")
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(int(k))
        )

    # ------------------------------------------------------------------
    def mlt_terms(self, doc_id: int, n_terms: int = 3) -> list[str]:
        """The term-selection half of ``more_like_this``: the source
        doc's top ``n_terms`` dictionary lemmas by tf*idf (tie: term
        ASC), returned sorted — one driver-side point-read of the doc
        store plus the memoized dictionary lookup (no Spark job); the
        idf is the scorer's own (_idf over LIVE n_docs), so selection
        and scoring can never disagree about term weight. Exposed so
        presentation layers (api.similar) can highlight the very terms
        the query used.
        Raises QueryArgumentError for an unknown (or deleted/replaced)
        doc."""
        doc_id = int(doc_id)
        doc = self.documents_by_id([doc_id]).get(doc_id)
        if doc is None:
            raise QueryArgumentError(
                f"doc_id {doc_id} not found in the doc store "
                "(or deleted/replaced)"
            )
        from collections import Counter

        tf = Counter(analyze_text(doc[2] or ""))
        self._fill_df_cache(sorted(tf))
        ranked = sorted(
            (
                (t, c) for t, c in tf.items()
                if self._df_cache[t] is not None
            ),
            key=lambda tc: (
                -(tc[1] * self._idf(self._df_cache[tc[0]])), tc[0]
            ),
        )
        return sorted(t for t, _ in ranked[: int(n_terms)])

    def more_like_this(
        self, doc_id: int, n_terms: int = 3, k: int = 10,
        mode: str = "bm25", terms: list[str] | None = None,
    ) -> DataFrame:
        """Find documents similar to ``doc_id``: the source doc's top
        ``n_terms`` lemmas by tf*idf (tie: term ASC) become a disjunctive
        query over the index; the source doc itself is excluded BEFORE
        the top-k cut. Cite: beyond-reference surface (Lucene's
        MoreLikeThis shape re-expressed over the classic pivot plan).

        Plan: ONE driver-side point-read of the doc store fetches the
        source text; term selection is driver-side arithmetic over its
        |doc| lemma counts plus the <=|doc|-row dictionary lookup (both
        pyarrow reads, no Spark job); then the
        standard disjunctive classic plan — bucket/term-pruned scan,
        pivot, FIXED df-asc accumulation order — scores the candidates.
        tf*idf selection uses the same idf the scorer uses (_idf over
        LIVE n_docs), so selection and scoring can never disagree about
        term weight. The doc store read and the decode kernel are both
        delete-vector-masked: a replaced doc is not a valid source and
        never appears as a neighbor."""
        self._check_mode(mode)
        # ``terms``: a presentation layer that already called mlt_terms
        # (api.similar does, for snippet highlighting) passes the
        # selection back to avoid re-paying the doc-store point-read
        sel = (
            sorted(terms) if terms is not None
            else self.mlt_terms(doc_id, n_terms=n_terms)
        )
        doc_id = int(doc_id)
        if not sel:
            return self._empty_topk()
        infos, _ = self._infos_for_terms(sel)
        partials = self.candidate_scores(
            infos, mode=mode, conjunctive=False
        )
        scored = self._pivot_combine(
            partials, len(infos), conjunctive=False
        )
        return (
            scored.filter(F.col("doc_id") != F.lit(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    # ------------------------------------------------------------------
    def facet_counts(
        self, query: str, by: str = "conv_id", mode: str = "bm25",
        conjunctive: bool = True,
    ) -> DataFrame:
        """Facet the FULL match set of ``query`` by a doc-store column:
        (facet, n_matches, best_score), n_matches DESC / facet ASC — the
        "refine by source/site" panel next to the ranked list. Cite:
        beyond-reference surface (the reference returns a flat ranked
        list only, SearchServiceImpl.java:34-103).

        Plan: the classic pivot plan produces the scored match set
        (NOT top-k cut — facets summarize everything that matched), one
        doc_id-equi join attaches the facet column from the (delete-
        masked) doc store, and a facet-keyed aggregate — partial map-side
        combine, then one exchange of n_facets rows — produces the
        counts. count and max are order-insensitive, so the result is
        deterministic regardless of plan shape. At 100 TB the join is
        the standard doc-metadata attach (AQE picks broadcast when the
        match set is small); a dedicated facet-column posting stream
        would remove it, documented as the next step in PERF.md."""
        self._check_mode(mode)
        if by not in self.documents.columns:
            raise QueryArgumentError(
                f"facet column {by!r} not in the doc store "
                f"(have: {self.documents.columns})"
            )

        def empty() -> DataFrame:
            return local_frame(
                self.spark, [],
                "facet string, n_matches long, best_score double",
            )

        infos, n_missing = self.lookup_terms(query)
        if (conjunctive and n_missing) or not infos:
            return empty()
        partials = self.candidate_scores(
            infos, mode=mode, conjunctive=conjunctive
        )
        scored = self._pivot_combine(partials, len(infos), conjunctive)
        side = self.documents.select(
            "doc_id", F.col(by).cast("string").alias("facet")
        )
        return (
            scored.join(side, "doc_id")
            .groupBy("facet")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_matches"),
                F.max("score").alias("best_score"),
            )
            .orderBy(F.desc("n_matches"), F.asc("facet"))
        )

    # ------------------------------------------------------------------
    def search_many(
        self,
        queries: dict[str, str] | list[str],
        k: int = 10,
        mode: str = "bm25",
        conjunctive: bool = True,
    ) -> DataFrame:
        """Batch top-k -> (query_id, doc_id, score), each query's rows
        bit-identical to ``search_ids``: every posting block of the union
        vocabulary is decoded ONCE and its (query-independent) partials
        serve every query holding the term. A batch whose union df (the
        summed df of the distinct terms its queries keep) is under
        LOCAL_PLAN_MAX_POSTINGS runs the local plan on the driver (no
        Spark job, rows in a local frame); a larger one runs the packed
        Spark plan (_packed_topk, a lazy frame). Queries empty after
        analysis, or conjunctive ones with a dictionary-missing term,
        contribute zero rows (the ``search_ids`` contract)."""
        top = self._search_many(queries, k, mode, conjunctive)
        if isinstance(top, DataFrame):
            return top
        return local_frame(
            self.spark, top, "query_id string, doc_id long, score double"
        )

    def _search_many(
        self, queries: dict[str, str] | list[str], k: int, mode: str,
        conjunctive: bool,
    ) -> list[tuple[str, int, float]] | DataFrame:
        """Route and run one batch: (query_id, doc_id, score) rows when no
        Spark plan runs, else the packed plan's lazy frame (search_many
        wraps rows in a local frame; EngineAPI.search_many pages them)."""
        self._check_mode(mode)
        if not isinstance(queries, dict):
            queries = {f"q{i}": q for i, q in enumerate(queries)}
        # analyze each query text exactly ONCE, then one dictionary
        # lookup for the union vocabulary (the per-query info builds
        # below are pure cache hits on the pre-analyzed lemma sets)
        q_lemmas = {
            qid: sorted(set(analyze_text(q))) for qid, q in queries.items()
        }
        union_terms = sorted({t for ts in q_lemmas.values() for t in ts})
        self._fill_df_cache(union_terms)
        per_q: dict[str, list[TermInfo]] = {}
        for qid, q_terms in q_lemmas.items():
            infos, n_missing = self._infos_for_terms(q_terms)
            if not infos or (conjunctive and n_missing):
                continue
            per_q[qid] = infos
        if not per_q:
            return []
        dfs = {ti.term: ti.df for infos in per_q.values() for ti in infos}
        if sum(dfs.values()) < self.LOCAL_PLAN_MAX_POSTINGS:  # union df
            return self._local_topk(per_q, k, 0, mode, conjunctive)
        return self._packed_topk(per_q, k, mode, conjunctive)

    def _packed_topk(
        self, per_q: dict[str, list[TermInfo]], k: int, mode: str,
        conjunctive: bool,
    ) -> DataFrame:
        """The packed Spark plan over looked-up queries (a batch at or
        above LOCAL_PLAN_MAX_POSTINGS; a search_ids query routed or
        forced to "packed") -> lazy (query_id, doc_id, score). One scan
        covers the union vocabulary; every block is decoded ONCE and
        fanned out to its subscribing queries. Rarest-term pruning is
        amortized: all queries' rarest-term ranges come from one
        driver-side pass (_fill_ranges_cache, memoized), decoded doc_ids
        are masked per TERM before the shuffle (a (term, doc) row is
        dropped only when EVERY subscribing query prunes the doc —
        lossless: such a doc lacks each subscriber's rarest term), and
        the ranges' union, coarsened, is pushed into the scan. Postings
        cross the exchange packed (see below); the scoring stage runs
        _combine_topk per query, and a row_number window (compiled to
        WindowGroupLimit) merges the k-bounded per-partition rows."""
        # query ids travel the hot path as dense int32 — a string id on
        # every partial row is pure Arrow/shuffle weight (the partials
        # frame is |queries| x df-sized); the string comes back via a
        # broadcast join on the k-bounded result
        qid_idx = {qid: i for i, qid in enumerate(per_q)}
        # rarest-term doc_id ranges per query (conjunctive, multi-term
        # only — same rule as search_ids), read for the WHOLE workload
        # in one driver-side pass and memoized
        q_ranges: dict[int, list[tuple[int, int]]] = {}
        if conjunctive:
            multi = {
                qid: infos for qid, infos in per_q.items() if len(infos) > 1
            }
            self._fill_ranges_cache([infos[0] for infos in multi.values()])
            for qid, infos in multi.items():
                merged = self._ranges_cache[infos[0].term]
                if merged:
                    q_ranges[qid_idx[qid]] = merged
        # term -> [qid_idx] subscriber lists (partials are query-
        # independent; subscribers matter only for the pruning union)
        subs: dict[str, list[int]] = {}
        for qid, infos in per_q.items():
            for ti in infos:
                subs.setdefault(ti.term, []).append(qid_idx[qid])
        terms = sorted(subs)
        term_ti = {t: i for i, t in enumerate(terms)}
        term_idf = {
            ti.term: self._idf(ti.df)
            for infos in per_q.values()
            for ti in infos
        }
        # per-term union mask: a (term, doc) partial may be dropped pre-
        # shuffle only if EVERY query subscribing to the term prunes the
        # doc (doc outside that query's rarest-term ranges -> the doc
        # lacks the query's rarest term -> its conjunctive filter rejects
        # the doc whether or not this partial exists). Any unpruned
        # subscriber (single-term query, hot rarest term, disjunctive
        # mode) disables the term's mask entirely.
        term_ranges: dict[str, list[tuple[int, int]]] = {}
        for t, sub_qis in subs.items():
            if all(qi in q_ranges for qi in sub_qis):
                term_ranges[t] = self._merge_spans(
                    sorted({sp for qi in sub_qis for sp in q_ranges[qi]})
                )
        avgdl, max_tf_sum = self.avgdl, self.max_tf_sum

        # coarse scan filter: a block can be skipped only if EVERY query
        # that subscribes to its term prunes it — so the pushed predicate
        # is (term has an unpruned subscriber) OR (overlaps any range).
        all_ranges = sorted({sp for sps in term_ranges.values() for sp in sps})
        # dl is only a BM25 input — relevance_ref never reads dl_b
        # (score_topk guards on mode), so it skips the read, the decode
        # and the re-encode, and ships empty buffers instead
        streams = ("tfs", "dls") if mode == "bm25" else ("tfs",)
        blocks = self._scan_blocks(
            terms,
            all_ranges,
            ["term", "first_doc_id", "doc_ids", *streams],
            keep_terms=sorted(t for t in terms if t not in term_ranges),
        )
        span = {t: _span_arrays(sps) for t, sps in term_ranges.items()}

        # ---- packed exchange layout -----------------------------------
        # The candidate partials for a big batch are |union df|-sized; a
        # row-per-posting exchange ships ~28B+ per posting (ints + row
        # overhead). Instead the decode stage RE-ENCODES each term's
        # postings into delta-varbyte slices keyed by doc-RANGE bucket
        # (~4-6B per posting), so the wide exchange moves packed buffers,
        # and the scoring stage decodes them straight into dense
        # per-bucket arrays — no per-posting rows ever cross a shuffle.
        # A term's blocks are disjoint, ordered doc runs (within AND
        # across part_ids — parts split the doc_id space), so sorting a
        # scan batch by (term, first_doc_id) makes the grouped decode
        # output globally sorted per term; range slicing is then one
        # searchsorted against the bucket edges.
        n_score_parts = self.spark.sparkContext.defaultParallelism
        n_rb = 8 * n_score_parts  # over-decompose: hash smooths rb->part
        edges = (
            np.arange(n_rb + 1, dtype=np.int64) * (self.id_space + 2)
        ) // n_rb
        rb_widths = np.diff(edges)
        idf_by_ti = np.array(
            [term_idf[t] for t in terms], dtype=np.float64
        )

        pack_schema = T.StructType(
            [
                T.StructField("rb", T.IntegerType(), False),
                T.StructField("ti", T.IntegerType(), False),
                T.StructField("ids_b", T.BinaryType(), False),
                T.StructField("tf_b", T.BinaryType(), False),
                T.StructField("dl_b", T.BinaryType(), False),
            ]
        )
        # delete-vector broadcast handle (see candidate_scores)
        deleted_bc = self._deleted_bc

        def decode_pack(batches):
            from ..functions.codec import varbyte_encode_sliced

            # (term, first_doc_id) order makes each term group's decoded
            # ids ascending — the slicing below relies on it
            ordered = (
                pdf.sort_values(["term", "first_doc_id"], ignore_index=True)
                for pdf in batches
            )
            # the kernel's per-term mask is the union over ALL subscribing
            # queries' rarest ranges (lossless, see docstring), so pruned
            # docs never enter the exchange
            deleted = _value(deleted_bc)
            for groups in _decode_blocks(ordered, streams, span, deleted):
                o_rb, o_ti, o_ids, o_tf, o_dl = [], [], [], [], []
                for term, c in groups:
                    ids, tfs, dls = c["doc_ids"], c["tfs"], c.get("dls")
                    ti = term_ti[term]
                    cut = np.searchsorted(ids, edges[1:-1])
                    starts = np.concatenate(([0], cut))
                    lens = np.diff(np.concatenate((starts, [ids.size])))
                    # delta stream, absolute value at each slice start
                    ids_u = ids.astype(np.uint64)
                    g = np.empty(ids.size, dtype=np.uint64)
                    g[0] = ids_u[0]
                    g[1:] = ids_u[1:] - ids_u[:-1]
                    snz = starts[lens > 0]
                    g[snz] = ids_u[snz]
                    ids_bufs = varbyte_encode_sliced(g, starts)
                    tf_bufs = varbyte_encode_sliced(
                        tfs.astype(np.uint64), starts
                    )
                    dl_bufs = (
                        varbyte_encode_sliced(dls, starts)
                        if dls is not None
                        else None
                    )
                    for j in np.flatnonzero(lens):
                        o_rb.append(j)
                        o_ti.append(ti)
                        o_ids.append(ids_bufs[j])
                        o_tf.append(tf_bufs[j])
                        o_dl.append(dl_bufs[j] if dl_bufs is not None else b"")
                yield pd.DataFrame(
                    {
                        "rb": np.array(o_rb, dtype=np.int32),
                        "ti": np.array(o_ti, dtype=np.int32),
                        "ids_b": o_ids,
                        "tf_b": o_tf,
                        "dl_b": o_dl,
                    }
                )

        partials = blocks.mapInPandas(decode_pack, schema=pack_schema)
        # co-locate each doc's term partials, then per partition a dense
        # (docs x terms) matrix (+0.0 where a term is missing) and
        # _combine_topk per query: k-bounded rows per (query, partition).
        # (A Catalyst formulation — per-doc map + per-query struct array +
        # explode + window — was measured 2-4x slower here: the
        # |queries|-way expression fanout runs per doc row, and the
        # pre-window sort pays O(matches log matches) on the exploded set.)
        m = len(terms)
        q_cols = [
            [term_ti[info.term] for info in infos]
            for qid, infos in per_q.items()
        ]
        topk_schema = T.StructType(
            [
                T.StructField("qi", T.IntegerType(), False),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("score", T.DoubleType(), False),
            ]
        )

        def score_topk(batches):
            # a (rb, ti) group's packed rows may straddle Arrow batches —
            # concat first; the per-partition frame holds only packed
            # buffers (~handful of rows per (rb, ti)), never posting rows
            from ..functions.codec import (
                decode_postings_grouped,
                varbyte_decode_groups,
            )

            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 \
                else pdfs[0]
            # dense layout: this partition's present range buckets laid
            # out contiguously — doc -> row is pure arithmetic (no
            # np.unique / sort over postings)
            rb_col = pdf["rb"].to_numpy()
            rbs = np.unique(rb_col)
            cum = np.concatenate(
                ([0], np.cumsum(rb_widths[rbs], dtype=np.int64))
            )
            n_rows = int(cum[-1])
            rb_lo = edges[rbs]  # doc lower bound per present bucket
            mat = np.zeros((n_rows, m), dtype=np.float64)
            hit = np.zeros((n_rows, m), dtype=bool)
            ids_col = pdf["ids_b"].to_numpy()
            tf_col = pdf["tf_b"].to_numpy()
            dl_col = pdf["dl_b"].to_numpy()
            for ti_val, rows in pdf.groupby("ti", sort=False).indices.items():
                ids, tfs, cnt = decode_postings_grouped(
                    list(ids_col[rows]), list(tf_col[rows])
                )
                if ids.size == 0:
                    continue
                dls = (
                    varbyte_decode_groups(list(dl_col[rows]))[0]
                    if mode == "bm25" else None
                )
                s = _partial_scores(
                    tfs, dls, idf_by_ti[ti_val], mode, avgdl, max_tf_sum
                )
                row_rank = np.searchsorted(rbs, rb_col[rows])
                rank = np.repeat(row_rank, cnt)
                idx = cum[rank] + (ids - rb_lo[rank])
                mat[idx, ti_val] = s
                hit[idx, ti_val] = True
            # dense row -> doc_id, for the kernel's doc_id ASC tie-break
            row_doc = np.arange(n_rows, dtype=np.int64) + np.repeat(
                rb_lo - cum[:-1], rb_widths[rbs]
            )
            tops = [
                _combine_topk(row_doc, mat, hit, cols, conjunctive, k)
                for cols in q_cols
            ]
            yield pd.DataFrame({
                "qi": np.repeat(
                    np.arange(len(tops), dtype=np.int32),
                    [d.size for d, _ in tops],
                ),
                "doc_id": np.concatenate([d for d, _ in tops]),
                "score": np.concatenate([sc for _, sc in tops]),
            })

        # explicit partition count: without it AQE's advisory-size
        # coalescing is free to merge this exchange down to a handful of
        # partitions (the packed frame is small in BYTES), strangling the
        # scoring stage's parallelism — its cost is numpy work per
        # POSTING, not shuffle bytes
        scored = partials.repartition(n_score_parts, "rb").mapInPandas(
            score_topk, schema=topk_schema
        )
        names = local_frame(
            self.spark,
            [(i, qid) for qid, i in qid_idx.items()],
            "qi int, query_id string",
        )
        # final per-query top-k over the k-bounded per-partition winners:
        # row_number <= k compiles to WindowGroupLimit (partial top-k
        # before the qi exchange)
        w = Window.partitionBy("qi").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .join(F.broadcast(names), "qi")
            .select("query_id", "doc_id", "score")
        )

    # ------------------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        offset: int = 0,
        mode: str = "bm25",
        max_df: int | None = None,
        conjunctive: bool = True,
        with_snippets: bool = True,
        scope: str | None = None,
        role: str | None = None,
        exclude: str | None = None,
    ) -> list[tuple]:
        """Full result projection (P6): doc metadata + score + snippet.
        ``exclude`` routes through search_not (boolean NOT; first page
        only — pagination/scope/role/df-cutoff ride the classic plan);
        ``role`` restricts to matching doc-store roles (search_ids).

        The top-k (doc_id, score) rows — the local plan's as they are, a
        Spark plan's collected once — go to ``present``, which
        point-reads their documents and builds the snippets on the
        driver. Returns its (doc_id, conv_id, turn_idx, score, snippet)
        tuples (schemas.SEARCH_RESULT's columns) ordered by (score DESC,
        doc_id ASC). A bounded query runs no Spark job."""
        if exclude is not None:
            if (offset != 0 or scope is not None or max_df is not None
                    or role is not None):
                raise QueryArgumentError(
                    "exclude= requires offset=0, scope=None, role=None, "
                    "max_df=None"
                )
            top = self.search_not(
                query, exclude, k=k, mode=mode, conjunctive=conjunctive
            )
        else:
            top = self._topk(
                query, k, offset, mode, max_df, conjunctive, scope, role,
                None,
            )
        hits = top.collect() if isinstance(top, DataFrame) else top
        lemmas = set(analyze_text(query)) if with_snippets else None
        return self.present(hits, lemmas)

    def present(
        self, hits: list, lemmas: set[str] | None,
        docs: dict[int, tuple] | None = None,
    ) -> list[tuple]:
        """Top-k (doc_id, score) rows -> result rows (doc_id, conv_id,
        turn_idx, score, snippet) sorted by (score DESC, doc_id ASC).
        One driver-side point-read of the doc store (documents_by_id,
        no Spark job; ``docs`` passes one already read for a superset of
        the hits), then ``make_snippet`` per row; ``lemmas=None`` leaves
        the snippet null. Serves ``search`` (every plan),
        ``EngineAPI.similar`` and ``EngineAPI.search_many``."""
        scores = {int(d): float(s) for d, s in hits}
        if docs is None:
            docs = self.documents_by_id(scores)
        rows = [
            (
                d, *docs[d][:2], s,
                None if lemmas is None else make_snippet(docs[d][2], lemmas),
            )
            for d, s in scores.items()
            if d in docs
        ]
        return sorted(rows, key=lambda r: (-r[3], r[0]))

    def documents_by_id(self, ids) -> dict[int, tuple]:
        """doc_id -> (conv_id, turn_idx, text) for ``ids``, read on the
        driver with pyarrow (the pinned file list on a snapshot-pinned
        engine). Deleted ids are subtracted first, like every reader, so
        a replaced doc never surfaces. The filter is doc_id between the
        ids' min and max AND the equalities: documents are appended in
        doc_id order, so row-group min/max stats prune."""
        want = np.unique(np.fromiter(ids, dtype=np.int64))
        if self._deleted is not None:
            want = want[~np.isin(want, self._deleted)]
        if want.size == 0:
            return {}
        vals = want.tolist()
        doc_id = ds.field("doc_id")
        found = self._docstore.to_table(
            columns=["doc_id", "conv_id", "turn_idx", "text"],
            filter=(doc_id >= vals[0]) & (doc_id <= vals[-1])
            & _pa_any_of("doc_id", vals),
        )
        return {
            d: rest for d, *rest in zip(*(
                found.column(c).to_pylist()
                for c in ("doc_id", "conv_id", "turn_idx", "text")
            ))
        }

    # ------------------------------------------------------------------
    def statistics(self) -> DataFrame:
        """Index statistics report (A6/A7; StatisticsServiceImpl.java:33-51
        analog): per-role doc counts + global totals."""
        docs = self.documents
        per_role = docs.groupBy("role").agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("n_tokens"),
        )
        return per_role.withColumn("n_docs_total", F.lit(self.n_docs))

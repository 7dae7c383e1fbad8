"""Reference API parity: the five endpoints of the reference's REST
controller (ApiController.java:20-47), re-expressed as an engine facade —
same contracts, same error messages, Spark jobs underneath.

| Reference endpoint | Cite | Here |
|---|---|---|
| GET /api/startIndexing | ApiController.java:25-29 | start_indexing() |
| GET /api/stopIndexing  | ApiController.java:31-35 | stop_indexing()  |
| POST /api/indexPage    | ApiController.java:37-41 | index_batch()    |
| GET /api/search        | ApiController.java:43-47 | search()         |
| GET /api/statistics    | ApiController.java:20-23 | statistics()     |

Responses mirror the reference's {"result": bool, "error": str} envelope
(dto/statistics/Response.java) with its exact error strings where the
semantics carry over (IndexationService.java:7-10, SearchService.java:6-11
analogs). "Stop" becomes cooperative cancel + manifest resume: a stopped
build keeps its DONE parts and the next start_indexing(resume=True) skips
them — strictly better than the reference's wipe-on-restart
(IndexationServiceImpl.java:81-86).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import QueryArgumentError
from .functions.analyzer import analyze_text
from .operators.incremental import incremental_update
from .operators.index_build import build_index, manifest_df
from .operators.query import SearchEngine

ERR_ALREADY_RUNNING = "Индексация уже запущена"          # IndexationService.java:7
ERR_NOT_RUNNING = "Индексация не запущена"               # IndexationService.java:8
ERR_EMPTY_QUERY = "Задан пустой поисковый запрос"        # SearchService.java:6-7
# The reference returns this as an ERROR for zero-hit searches
# (SearchService.java:8-9). Deliberate deviation: zero hits here is the
# SUCCESS envelope {"result": True, "count": 0} (pinned by
# tests/test_api_compaction.py::test_search_no_results) — an empty result
# is not a failure; the constant stays as the documented reference string.
ERR_NOT_FOUND = "Ничего не найдено"                      # SearchService.java:8-9
ERR_NO_INDEX = "Индекс ещё не построен"                  # no-index-yet envelope
# what opening a never-built index raises: Spark's PATH_NOT_FOUND, or
# FileNotFoundError from the driver-side corpus_stats read (schemas.read_row)
NO_INDEX_ERRORS = (AnalysisException, FileNotFoundError)


def _page(rows: list[tuple], snippets: bool = True) -> dict[str, Any]:
    """The {result, count, data} envelope of SearchEngine.present rows
    (doc_id, conv_id, turn_idx, score, snippet); the score is reported
    as ``relevance``. ``snippets=False`` leaves the snippet key out."""
    keys = ("doc_id", "conv_id", "turn_idx", "relevance", "snippet")
    data = [dict(zip(keys if snippets else keys[:4], r)) for r in rows]
    return {"result": True, "count": len(data), "data": data}


@dataclass
class EngineAPI:
    """One facade per (SparkSession, index_dir)."""

    spark: SparkSession
    index_dir: str
    _build_thread: threading.Thread | None = field(default=None, repr=False)
    _build_error: list[str] = field(default_factory=list, repr=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    _engine: SearchEngine | None = field(default=None, repr=False)
    # memoization guard, SEPARATE from _lock: the build thread's
    # finally-invalidate must never contend with stop_indexing, which
    # holds _lock while joining that very thread (sharing one lock would
    # stall the join until its 60 s deadline)
    _engine_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False
    )
    # bumped on every index mutation; _get_engine refuses to memoize an
    # engine constructed before a concurrent mutation landed
    _index_gen: int = field(default=0, repr=False)

    def invalidate(self) -> None:
        """Drop the memoized engine snapshot. Every index mutation routed
        through this facade (start_indexing completion, index_batch,
        compact) calls it automatically; call it yourself after mutating
        the index OUT of band (e.g. a compact_index() run against the
        same directory from another process), or cached lazy plans keep
        pointing at parquet files the mutation deleted and raise raw
        FileNotFoundException instead of fresh results."""
        with self._engine_lock:
            self._index_gen += 1
            self._engine = None

    # -- GET /api/startIndexing -------------------------------------------
    def start_indexing(
        self, transcripts: DataFrame, *, resume: bool = True, **kwargs
    ) -> dict[str, Any]:
        """Kick off a full index build in a background thread (the
        reference runs one thread per site, IndexationServiceImpl.java:97-105).
        resume=True keeps DONE parts from a previously stopped build."""

        def run() -> None:
            try:
                build_index(
                    self.spark, transcripts, self.index_dir,
                    resume=resume, **kwargs,
                )
            except Exception as ex:  # noqa: BLE001 — recorded like setFailed
                self._build_error.append(str(ex))
            finally:
                # the index content changed (or failed mid-way): the
                # memoized engine snapshot is stale either way
                self.invalidate()

        # check-then-spawn under the lock: two concurrent calls must not
        # both pass is_indexing() and race two builds onto one index dir
        # (the reference guards the same with an AtomicBoolean)
        with self._lock:
            if self.is_indexing():
                return {"result": False, "error": ERR_ALREADY_RUNNING}
            self._build_error.clear()
            self._build_thread = threading.Thread(target=run, daemon=True)
            self._build_thread.start()
        return {"result": True}

    def is_indexing(self) -> bool:
        return self._build_thread is not None and self._build_thread.is_alive()

    def wait(self, timeout: float | None = None) -> None:
        if self._build_thread is not None:
            self._build_thread.join(timeout)

    # -- GET /api/stopIndexing --------------------------------------------
    def stop_indexing(self) -> dict[str, Any]:
        """Cooperative cancel: interrupt running Spark jobs; completed parts
        stay DONE in the manifest (the resume contract). The reference
        instead marks sites FAILED and wipes on restart.

        Caveat: cancellation is session-wide (cancelAllJobs) — the build
        launches jobs from several helper threads, so a job-group id set
        here would not reach them; on a session shared with other
        workloads their in-flight jobs are cancelled too. The cancel is
        REPEATED while the build thread lives (a one-shot cancel landing
        in a driver-side gap between jobs cancels nothing), and the
        result reports honestly whether the build actually stopped."""
        with self._lock:
            if not self.is_indexing():
                return {"result": False, "error": ERR_NOT_RUNNING}
            deadline = time.time() + 60
            while self._build_thread.is_alive() and time.time() < deadline:
                self.spark.sparkContext.cancelAllJobs()
                self._build_thread.join(timeout=2)
            if self._build_thread.is_alive():
                return {
                    "result": False,
                    "error": "build still running 60s after cancel",
                }
        return {"result": True}

    # -- POST /api/indexPage ----------------------------------------------
    def index_batch(
        self, new_transcripts: DataFrame, *, upsert: bool = False
    ) -> dict[str, Any]:
        """Single-batch merge (the reference's one-page re-index,
        IndexationServiceImpl.java:119-131) — idempotent anti-join merge.
        ``upsert=True`` gives the reference's full REPLACE semantics: a
        known (conv_id, turn_idx) arriving with DIFFERENT text replaces
        the old doc via the delete vector (operators/deletes.py);
        the default keeps pure insert semantics (changed text ignored)."""
        try:
            res = incremental_update(
                self.spark, new_transcripts, self.index_dir, upsert=upsert
            )
        except QueryArgumentError as ex:
            return {"result": False, "error": str(ex)}
        self.invalidate()  # snapshot engines memoize df/ranges — refresh
        return {"result": True, **res}

    # -- DELETE /api/documents ---------------------------------------------
    def delete_batch(
        self, keys: DataFrame, *, tombstone: bool = True
    ) -> dict[str, Any]:
        """Targeted deletion (the standalone half of the reference's
        deleteAllByPageId, IndexationServiceImpl.java:119-123 — e.g. a
        takedown request): ``keys`` carries ``conv_id`` (whole
        conversations) or (``conv_id``, ``turn_idx``) (exact turns).
        Merge-on-read — one deletes-only snapshot commit; the next
        compact() physically drops the rows. ``tombstone`` (default on)
        blocks the keys from ever being re-ingested — replay-proof
        takedown; pass False for a soft delete."""
        from .operators.incremental import delete_docs

        try:
            res = delete_docs(
                self.spark, keys, self.index_dir, tombstone=tombstone
            )
        except QueryArgumentError as ex:
            return {"result": False, "error": str(ex)}
        self.invalidate()
        return {"result": True, **res}

    # -- DELETE /api/tombstones --------------------------------------------
    def clear_tombstones(self, keys: DataFrame) -> dict[str, Any]:
        """Deliberately lift takedowns (deletes.clear_tombstones) so the
        keys can be re-ingested — the envelope twin of
        delete_batch(tombstone=True), completing the takedown lifecycle
        at the API surface. ``keys``: conv_id (lifts the conv-wide
        tombstone AND every turn-level one) or (conv_id, turn_idx)
        (null-safe exact rows). No engine invalidation: tombstones are
        ingest policy, never read state. Returns rows removed."""
        from .operators.deletes import clear_tombstones

        try:
            n = clear_tombstones(self.spark, keys, self.index_dir)
        except QueryArgumentError as ex:
            return {"result": False, "error": str(ex)}
        return {"result": True, "removed": n}

    # -- POST /api/changes ---------------------------------------------------
    def apply_changes(
        self, batch: DataFrame, *, tombstone_deletes: bool = False
    ) -> dict[str, Any]:
        """CDC apply (operators/incremental.apply_cdc_batch): TRANSCRIPTS
        rows + an ``op`` column ('I'/'U' upsert, 'D' delete) in one
        batch — the envelope twin of stream_transcripts(cdc=True)."""
        from .operators.incremental import apply_cdc_batch

        try:
            res = apply_cdc_batch(
                self.spark, batch, self.index_dir,
                tombstone_deletes=tombstone_deletes,
            )
        except QueryArgumentError as ex:
            return {"result": False, "error": str(ex)}
        self.invalidate()
        return {"result": True, **res}

    # -- maintenance --------------------------------------------------------
    def compact(self, **kwargs) -> dict[str, Any]:
        """Fold accumulated incremental parts back into the target layout
        (operators/compaction.compact_index) AND drop the memoized engine:
        compaction rmtree-swaps the postings directories, so a cached
        engine's lazy plans would otherwise point at deleted parquet files
        and the next search would raise a raw FileNotFoundException
        instead of the envelope. This wrapper is the supported way to
        compact an index this facade is serving."""
        from .operators.compaction import compact_index

        with self._lock:
            if self.is_indexing():
                return {"result": False, "error": ERR_ALREADY_RUNNING}
        try:
            res = compact_index(self.spark, self.index_dir, **kwargs)
        except QueryArgumentError as ex:
            return {"result": False, "error": str(ex)}
        finally:
            # even a failed compaction may have swapped directories —
            # never serve plans pinned to the pre-compaction layout
            self.invalidate()
        return {"result": True, **res}

    # -- GET /api/snapshots (beyond-reference: time-travel surface) --------
    def snapshots(self) -> dict[str, Any]:
        """The retained snapshot log (operators/snapshots.py): every
        build/append/replace commit with its id, operation, n_docs, and
        part membership. The ids are valid ``snapshot_id`` arguments to
        ``search``."""
        from .operators.snapshots import list_snapshots

        return {"result": True, "snapshots": list_snapshots(self.index_dir)}

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, Any]:
        """Retention sweep: keep the newest ``keep_last`` snapshots and
        garbage-collect the stats copies nothing references anymore."""
        from .operators.snapshots import expire_snapshots

        return {"result": True, **expire_snapshots(self.index_dir, keep_last)}

    def _get_engine(self) -> SearchEngine:
        """One memoized engine per index snapshot: SearchEngine.__init__
        costs file listings, a footer and the delete-vector read (all
        driver-side, no Spark job), and its
        per-term dictionary/range caches only pay off across calls on
        the same instance. Invalidated by index_batch, compact, and build
        completion. Raises one of NO_INDEX_ERRORS while no index exists.

        Construction happens OUTSIDE the lock (it reads the index), so
        the memoization is generation-checked: if any mutation landed
        while this thread was constructing — e.g. a background build's
        finally-invalidate — the partial-snapshot engine is returned for
        THIS call only, never memoized (a stale cached engine would
        otherwise serve a mid-build index until the next mutation)."""
        with self._engine_lock:
            if self._engine is not None:
                return self._engine
            gen = self._index_gen
        eng = SearchEngine(self.spark, self.index_dir)
        with self._engine_lock:
            if self._engine is None and self._index_gen == gen:
                self._engine = eng
        return eng

    def _open(
        self, snapshot_id: int | None = None
    ) -> tuple[SearchEngine | None, dict[str, Any] | None]:
        """(engine, None) for a read endpoint — the memoized HEAD engine,
        or an as-of engine built for this call only — or (None, the
        error envelope) when none can be opened: ERR_NO_INDEX while no
        index exists (the first build still running, or never run), or
        the QueryArgumentError of an unknown/expired snapshot id or a
        missing/truncated snapshot store. Only the construction is
        enveloped; engine faults during the read propagate."""
        try:
            eng = (
                self._get_engine()
                if snapshot_id is None
                else SearchEngine(
                    self.spark, self.index_dir, snapshot_id=snapshot_id
                )
            )
        except NO_INDEX_ERRORS:
            return None, {"result": False, "error": ERR_NO_INDEX,
                          "is_indexing": self.is_indexing()}
        except QueryArgumentError as ex:
            return None, {"result": False, "error": str(ex)}
        return eng, None

    # -- GET /api/search ---------------------------------------------------
    def search(
        self,
        query: str,
        *,
        site: str | None = None,
        offset: int = 0,
        limit: int = 20,
        mode: str = "bm25",
        max_df: int | None = None,
        snapshot_id: int | None = None,
        exclude: str | None = None,
        role: str | None = None,
    ) -> dict[str, Any]:
        """Paginated search with the reference's response envelope:
        {result, count, data:[{...}]} (SearchServiceImpl.java:78-90).
        ``site`` restricts results to conversations whose conv_id starts
        with it — the reference's optional site parameter
        (ApiController.java:43-47, SearchServiceImpl.java:105-114).
        ``snapshot_id`` pins the search to a retained index snapshot
        (time travel, operators/snapshots.py) — beyond-reference surface;
        as-of engines are built per call, never memoized. ``exclude``
        adds boolean NOT (SearchEngine.search_not; first page only)."""
        if not query or not query.strip():
            return {"result": False, "error": ERR_EMPTY_QUERY}
        eng, err = self._open(snapshot_id)
        if err:
            return err
        try:
            rows = eng.search(
                query, k=limit, offset=offset, mode=mode, max_df=max_df,
                scope=site, exclude=exclude, role=role,
            )
        except QueryArgumentError as ex:
            # a caller-argument error (exclude= composed with
            # offset/site/role/max_df, a forced-plan conflict, an unknown
            # mode) — envelope it; any other ValueError is an engine
            # fault and propagates
            return {"result": False, "error": str(ex)}
        return _page(rows)

    # -- POST /api/searchMany (beyond-reference batched surface) -----------
    def search_many(
        self,
        queries: dict[str, str] | list[str],
        *,
        offset: int = 0,
        limit: int = 20,
        mode: str = "bm25",
        conjunctive: bool = True,
        with_snippets: bool = True,
    ) -> dict[str, Any]:
        """Batched search with the reference envelope PER QUERY: the
        engine scores the whole workload at once (SearchEngine.search_many
        — every posting block decoded once for the union vocabulary; a
        batch whose union df is under LOCAL_PLAN_MAX_POSTINGS runs on the
        driver with no Spark job, a larger one runs the packed Spark plan
        and is collected once); each query's page is cut from its
        (query_id, doc_id, score) rows, ONE driver-side point-read of the
        union of the pages' doc ids fetches their documents, and
        SearchEngine.present adds conv_id/turn_idx/snippets per query.
        Response: {"result": True, "results": {qid: {result, count,
        data:[...]}}}; a blank query text gets its own {"result": False,
        ERR_EMPTY_QUERY} row without failing the batch (per-query
        contract, same strings as search()). Pagination matches search():
        the engine is asked for the top-(offset+limit) and the page is
        sliced per query from that bound — never a full-result
        materialization."""
        if not isinstance(queries, dict):
            queries = {f"q{i}": q for i, q in enumerate(queries)}
        blank = {
            qid for qid, q in queries.items() if not q or not q.strip()
        }
        live = {qid: q for qid, q in queries.items() if qid not in blank}
        results: dict[str, Any] = {
            qid: {"result": False, "error": ERR_EMPTY_QUERY} for qid in blank
        }
        if live:
            eng, err = self._open()
            if err:
                return err
            hits: dict[str, list[tuple[int, float]]] = {
                qid: [] for qid in live
            }
            top = eng._search_many(
                live, k=offset + limit, mode=mode, conjunctive=conjunctive
            )
            if isinstance(top, DataFrame):
                top = top.collect()
            for qid, doc_id, score in top:
                hits[qid].append((doc_id, score))
            pages = {
                qid: sorted(hs, key=lambda h: (-h[1], h[0]))[
                    offset:offset + limit
                ]
                for qid, hs in hits.items()
            }
            # one point-read of the union of the pages' doc ids
            docs = eng.documents_by_id(
                {d for page in pages.values() for d, _ in page}
            )
            for qid, page in pages.items():
                rows = eng.present(
                    page,
                    set(analyze_text(live[qid])) if with_snippets else None,
                    docs,
                )
                results[qid] = _page(rows)
        return {"result": True, "results": results}

    # -- GET /api/count (beyond-reference: total-hits figure) --------------
    def count(
        self, query: str, *, conjunctive: bool = True
    ) -> dict[str, Any]:
        """TOTAL matching-document count for ``query`` — the 'about N
        results' figure (SearchEngine.match_count: membership-only
        decode, no scores computed)."""
        if not query or not query.strip():
            return {"result": False, "error": ERR_EMPTY_QUERY}
        eng, err = self._open()
        if err:
            return err
        n = eng.match_count(query, conjunctive=conjunctive).collect()[0]
        return {"result": True, "n_matches": int(n["n_matches"])}

    # -- GET /api/suggest (beyond-reference: "did you mean") ---------------
    def suggest(
        self, word: str, *, max_edit: int = 2, limit: int = 10
    ) -> dict[str, Any]:
        """Spell suggestions for a (possibly misspelled) query word:
        dictionary lemmas within ``max_edit`` Levenshtein edits, closest
        first, most common within a distance first
        (SearchEngine.suggest). The recovery path right after the
        reference's hard 'lemma not found' failure
        (SearchServiceImpl.java:60-62)."""
        eng, err = self._open()
        if err:
            return err
        try:
            rows = eng.suggest(word, max_edit=max_edit, k=limit).collect()
        except QueryArgumentError as ex:
            return {"result": False, "error": str(ex)}
        return {
            "result": True,
            "count": len(rows),
            "data": [
                {"term": r["term"], "df": r["df"], "distance": r["dist"]}
                for r in rows
            ],
        }

    # -- GET /api/similar (beyond-reference: more-like-this) ---------------
    def similar(
        self, doc_id: int, *, n_terms: int = 3, limit: int = 10,
        mode: str = "bm25", with_snippets: bool = True,
    ) -> dict[str, Any]:
        """Documents similar to ``doc_id`` (SearchEngine.more_like_this):
        the source doc's top tf*idf lemmas as a disjunctive query, source
        excluded. Same presentation envelope as search()."""
        eng, err = self._open()
        if err:
            return err
        try:
            sel = eng.mlt_terms(doc_id, n_terms=n_terms)
            # pass the selection back so the engine skips the second
            # doc-store point-read (one Spark job, not two)
            ids = eng.more_like_this(
                doc_id, n_terms=n_terms, k=limit, mode=mode, terms=sel
            )
        except QueryArgumentError as ex:
            return {"result": False, "error": str(ex)}
        # same presentation as search(); the snippets highlight the very
        # lemmas the MLT query used
        rows = eng.present(ids.collect(), set(sel) if with_snippets else None)
        return _page(rows, snippets=with_snippets)

    # -- GET /api/facets (beyond-reference: refine-by panel) ---------------
    def facets(
        self, query: str, *, by: str = "conv_id", mode: str = "bm25",
        limit: int | None = None,
    ) -> dict[str, Any]:
        """Facet counts over the FULL match set of ``query``
        (SearchEngine.facet_counts): {facet, n_matches, best_score},
        n_matches DESC — the refine-by-source panel next to the ranked
        list."""
        if not query or not query.strip():
            return {"result": False, "error": ERR_EMPTY_QUERY}
        eng, err = self._open()
        if err:
            return err
        try:
            df = eng.facet_counts(query, by=by, mode=mode)
        except QueryArgumentError as ex:
            return {"result": False, "error": str(ex)}
        rows = (df.limit(int(limit)) if limit is not None else df).collect()
        return {
            "result": True,
            "count": len(rows),
            "data": [
                {
                    "facet": r["facet"],
                    "n_matches": r["n_matches"],
                    "best_score": r["best_score"],
                }
                for r in rows
            ],
        }

    # -- GET /api/statistics ----------------------------------------------
    def statistics(self) -> dict[str, Any]:
        """Totals + per-partition build state (StatisticsServiceImpl.java:33-51:
        total pages/lemmas + per-site status)."""
        eng, err = self._open()
        if err:
            return {**err, "last_error": (
                self._build_error[-1] if self._build_error else None
            )}
        total_terms = eng.term_stats.count()
        parts = [
            {
                "partition_id": r["partition_id"],
                "status": r["status"],
                "postings_written": r["postings_written"],
                "bytes_compressed": r["bytes_compressed"],
            }
            for r in manifest_df(self.spark, self.index_dir).collect()
            if r["partition_id"] >= 0
        ]
        per_role = {
            r["role"]: r["n_docs"]
            for r in eng.documents.groupBy("role")
            .agg(F.count("*").alias("n_docs"))
            .collect()
        }
        return {
            "result": True,
            "statistics": {
                "total": {
                    "docs": eng.n_docs,
                    "terms": total_terms,
                    "avgdl": eng.avgdl,
                    "is_indexing": self.is_indexing(),
                    # the reference surfaces setFailed(last_error) in its
                    # statistics; a swallowed background-build failure
                    # must be visible somewhere
                    "last_error": (
                        self._build_error[-1] if self._build_error else None
                    ),
                },
                "per_role": per_role,
                "parts": parts,
            },
        }

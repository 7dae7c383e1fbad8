"""Per-layer metrics of the traced run.

Most come from the spans the traced run recorded around the engine's
public calls (spans.instrument). Three layers are timed directly on the
run's own inputs after the timed loop, because their work happens inside
Spark tasks or is too short for a span: the analyzer (``analyze_text`` on
every query of the run), the posting codec (``decode_postings_grouped``
over the posting blocks of the run's query terms, read with pyarrow) and
snippets (``make_snippet`` on the texts of the returned hits).
"""

from __future__ import annotations

import statistics
import time


def _rate(fn, min_s: float) -> tuple[int, float]:
    """Call ``fn`` until ``min_s`` has passed; (calls, seconds)."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n, dt


def probe(run, index_dir: str) -> dict:
    """Direct timings of the analyzer, codec and snippet layers."""
    import pyarrow.dataset as ds

    from search_engine_spark.functions.analyzer import analyze_text
    from search_engine_spark.functions.codec import decode_postings_grouped
    from search_engine_spark.functions.snippet import make_snippet

    checks = [c for op in run.ops for c in op.checks]
    queries = sorted({q for _, q, _, _ in checks})
    n, dt = _rate(lambda: [analyze_text(q) for q in queries], 0.05)
    out = {"analyze_us": dt / (n * len(queries)) * 1e6}

    terms = sorted({t for q in queries for t in analyze_text(q)})
    blocks = ds.dataset(
        f"{index_dir}/postings", format="parquet", partitioning="hive"
    ).to_table(
        columns=["doc_ids", "tfs", "n"], filter=ds.field("term").isin(terms)
    )
    ids = blocks.column("doc_ids").to_pylist()
    tfs = blocks.column("tfs").to_pylist()
    postings = int(sum(blocks.column("n").to_pylist()))
    n, dt = _rate(lambda: decode_postings_grouped(ids, tfs), 0.2)
    out["decode_mpostings_per_s"] = postings * n / dt / 1e6

    texts = {}
    for state in {s for s, _, _, _ in checks}:
        frame = run.states[state]
        texts[state] = dict(zip(
            zip(frame["conv_id"], frame["turn_idx"].astype(int)),
            frame["text"],
        ))
    hits = [
        (texts[state][(row["conv_id"], int(row["turn_idx"]))],
         set(analyze_text(q)))
        for state, q, _, data in checks for row in data
    ]
    n, dt = _rate(lambda: [make_snippet(t, lem) for t, lem in hits], 0.1)
    out["snippet_us_per_hit"] = dt / (n * max(1, len(hits))) * 1e6
    return out


def _mean(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.mean(xs) if xs else default


def _first_lookup(tracer, op_span):
    """The first ``lookup_terms`` span of a read op, or None. A search
    repeats the lookup for the same query (answered from the engine's
    memo), so only the first one shows how the dictionary behaves across
    queries. ``search_many`` reads the dictionary without it."""
    lookups = [
        s for s in tracer.spans
        if s.op == op_span.id and s.name == "query.lookup_terms"
    ]
    return min(lookups, key=lambda s: s.start) if lookups else None


def _routes(tracer, op, engine_cls) -> list[str]:
    """The plan each query of a read op was routed to, inferred from its
    dictionary dfs against the engine's public routing thresholds."""
    op_span = op.span
    if op_span.name == "api.search_many":
        return ["packed"] * op.queries
    if op_span.attrs.get("offset"):
        return ["classic"]
    first = _first_lookup(tracer, op_span)
    if first is None:
        return []
    dfs = first.attrs.get("dfs", [])
    if not dfs or first.attrs.get("n_missing"):
        return []  # empty result, no plan runs
    if len(dfs) == 1 and dfs[0] >= engine_cls.BLOCKMAX_MIN_POSTINGS:
        return ["blockmax"]
    if sum(dfs) >= engine_cls.BATCH_PLAN_MIN_POSTINGS:
        return ["packed"]
    return ["classic"]


def per_layer(run) -> dict:
    from search_engine_spark.operators.query import SearchEngine

    tracer, rep = run.tracer, run.report
    spans = tracer.spans
    self_t = tracer.self_times()
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def first(name):
        return by_name.get(name, [None])[0]

    reads = [op.span for op in run.ops if op.kind == "read" and op.span]
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    build = first("index_build.build")
    build_turns = next(op.turns for op in run.ops if op.turns and
                       op.kind == "setup")
    inits = by_name.get("query.init", [])
    lookups = [
        lk for lk in (_first_lookup(tracer, s) for s in reads)
        if lk is not None
    ]
    routes = [
        r for op in run.ops if op.kind == "read" and op.span
        for r in _routes(tracer, op, SearchEngine)
    ]
    warm_reads = [op for op in run.ops if op.kind == "read" and not op.cold]
    traced_cpu = [op.cpu_s for op in warm_reads if op.traced]
    plain_cpu = [op.cpu_s for op in warm_reads if not op.traced]
    updates = by_name.get("incremental.update", [])
    write_turns = sum(op.turns for op in run.ops if op.kind == "write")
    compacts = by_name.get("compaction.compact", [])
    compact_turns = sum(op.turns for op in run.ops if op.kind == "compact")
    probe = rep["layer_probe"]
    index = rep["index"]
    ops_total = sum(s.dur for s in spans if s.parent is None)

    out = {
        "session.start_s": first("session.start").dur,
        "index_build.build_s": build.dur,
        "index_build.turns_per_s": build_turns / build.dur,
        "index_build.jobs": build.jobs,
        "analyzer.analyze_us": probe["analyze_us"],
        "query.init_s": _mean(s.dur for s in inits),
        "query.init_jobs": _mean(s.jobs for s in inits),
        "query.lookup_ms": _mean(s.dur * 1e3 for s in lookups),
        "query.lookup_jobs": _mean(s.jobs for s in lookups),
        "query.lookup_hit_ratio": _mean(
            float(s.jobs == 0) for s in lookups),
        "query.plan_ms": _mean(
            sum(c.dur for c in children.get(s.id, [])
                if c.layer == "query.plan") * 1e3
            for s in reads),
        "query.exec_ms": _mean(
            sum(c.dur for c in children.get(s.id, [])
                if c.layer == "query.exec") * 1e3
            for s in reads),
        "query.jobs_per_read": _mean(s.jobs for s in reads),
        "query.tasks_per_read": _mean(s.tasks for s in reads),
        "query.pushdown_dropped_frac": _mean(
            float(any("pushdown dropped" in w
                      for w in tracer.op_warnings.get(s.id, [])))
            for s in reads),
        "codec.decode_mpostings_per_s": probe["decode_mpostings_per_s"],
        "codec.bytes_per_posting": index["postings_bytes"]
        / max(1, rep["final_sum_df"]),
        "snippet.us_per_hit": probe["snippet_us_per_hit"],
        "api.engine_rebuild_ratio": sum(
            1 for s in inits if s.op in {r.id for r in reads}
        ) / sum(1 for op in run.ops if op.kind == "read"),
        "api.envelope_ms": _mean(self_t[s.id] * 1e3 for s in reads),
        "incremental.turns_per_s": write_turns / sum(
            s.dur for s in updates) if updates else 0.0,
        "incremental.jobs_per_batch": _mean(s.jobs for s in updates),
        "incremental.parts": index["parts_before"],
        "deletes.vector_ids": index["deleted_ids"],
        "snapshots.count": index["snapshots"],
        "compaction.parts_before": index["parts_before"],
        "compaction.parts_after": index["parts_after"],
        "compaction.turns_per_s": compact_turns / compacts[0].dur
        if compacts else 0.0,
        "trace_overhead_frac": statistics.median(traced_cpu)
        / statistics.median(plain_cpu) - 1.0
        if traced_cpu and plain_cpu else 0.0,
    }
    for plan in ("classic", "blockmax", "packed"):
        out[f"query.plan_share.{plan}"] = (
            routes.count(plan) / len(routes) if routes else 0.0
        )
    layer_self: dict[str, float] = {}
    for s in spans:
        layer_self[s.layer] = layer_self.get(s.layer, 0.0) + self_t[s.id]
    for layer in ("session", "index_build", "api", "query.init",
                  "query.lookup", "query.plan", "query.exec", "analyzer",
                  "incremental", "compaction"):
        out[f"self_share.{layer}"] = layer_self.get(layer, 0.0) / ops_total
    rep["layer_self_s"] = layer_self
    return out

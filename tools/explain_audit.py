"""Physical-plan audit: prints the pruning/pushdown/codegen evidence cited
in PERF.md from live `.explain("formatted")` output.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from search_engine_spark import entry_queries as EQ  # noqa: E402
from search_engine_spark.operators.query import SearchEngine  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402

KEYS = (
    "PartitionFilters", "PushedFilters", "ReadSchema", "TakeOrderedAndProject",
    "BroadcastHashJoin", "SortMergeJoin", "Exchange", "HashAggregate",
    "WholeStageCodegen", "FlatMapGroupsInPandas", "MapInPandas",
    "ArrowEvalPython", "WindowGroupLimit", "Window",
)


def show(title: str, df) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    print(f"\n===== {title} =====")
    for line in buf.getvalue().splitlines():
        if any(k in line for k in KEYS):
            print(line.rstrip()[:200])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    idx = EQ.ensure_index(spark, sf_dir)
    eng = SearchEngine(spark, idx)

    infos, _ = eng.lookup_terms(" ".join(EQ.RARE_QUERY_TERMS))
    show("candidate block scan (bucket+term+range pruning)",
         eng.candidate_scores(infos, conjunctive=True))
    # plan="classic": a bounded query routes to the driver-side local
    # plan, which has no Spark plan to audit
    show("top-k search (TakeOrderedAndProject)",
         eng.search_ids(" ".join(EQ.RARE_QUERY_TERMS), k=10,
                        plan="classic"))
    # the local-plan bound shadowed to 0: a bounded batch runs on the
    # driver too, and only the packed plan has a Spark plan to audit
    eng.LOCAL_PLAN_MAX_POSTINGS = 0
    show("batched multi-query search (WindowGroupLimit top-k per query)",
         eng.search_many({q: " ".join(t) for q, t in
                          EQ.BATCH_QUERIES.items()}, k=10))
    del eng.LOCAL_PLAN_MAX_POSTINGS
    # native-only helper: the q_bm25_topk GATE entry unions the engine
    # variant too (r5 fold) — auditing that would mix the engine's
    # MapInPandas decode plan into the "native" section
    show("dataframe-native BM25",
         EQ._topk_spark(spark, sf_dir, EQ.QUERY_TERMS, "bm25"))
    show(
        "phrase match (narrow scan: ReadSchema doc_id+text only, no "
        "exchange; JVM higher-order exprs — codegen-opaque but no Python)",
        EQ.q_phrase_match(spark, sf_dir),
    )
    show("prefix search (classic plan over expanded terms)",
         eng.search_prefix("s", max_expansions=1024))
    show(
        "indexed phrase search (candidate-first: index scans + residual "
        "filter on the k-bounded join; no full-corpus re-analysis)",
        eng.search_phrase(" ".join(EQ.PHRASE_TERMS), k=10),
    )
    pos_eng = SearchEngine(spark, EQ.ensure_pos_index(spark, sf_dir))
    show(
        "indexed proximity, positional (both position streams from the "
        "range-pruned postings scan; NO documents relation in the plan)",
        pos_eng.search_proximity(*EQ.PROX_TERMS, window=EQ.PROX_WINDOW,
                                 k=10),
    )
    show(
        "boolean NOT (classic plan on the positives; exclusion = ONE "
        "LeftAnti join whose build side is the excluded term's own "
        "bucket-pruned term-pushed posting scan, BEFORE the top-k)",
        eng.search_not(" ".join(EQ.QUERY_TERMS), EQ.NOT_EXCLUDE_TERM,
                       k=10),
    )
    show(
        "spell suggestion (one WholeStageCodegen span over the "
        "vocab-sized term_stats scan: length-band filter before the "
        "levenshtein DP, TakeOrderedAndProject; ZERO Exchange)",
        eng.suggest(EQ.SUGGEST_WORDS[0], use_delete_index=False),
    )
    show(
        "facet counts (pivot match set ⋈ doc-store facet projection, "
        "two-phase HashAggregate, one n_facets-row exchange)",
        eng.facet_counts(" ".join(EQ.QUERY_TERMS), by="conv_id"),
    )
    show(
        "match count (membership-only reader: ReadSchema doc_ids only "
        "+ rarest-range pushdown; per-doc count agg, no scores)",
        eng.match_count(" ".join(EQ.QUERY_TERMS)),
    )
    show(
        "role-restricted search (classic plan + one left-semi join "
        "against the doc store's filtered (doc_id, role) projection)",
        eng.search_ids(" ".join(EQ.QUERY_TERMS), k=10, role="user"),
    )
    from search_engine_spark.operators.snapshots import list_snapshots

    snap_idx = EQ._tagged_index_dir(sf_dir, "snap")
    if list_snapshots(snap_idx):
        first = list_snapshots(snap_idx)[0]["snapshot_id"]
        asof = SearchEngine(spark, snap_idx, snapshot_id=first)
        ai, _ = asof.lookup_terms(" ".join(EQ.QUERY_TERMS))
        show(
            "snapshot as-of postings scan (part_id membership inside "
            "PartitionFilters — old parts prune at directory listing)",
            asof.candidate_scores(ai, conjunctive=True),
        )
    spark.stop()


if __name__ == "__main__":
    main()

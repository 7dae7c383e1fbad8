"""spark-submit entry point: top-k search against a built index.

    spark-submit --py-files engine.zip jobs/search.py \
        --index /data/index --query "token batch" [--k 10] [--offset 0] \
        [--mode bm25|relevance_ref] [--max-df N] [--no-snippets]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from search_engine_spark import schemas  # noqa: E402
from search_engine_spark.operators.query import SearchEngine  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--offset", type=int, default=0)
    ap.add_argument("--mode", default="bm25", choices=["bm25", "relevance_ref"])
    ap.add_argument("--max-df", type=int, default=None)
    ap.add_argument("--no-snippets", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="search")
    eng = SearchEngine(spark, args.index)
    rows = eng.search(
        args.query,
        k=args.k,
        offset=args.offset,
        mode=args.mode,
        max_df=args.max_df,
        with_snippets=not args.no_snippets,
    )
    for r in rows:
        print(json.dumps(dict(zip(schemas.SEARCH_RESULT.names, r))))
    spark.stop()


if __name__ == "__main__":
    main()

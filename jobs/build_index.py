"""spark-submit entry point: full index build.

    spark-submit --py-files engine.zip jobs/build_index.py \
        --input /data/transcripts --out /data/index \
        [--n-parts 64] [--n-buckets 64] [--no-resume] [--part-concurrency 4]

``--py-files`` packaging: `python jobs/package.py` writes engine.zip.
Locally the module also runs plain (`python jobs/build_index.py ...`) —
`get_spark` builds a local[] session when no master is injected.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from search_engine_spark.operators.index_build import build_index  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet/table path")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--n-parts", type=int, default=4)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument(
        "--block-size", type=int, default=128,
        help="postings per encoded block; fixed for the index's life "
        "(every later upsert and compaction encodes with it)",
    )
    ap.add_argument(
        "--salt-budget", type=int, default=100_000,
        help="df above which a term's postings split into doc_id subranges; "
        "fixed for the index's life (every later upsert and compaction "
        "encodes with it)",
    )
    ap.add_argument("--part-concurrency", type=int, default=1)
    ap.add_argument("--index-version", default="v1")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--prewarm",
        action="store_true",
        help="spin up the executor Python worker pool (pandas import) "
        "before timing starts — steady-state cluster executors are warm, "
        "so cold-start worker spawn is not part of build throughput",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="build_index")
    if args.prewarm:
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        cores = int(spark.conf.get("spark.cores.max", "32"))
        warm = F.pandas_udf(lambda s: s, LongType())
        spark.range(0, cores * 1000, 1, cores * 2).select(
            warm(F.col("id"))
        ).count()
    t0 = time.time()
    result = build_index(
        spark,
        spark.read.parquet(args.input),
        args.out,
        n_parts=args.n_parts,
        n_buckets=args.n_buckets,
        block_size=args.block_size,
        salt_budget=args.salt_budget,
        part_concurrency=args.part_concurrency,
        index_version=args.index_version,
        resume=not args.no_resume,
    )
    payload = dict(result.__dict__)
    payload["build_sec"] = round(time.time() - t0, 2)
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()

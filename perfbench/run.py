"""Benchmark of the transcript search engine, driven through its public
surfaces (session.get_spark, index_build.build_index, api.EngineAPI).

    python3 perfbench/run.py --workload batch --seed 1 --seconds 6 --trace 0

Run it from the repository root. Each run is one driver process on
local[<cpus>] with one closed-loop client thread. It builds a base index
from a corpus generated from ``--seed``, runs the workload for
``--seconds``, checks every answer against the in-repo oracle, and prints
a report line and, last, one JSON line with the metrics named in
BENCHMARK.json: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See perfbench/README.md for the workloads
and the meaning of every metric.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import layers  # noqa: E402
import sysstat  # noqa: E402
from check import OracleChecker  # noqa: E402
from spans import Tracer, SparkAccounting, instrument  # noqa: E402

WORKLOADS = ("batch", "mixed")
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)
LIMIT = 10
# index buckets of the base build: about 750 turns in each at full size;
# with build_index's default of 16, per-file and per-task costs double the
# CPU time of a search
N_BUCKETS = 4


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="toy: a few ops on a 500-turn corpus (self-test)")
    return ap.parse_args(argv)


def configure_process(work: Path) -> int:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; returns the local[N] core count."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        # below machine RAM; the engine's default is 16g
        "SPARK_DRIVER_MEM": "2g",
        # C1 only: a run lasts about a minute, and the C2 compiler would
        # still be compiling (and burning CPU) when it ends
        "SPARK_GRAFT_JAVA_OPTS": (
            "-XX:+UseParallelGC -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = str(tmp)
    return cpus


@dataclass
class Op:
    kind: str  # setup | read | write | compact
    seconds: float
    traced: bool
    ok: bool
    attempted: int = 1  # queries for a search_many call, else 1
    failed: int = 0
    queries: int = 0  # queries answered (reads)
    turns: int = 0  # turns offered (writes)
    cold: bool = False  # first read after a mutation (rebuilds the engine)
    checks: list = field(default_factory=list)  # (state, query, offset, data)
    span: object = None  # its span, in traced runs
    cpu_s: float = 0.0  # CPU seconds of the whole process tree
    steal_s: float = 0.0  # host steal seconds while it ran


class Run:
    def __init__(self, args: argparse.Namespace, work: Path, cpus: int):
        self.args = args
        self.work = work
        self.cpus = cpus
        self.sizes = inputs.TOY if args.scale == "toy" else inputs.FULL
        self.gen = inputs.Generator(args.seed, self.sizes)
        self.tracer = Tracer() if args.trace else None
        self.ops: list[Op] = []
        self.states: list = []  # net corpus after each mutation
        self.report: dict = {}
        self.rss: sysstat.RssSampler | None = None

    def cpu_s(self) -> float:
        """CPU seconds of the process tree, less the memory sampler's."""
        own = self.rss.cpu_s if self.rss is not None else 0.0
        return sysstat.tree_cpu_s() - own

    # -- one operation -------------------------------------------------
    def call(self, kind: str, name: str, fn, traced: bool = True,
             **attrs) -> tuple:
        """Run ``fn`` as one benchmark operation; returns (result, Op).
        An exception or an error envelope marks the op failed. ``attrs``
        go on the op's span."""
        tracer = self.tracer
        if tracer is not None:
            tracer.enabled = traced
        op = Op(kind, 0.0, tracer is not None and traced, ok=False)
        out = None
        c0 = self.cpu_s()
        s0 = sysstat.noise_stamp()["steal_s"]
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.op(name, name.split(".")[0], **attrs) as span:
                    op.span = span
                    out = fn()
            else:
                out = fn()
            op.ok = not (isinstance(out, dict) and out.get("result") is False)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
        op.seconds = time.perf_counter() - t0
        op.cpu_s = self.cpu_s() - c0
        op.steal_s = sysstat.noise_stamp()["steal_s"] - s0
        op.failed = 0 if op.ok else 1
        if tracer is not None:
            tracer.enabled = True
        self.ops.append(op)
        return out, op

    def search(self, api, query: str, offset: int, traced: bool) -> Op:
        res, op = self.call(
            "read", "api.search",
            lambda: api.search(query, offset=offset, limit=LIMIT), traced,
            offset=offset,
        )
        if op.ok:
            op.queries = 1
            op.checks.append((len(self.states) - 1, query, offset, res["data"]))
        return op

    def search_many(self, api, batch: list[str], traced: bool) -> Op:
        res, op = self.call(
            "read", "api.search_many",
            lambda: api.search_many(batch, limit=LIMIT, with_snippets=False),
            traced,
        )
        op.attempted = op.failed = len(batch)
        if op.ok:
            state = len(self.states) - 1
            for i, q in enumerate(batch):
                r = res["results"][f"q{i}"]
                if r["result"]:
                    op.queries += 1
                    op.checks.append((state, q, 0, r["data"]))
            op.failed -= op.queries
        return op

    # -- the run -------------------------------------------------------
    def execute(self) -> None:
        from search_engine_spark import api as api_mod
        from search_engine_spark.operators import compaction, query
        from search_engine_spark.operators.index_build import build_index
        from search_engine_spark.session import get_spark

        args, sizes, gen = self.args, self.sizes, self.gen
        base = gen.conversations(sizes.base_turns)
        base_path = self.work / "base.parquet"
        base.to_parquet(base_path, index=False)
        self.states.append(base)
        index_dir = str(self.work / "index")
        warm = gen.batch_queries() if args.workload == "batch" \
            else gen.banded_query(2)

        tracer = self.tracer
        noise0 = sysstat.noise_stamp()
        with sysstat.RssSampler() as rss:
            self.rss = rss
            t0 = time.perf_counter()
            spark, _ = self.call("setup", "session.start", lambda: get_spark(
                app_name="perfbench", master=f"local[{self.cpus}]",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                },
            ))
            if spark is None:
                raise RuntimeError("get_spark failed")
            self.spark = spark
            if tracer is not None:
                tracer.spark = SparkAccounting(spark.sparkContext)
                instrument(tracer, query, api_mod, compaction,
                           type(spark.range(1)))
            _, build = self.call("setup", "index_build.build", lambda:
                                 build_index(spark,
                                             spark.read.parquet(str(base_path)),
                                             index_dir, n_parts=1,
                                             n_buckets=N_BUCKETS,
                                             resume=False))
            build.turns = int((base["text"].str.strip() != "").sum())
            api = api_mod.EngineAPI(spark, index_dir)
            if args.workload == "batch":
                warm_op = self.search_many(api, warm, traced=True)
            else:
                warm_op = self.search(api, warm, 0, traced=True)
            warm_op.kind = "setup"
            setup_s = time.perf_counter() - t0
            if not (build.ok and warm_op.ok):
                raise RuntimeError("set-up failed")

            loop0 = time.perf_counter()
            if args.workload == "batch":
                self.loop_batch(api, loop0)
            else:
                self.loop_mixed(api, spark)
            self.report["measured_s"] = time.perf_counter() - loop0
            self.end_of_run(api, spark, index_dir)
        noise = sysstat.noise_delta(noise0, sysstat.noise_stamp())
        self.report.update(
            setup_s=setup_s, rss_peak_mb=rss.peak_bytes / 2**20,
            rss_peak_procs_mb=rss.peak_procs, noise=noise,
        )

    def loop_batch(self, api, loop0: float) -> None:
        sharing = []
        n = 0
        while True:
            batch = self.gen.batch_queries()
            sharing.append(inputs.term_sharing(batch, self._analyze))
            self.search_many(api, batch, traced=n % 2 == 0)
            n += 1
            if time.perf_counter() - loop0 >= self.args.seconds:
                break
        self.report["descriptor_extra"] = {
            "batch_queries": self.sizes.batch_queries,
            "term_sharing": statistics.mean(sharing),
        }

    def loop_mixed(self, api, spark) -> None:
        """A fixed number of rounds, so the input shape (parts, deletes,
        index size) never depends on the speed of the code under test."""
        gen, sizes = self.gen, self.sizes
        n_search = offered = resent = 0
        for _ in range(sizes.rounds):
            batch, n_resend = gen.upsert_batch(self.states[-1])
            sdf = spark.createDataFrame(batch, schema=TRANSCRIPT_DDL)
            _, op = self.call(
                "write", "api.index_batch",
                lambda: api.index_batch(sdf, upsert=True),
            )
            op.turns = len(batch)
            offered += len(batch)
            resent += n_resend
            self.states.append(inputs.apply_upsert(self.states[-1], batch))
            for j in range(sizes.searches_per_round):
                shape = inputs.SEARCH_SHAPES[n_search % len(inputs.SEARCH_SHAPES)]
                q = gen.banded_query(shape or 2)
                # the first search after the mutation rebuilds the engine;
                # a traced run always traces it, and alternates the rest
                read = self.search(api, q, 0 if shape else LIMIT,
                                   traced=j % 2 == 0)
                read.cold = j == 0
                n_search += 1
        self.report["descriptor_extra"] = {
            "rounds": sizes.rounds,
            "turns_offered": offered,
            "upsert_share": resent / offered,
        }

    def end_of_run(self, api, spark, index_dir: str) -> None:
        """Index state at the end of the run; mixed compacts first."""
        from search_engine_spark.operators.deletes import load_deleted_ids
        from search_engine_spark.operators.index_build import manifest_df
        from search_engine_spark.operators.snapshots import list_snapshots

        def parts() -> int:
            return sum(
                1 for r in manifest_df(spark, index_dir).collect()
                if r["partition_id"] >= 0 and r["status"] == "DONE"
            )

        state = {"parts_before": parts()}
        deleted = load_deleted_ids(spark, index_dir)
        state["deleted_ids"] = 0 if deleted is None else int(deleted.size)
        if self.args.workload == "mixed":
            res, op = self.call(
                "compact", "api.compact", lambda: api.compact(n_parts=1)
            )
            op.turns = int((self.states[-1]["text"].str.strip() != "").sum())
        state["parts_after"] = parts()
        state["snapshots"] = len(list_snapshots(index_dir))
        state["index_bytes"] = sysstat.tree_bytes(index_dir)
        state["postings_bytes"] = sysstat.tree_bytes(f"{index_dir}/postings")
        self.report["index"] = state
        if self.tracer is not None:
            self.report["layer_probe"] = layers.probe(self, index_dir)

    def _analyze(self, text: str) -> list[str]:
        from search_engine_spark.functions.analyzer import analyze_text

        return analyze_text(text)

    def stop_spark(self) -> None:
        """Stop Spark and wait for its JVM to exit; a bare ``spark.stop()``
        leaves the JVM running past the end of this process."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at end of its stdin
        gateway.proc.wait(timeout=60)

    # -- checks and results --------------------------------------------
    def check(self) -> int:
        """Oracle-check every answered query; returns mismatches. Oracle
        indexes are built here, outside every timed region."""
        from search_engine_spark.oracle import build_oracle_index, oracle_search

        checker = OracleChecker(build_oracle_index, oracle_search)
        for state in {c[0] for op in self.ops for c in op.checks}:
            checker.oracle(state, self.states[state])
        bad = 0
        for op in self.ops:
            for state, q, offset, data in op.checks:
                if not checker.page_ok(state, q, offset, LIMIT, data):
                    bad += 1
                    print(f"perfbench: oracle mismatch state={state} "
                          f"query={q!r} offset={offset}", file=sys.stderr)
        final = checker.oracle(len(self.states) - 1, self.states[-1])
        self.report["descriptor"] = {
            **inputs.corpus_shape(checker.oracle(0, self.states[0])),
            **self.report.pop("descriptor_extra"),
        }
        self.report["text_bytes"] = sum(
            len(t.encode()) for t in final.documents["text"]
        )
        self.report["final_sum_df"] = int(final.term_stats["df"].sum())
        return bad

    def results(self, mismatches: int) -> dict:
        ops, rep = self.ops, self.report
        attempted = sum(op.attempted for op in ops)
        failed = mismatches + sum(op.failed for op in ops)
        reads = [op for op in ops if op.kind == "read"]
        reads_clean = [op for op in reads if not op.traced] or reads
        ms = [op.seconds * 1e3 for op in reads_clean]
        writes = [op for op in ops if op.kind == "write"] or [
            op for op in ops if op.kind == "setup" and op.turns
        ]
        # Reads and writes are gated on CPU time, which leaves out the time
        # the host steals; wall times go in the report beside the steal.
        e2e = {
            "setup_s": rep["setup_s"],
            "read_cpu_ms_per_query": sum(op.cpu_s for op in reads_clean)
            * 1e3 / sum(op.queries for op in reads_clean),
            "write_cpu_ms_per_turn": sum(op.cpu_s for op in writes)
            * 1e3 / sum(op.turns for op in writes),
            "index_bytes_per_text_byte": rep["index"]["index_bytes"]
            / rep["text_bytes"],
            "rss_peak_mb": rep["rss_peak_mb"],
        }
        compacts = [op for op in ops if op.kind == "compact"]
        rep.update(
            workload=self.args.workload, seed=self.args.seed,
            trace=self.args.trace, scale=self.args.scale,
            failed_frac=failed / attempted,
            read_samples=len(ms),
            read_ms=[round(x, 1) for x in ms],
            read_p50_ms=statistics.median(ms),
            read_p90_ms=statistics.quantiles(ms, n=10)[-1]
            if len(ms) >= 2 else ms[0],
            read_qps=sum(op.queries for op in reads_clean)
            / sum(op.seconds for op in reads_clean),
            write_turns_per_s=sum(op.turns for op in writes)
            / sum(op.seconds for op in writes),
            ingest_batch_p50_s=statistics.median(
                [op.seconds for op in writes]),
            compact_s=compacts[0].seconds if compacts else None,
            compact_cpu_s=compacts[0].cpu_s if compacts else None,
            # kind, wall s, CPU s, host steal s of every op
            ops=[(op.kind, round(op.seconds, 3), round(op.cpu_s, 3),
                  round(op.steal_s, 3)) for op in ops],
            end_to_end=e2e,
        )
        if self.args.trace:
            metrics = layers.per_layer(self)
        else:
            metrics = e2e
        kind = "per_layer" if self.args.trace else "end_to_end"
        units = {m["name"]: m["unit"] for m in SPEC[kind]}
        return {
            "correct": mismatches == 0 and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                name: {"value": float(metrics[name]), "unit": units[name]}
                for name in units
            },
        }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "search_engine_spark" / "__init__.py").is_file():
        print("perfbench: run from a checkout of the repository (the "
              "search_engine_spark package is missing)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cpus = configure_process(work)
    run = Run(args, work, cpus)
    try:
        run.execute()
    finally:
        t0 = time.perf_counter()
        run.stop_spark()
        run.report["shutdown_s"] = time.perf_counter() - t0
        shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    mismatches = run.check()
    run.report["check_s"] = time.perf_counter() - t0
    result = run.results(mismatches)
    if run.tracer is not None:
        out = ROOT / ".perfbench" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps(run.tracer.dump()))
        run.report["trace_file"] = str(path.relative_to(ROOT))
    print(json.dumps({"report": run.report}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

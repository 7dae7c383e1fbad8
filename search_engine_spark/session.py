"""SparkSession factory with scale-aware defaults.

Local tests run on ``local[N]`` (single JVM); the same configuration keys
govern multi-executor cluster runs (ship via ``spark-submit --py-files``).
All settings are chosen for a 100 TB corpus on a ~1000-executor cluster:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow on (every UDF in this package is pandas/Arrow vectorized),
- shuffle partitions sized to cores locally; on a cluster set
  ``spark.sql.shuffle.partitions`` ~= 2-3x total executor cores via
  ``--conf`` (AQE coalesces the tail).
"""

from __future__ import annotations

import datetime
import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def resolve_master(
    master: str | None, under_submit: bool, cpus: int,
    shuffle_partitions: int | None,
) -> tuple[str | None, int | None]:
    """Pure master/shuffle-partition resolution (see get_spark docstring).

    Returns (master_to_set, shuffle_partitions_to_set); ``None`` means
    "leave the launcher/conf-provided value untouched".
    """
    if master is None and not under_submit:
        master = f"local[{cpus}]"
    if shuffle_partitions is None and master is not None:
        # local: one shuffle partition per core; cluster: override via --conf
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        # legal bracketed masters can carry extras: local[N,maxFailures],
        # local-cluster[n,cores,mem] — take the leading component and
        # fall back to the cpu default when it is not a plain integer
        n = n.split(",")[0].strip()
        shuffle_partitions = int(n) if n.isdigit() else cpus
    return master, shuffle_partitions


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a driver JVM this process launches:
    ``SPARK_DRIVER_MEM`` when set, else 16g or half the host's physical
    RAM (``phys_bytes``, read with os.sysconf when None), whichever is
    less. Local mode runs every executor in the driver JVM, and a heap
    allowed past what the host has gets the JVM OOM-killed."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, phys_bytes >> 21)}m"


def get_spark(
    app_name: str = "search_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entry points run unchanged under spark-submit on a real
    cluster: when the process was launched by spark-submit (detected via
    the Py4J gateway env the launcher injects) and no explicit ``master``
    was passed, the launcher-provided ``spark.master`` is left untouched —
    calling ``builder.master()`` here would silently override
    ``--master spark://...`` and run the whole job in the driver JVM.
    Likewise the driver-JVM settings (memory, GC flags) and the
    shuffle-partition default are skipped under spark-submit: the driver
    JVM is already up, and the cluster sizes shuffle partitions via
    ``--conf`` (~2-3x total executor cores; AQE coalesces the tail).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    master, shuffle_partitions = resolve_master(
        master, under_submit, cpus, shuffle_partitions
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if not under_submit:
        # Driver-JVM settings only apply when THIS process launches the
        # JVM (local mode / plain `python`); under spark-submit the driver
        # is already up and these are supplied on the submit command line.
        # Batch-throughput GC: Spark on Java 17 defaults to G1, which
        # trades throughput for pause time; an index build has no latency
        # SLO, and ParallelGC measurably cuts the single-JVM CPU inflation
        # at high thread counts (see BENCH.md). Override or disable with
        # SPARK_GRAFT_JAVA_OPTS="" / your own flags. Local mode runs
        # executors in the driver JVM, so driver opts govern the whole box;
        # on a cluster, mirror this in spark.executor.extraJavaOptions.
        builder = builder.config(
            "spark.driver.memory", driver_memory()
        ).config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC"),
        ).config("spark.ui.enabled", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the local-mode analog
    of ``spark-submit --py-files engine.zip``). Without this, pandas-UDF
    deserialization fails with ModuleNotFoundError whenever the driver
    script runs outside the repo root."""
    zip_path = package_zip(Path(__file__).resolve().parent)
    spark.sparkContext.addPyFile(str(zip_path))


def package_zip(pkg_dir: Path) -> Path:
    """The zip of ``pkg_dir``'s sources in the temp dir, rebuilt when a
    source is newer than it. The name carries the uid (sticky /tmp:
    another user's zip is not replaceable) and a short hash of the
    package path, so two checkouts on one host never ship each other's
    code."""
    tag = hashlib.sha1(str(pkg_dir).encode()).hexdigest()[:12]
    zip_path = Path(tempfile.gettempdir()) / (
        f"search_engine_spark_pyfiles_{os.getuid()}_{tag}.zip"
    )
    sources = sorted(pkg_dir.rglob("*.py"))
    stale = zip_path.exists() and any(
        p.stat().st_mtime > zip_path.stat().st_mtime for p in sources
    )
    if stale or not zip_path.exists():
        # unique tmp per process + atomic replace: two concurrent
        # processes (tests + bench) must never write the SAME tmp file —
        # one would truncate mid-write and the other rename a torn zip
        fd, tmp_name = tempfile.mkstemp(
            dir=zip_path.parent, suffix=".pyfiles.tmp"
        )
        os.close(fd)
        tmp = Path(tmp_name)
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in sources:
                zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
        tmp.replace(zip_path)
    return zip_path


def _placeholder(dt: T.DataType):
    """A value of type ``dt`` for the one row an empty local frame drops."""
    if isinstance(dt, T.StringType):
        return ""
    if isinstance(dt, T.BinaryType):
        return b""
    if isinstance(dt, T.BooleanType):
        return False
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return 0.0
    if isinstance(dt, T.IntegralType):
        return 0
    if isinstance(dt, T.TimestampType):
        return datetime.datetime(1970, 1, 1)
    if isinstance(dt, T.ArrayType):
        return []
    raise TypeError(f"no placeholder value for {dt.simpleString()}")


def local_frame(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """A small driver-built frame (``rows``: tuples in schema order or a
    pandas frame) that never becomes a Python RDD. ``createDataFrame`` of
    a Python list runs an RDD job every time the frame is evaluated, on
    a second pool of Python workers; the rows go as pandas with the
    explicit schema, through Arrow into a LocalRelation (no job). An
    empty frame is one typed placeholder row cut by ``limit(0)``: empty
    pandas would fall back to the RDD path, and typed nulls over
    ``range(0)`` run a job on collect and lose the schema's non-null
    fields. Every engine local frame goes through here."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if len(rows) == 0:
        row = [_placeholder(f.dataType) for f in schema]
        return spark.createDataFrame(
            pd.DataFrame([row], columns=schema.names), schema=schema
        ).limit(0)
    if not isinstance(rows, pd.DataFrame):
        rows = pd.DataFrame(list(rows), columns=schema.names)
    return spark.createDataFrame(rows, schema=schema)

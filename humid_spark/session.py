"""SparkSession factory with scale-oriented defaults.

Single place that owns the session config so tests, the CLI, dedupbench
and `__spark_entry__.py` all get identical behavior.  Defaults are tuned
for correctness at local[N] while remaining the settings you would ship to
a 1000-executor cluster (AQE on, skew-join on, Arrow on, sane shuffle
partitioning).
"""

from __future__ import annotations

import hashlib
import io
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip the humid_spark package for shipment to Python workers — the
    local-mode equivalent of `spark-submit --py-files humid_spark.zip`
    (north_rule launch shape).  Without it, executors unpickle pandas UDFs
    that reference this module and fail with ModuleNotFoundError whenever
    the driver wasn't started from the repo root.

    In local mode Spark re-reads the added path when an executor fetches
    it and refuses a file whose contents changed since the add, so the
    zip is named by a hash of its bytes (entries sorted, timestamps
    fixed: the same sources give the same file) and moved into place by
    os.replace.  Two checkouts sharing a TMPDIR therefore never rewrite
    each other's zip, and a reader never sees a half-written one."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    sources = sorted(
        os.path.join(dirpath, f)
        for dirpath, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for full in sources:
            with open(full, "rb") as f:
                zf.writestr(zipfile.ZipInfo(os.path.relpath(full, root)), f.read())
    data = buf.getvalue()
    tmpdir = tempfile.gettempdir()
    digest = hashlib.sha256(data).hexdigest()[:16]
    out = os.path.join(tmpdir, f"humid_spark_pyfiles-{digest}.zip")
    fd, tmp = tempfile.mkstemp(prefix="humid_spark_pyfiles-", dir=tmpdir)
    with os.fdopen(fd, "wb") as f:
        f.write(data)
    os.replace(tmp, out)
    return out


def _resolve_aqe_broadcast_threshold(cores: int) -> str:
    """Topology-aware AQE broadcast ceiling (round-3 A/B was inconclusive
    inside host noise, so the default is now an automatic rule instead of
    one constant).  The broadcast hash relation is built SERIALLY on one
    driver thread, so the ceiling a deployment can amortize scales with
    how much parallel join work the broadcast unlocks — i.e. with the
    cores the build is feeding: 8m per core, clamped to [32m, 256m]
    (local[4] -> 32m, the round-3 min-of-3 leader there; local[32] ->
    256m, the prior default).  cores=0 (cluster, unknown topology) keeps
    256m — at real web scale the runtime relation sizes exceed any of
    these and AQE falls back to shuffle joins anyway.  SPARK_GRAFT_AQE_BCAST
    still overrides."""
    env = os.environ.get("SPARK_GRAFT_AQE_BCAST")
    if env:
        return env
    if not cores:
        return "256m"
    return f"{min(max(8 * cores, 32), 256)}m"


def _resolve_shuffle_partitions(
    cores: int, shuffle_partitions: int | None
) -> int | None:
    """None return = leave spark.sql.shuffle.partitions UNSET.  Local mode
    (cores >= 1) pins max(cores, 8).  Cluster mode (cores == 0,
    spark-submit) must NOT pin a tiny local value — AQE only coalesces
    DOWN from the initial partition count, so a low pin under-parallelizes
    every shuffle on a real cluster; inherit the cluster default, unless
    the deployment overrides via SPARK_GRAFT_SHUFFLE."""
    if shuffle_partitions is not None:
        return shuffle_partitions
    if cores:
        return max(cores, 8)
    env = os.environ.get("SPARK_GRAFT_SHUFFLE")
    return int(env) if env else None


def _resolve_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """spark.driver.memory default: half the host's RAM, capped at 24g
    (a fixed 24g is more heap than a smaller host has).  SPARK_DRIVER_MEM
    overrides; without a readable MemTotal the default stays 24g."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{min(24 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "humid_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # cores=0: do NOT force a master — inherit it from spark-submit /
    # cluster deployment (the CLI's --cores 0 path); cores=None: local[N]
    # from SPARK_GRAFT_CPUS
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = _resolve_shuffle_partitions(cores, shuffle_partitions)
    builder = SparkSession.builder.appName(app_name)
    if cores:
        builder = builder.master(f"local[{cores}]")
    if cores:
        builder = builder.config("spark.default.parallelism", str(cores))
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep post-shuffle partitions small enough that CPU-bound pandas-UDF
        # stages downstream of a shuffle still see every core (byte-based
        # coalescing assumes JVM-cheap rows; Python stages are not)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # let AQE broadcast joins from RUNTIME shuffle sizes (e.g. the
        # doc->cluster map in the annotate join) — at true web scale the
        # map exceeds this and falls back to a shuffle join automatically.
        # Ceiling is topology-aware (serial driver-side build amortizes
        # against cores fed): see _resolve_aqe_broadcast_threshold.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                _resolve_aqe_broadcast_threshold(cores))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", _resolve_driver_memory())
        # serialized persisted blocks (e.g. the lsh pruned-bucket
        # checkpoint) compress with lz4: decode is cheap per-core CPU that
        # scales with executors, vs raw memory-bus traffic that does not
        .config("spark.rdd.compress", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # whole-stage codegen cache (JVM-wide, static): the default 100
        # classes is smaller than one pass's plan set — a web pass
        # compiles ~139 classes and a 200-page index snapshot ~150 — so
        # every repeated pass evicted and recompiled its own classes
        # (0.6-1.0 s of Janino time per pass plus JIT warm-up on 4 vCPUs).
        # 1000 holds both workloads' sets with room for the
        # delete/compact/read plans.  Class names leave out the stage id:
        # with it, identical code under a stage AQE numbered differently
        # is a new cache key and compiles again
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(_package_zip())
    _prewarm_python_workers(spark, cores)
    return spark


def _prewarm_python_workers(spark: SparkSession, cores: int) -> None:
    """Spin up the reusable Python worker pool once, at session creation.

    The first Arrow/pandas-UDF stage of a session otherwise pays the full
    worker cold start — `cores` interpreters each importing numpy, pandas,
    pyarrow and the shipped humid_spark zip — inside whatever query
    happens to run first (measured ~2-3s on local[32]).  Workers are
    reused across stages (`spark.python.worker.reuse`, default on), so one
    tiny task per core at startup moves that cost out of the query path
    for every session consumer (CLI runs, bench, library drivers).

    Opt out with SPARK_GRAFT_NO_PREWARM=1 (e.g. UDF-free sessions where
    even the startup second matters)."""
    if os.environ.get("SPARK_GRAFT_NO_PREWARM"):
        return
    try:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _warm(xs: pd.Series) -> pd.Series:
            # touch the heavyweight imports a real signature stage needs
            # so the reused workers hold them resident
            import numpy  # noqa: F401
            import pyarrow  # noqa: F401

            from humid_spark.functions import signatures  # noqa: F401

            return xs

        n = max(cores, 1) if cores else 64
        spark.range(n).repartition(n).select(_warm("id")).collect()
    except Exception:  # noqa: BLE001 - prewarm is best-effort, never fatal
        pass

"""SparkSession factory tuned for the rollup engine.

Defaults are chosen for the 100 TB design point and scaled down by env
vars for the local[32] sandbox:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- Arrow on (every pandas UDF crosses the JVM/Python boundary in batches),
- UTC session timezone (tier buckets are epoch-aligned; oracle parity),
- shuffle partitions sized by env (32 locally; thousands on a cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_session(
    app_name: str = "chainalytic-framework-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    On a real cluster the same settings apply unchanged; only
    ``master`` and ``shuffle_partitions`` change (set shuffle
    partitions to ~2-3x total executor cores, or rely on AQE
    coalescing from a high initial value).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{DEFAULT_CPUS}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        # AQE: runtime partition coalescing + skew-join handling. At 100 TB
        # this is the engine's defense against hot-domain skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing targets max(bytes/parallelism,
        # minPartitionSize); the 1MB default floor collapses this
        # bench's small-but-expensive shuffles (e.g. the despike array
        # stage: 15MB → 4 tasks, 28 cores idle). 64k keeps such stages
        # at ~defaultParallelism partitions locally and is inert at
        # scale, where bytes/parallelism >> 64k decides (env-tunable).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "65536"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # FAIR job scheduling ACROSS POOLS: the pipeline submits
        # independent chains (cascade, fold, sketches, histograms) from
        # concurrent driver threads, and each chain thread names its own
        # pool via setLocalProperty (plans/pipeline.py) — unconfigured
        # pools get weight 1, so the FAIR root shares task slots evenly
        # across chains instead of FIFO's submission-order luck. NOTE
        # (ADVICE r4): this conf alone does nothing — jobs without a
        # named pool all land in the single 'default' pool, which is
        # internally FIFO; the per-thread pool tag is the active half.
        .config("spark.scheduler.mode", "FAIR")
        # Arrow for all pandas UDF traffic; modest batch size keeps peak
        # Python-worker memory bounded when html blobs ride along.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Input split size: 128-256 MB is right at 100 TB (~800k scan
        # tasks for 1000 executors — set via env on the cluster); the
        # sandbox default is 32 MB so a few-GB local input still fans
        # out across all 32 cores instead of collapsing to ~14 splits.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"),
        )
        # Deterministic timestamp semantics for parquet across engines.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Parquet codec: snappy default; zstd trades CPU for ~35% fewer
        # written bytes — worth flipping on bandwidth-bound hardware
        # (export SPARK_GRAFT_PARQUET_CODEC=zstd; measured in
        # BENCH/BASELINE.md optimization log).
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"),
        )
        # metadata-only MIN/MAX/COUNT over parquet (pending-range probes)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Runtime row-level filter injection: when a selective build side
        # (e.g. the touched-urls set of a targeted backfill semi-join)
        # joins a huge probe side, inject a bloom filter into the probe
        # SCAN so non-matching rows die before the shuffle. This is the
        # 100 TB backfill story: re-fold joins read O(matching) rows,
        # not O(history). (The sibling semiJoinReduction rewrite is NOT
        # enabled: in this Spark build it wedges the optimizer on
        # arbitrary queries — verified by bisection; bloom injection
        # alone is the scan-side win and is stable.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # in local mode the "driver" heap holds executors + persisted
        # frames (obs/tier/fold caches of the concurrent chains); 8g
        # showed major-GC outliers (12.8-16.7s pipeline spread at sf0.1,
        # stable ~12.5s at 24g). On a cluster this is driver-only and the
        # env override applies.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(_physical_memory()),
        )
        # PySpark 4.1 otherwise captures the Python call stack on every
        # DataFrame and Column call, with extra py4j round trips each —
        # a fixed cost on every plan a serving request builds. It only
        # decorates error messages; pass
        # extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}
        # to get the call sites back.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Shuffle/spill scratch on tmpfs when available: local-mode
        # shuffles are disk-bound otherwise (a cluster has per-node
        # disks; one sandbox disk serializes them).
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", _scratch_dir()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def default_driver_memory(physical_bytes: int | None) -> str:
    """Local-mode heap: 24g (the sf0.1 sizing above), but never more than
    half the machine's memory — the JVM's off-heap and the Python
    workers need the rest, and a 24g heap on a 16 GB host grew until
    the kernel killed it. Unknown memory keeps 24g."""
    cap_mb = 24 * 1024
    if physical_bytes:
        cap_mb = min(cap_mb, physical_bytes // 2 // 2**20)
    return f"{cap_mb}m"


def _physical_memory() -> int | None:
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return None


def _scratch_dir() -> str:
    shm = "/dev/shm/cfs-spark-scratch"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        import tempfile

        return tempfile.gettempdir()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors' Python workers — the
    programmatic equivalent of ``spark-submit --py-files pkg.zip``.
    Without it, any pandas-UDF stage fails with ModuleNotFoundError
    whenever the driver's cwd is not the repo root (cluster reality)."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        zip_base = os.path.join(tempfile.gettempdir(), "chainalytic_framework_spark_pkg")
        zip_path = shutil.make_archive(
            zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context, or read-only tmp: non-fatal


def prewarm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Spawn + warm one pandas-capable Python worker per core (imports
    pandas/numpy once). A cluster in steady state has warm workers; a
    fresh local JVM does not — without this, the first pandas-UDF stage
    of a benchmark pays n_cores × (interpreter + pandas import) and
    LOOKS anti-scaling. Call before timed runs."""
    import pandas as pd  # noqa: F401

    cores = n or spark.sparkContext.defaultParallelism

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        for b in batches:
            yield b

    spark.range(cores * 4, numPartitions=cores).mapInPandas(
        _warm, schema="id long"
    ).write.mode("overwrite").format("noop").save()


def get_active_or_build(**kwargs) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session(**kwargs)

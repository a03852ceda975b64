"""SparkSession factory tuned for this engine.

Local mode mirrors the driver harness (local[32], single JVM). The configs
are chosen for 100 TB-scale habits even though tests run locally:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy —
  replaces the reference's hand-tuned chunking (`--row-chunks`,
  /root/reference/africanus/rime/examples/predict.py:141).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden (AQE coalescing makes the initial number less critical).
- Arrow enabled: every pandas-UDF escape hatch is Arrow-batched.
- nanosAsLong: the driver's parquet uses TIMESTAMP(NANOS), which Spark's
  vectorized reader does not support natively; we read exact integer
  nanoseconds instead (no precision loss, unlike micros truncation).
- session timezone pinned UTC so timestamp arithmetic is engine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Local-bench-only I/O knobs (r13 verdict item 2), applied only under a
# `local` master. The testdata tables are single small parquet files, so
# an 8 MB split target restores scan parallelism on 32 cores; on a real
# cluster it would be ~12.5M tasks per 100 TB scan, so the 128 MB default
# stays there (guide §6 even recommends raising it). The driver's session
# keeps the 200/400 shuffle width; at bench scale the right pre-AQE width
# is the core count (AQE still coalesces down, but over-wide shuffles pay
# task-launch overhead in the iterative solvers' per-iteration joins).
# Cluster deployments size it from data volume instead.
LOCAL_ONLY = frozenset({
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.shuffle.partitions",
})

# Launch-time confs: a running session refuses them (each refused set
# cost ~6 ms), so `configure_session` skips them and an external session
# keeps whatever its builder chose; `get_spark` passes them at launch.
LAUNCH_ONLY = frozenset({
    "spark.ui.enabled",
    "spark.driver.memory",
    "spark.python.sql.dataFrameDebugging.enabled",
})


def driver_memory() -> str:
    """`SPARK_DRIVER_MEMORY` when set, else the smaller of 16g and half
    the host's physical memory: the local driver JVM holds every task
    thread, and a heap cap above the host lets it grow until the kernel
    kills it instead of failing with an OutOfMemoryError."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    except (AttributeError, OSError, ValueError):  # no sysconf name here
        half_mb = 16 * 1024
    default = "16g" if half_mb >= 16 * 1024 else f"{half_mb}m"
    return os.environ.get("SPARK_DRIVER_MEMORY", default)


# The engine's one session-conf table: `get_spark` builds from it,
# `configure_session` applies it to an externally-created session.
CONFS: tuple[tuple[str, str], ...] = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    # guide §3.1/§9: let the planner pick shuffled-hash join when its
    # size conditions hold instead of always sort-merge — drops both
    # sort passes from fact⋈fact joins (measured at sf10: q5's
    # lineitem⋈orders). Scale-safe: SHJ is only chosen when the
    # build side fits the per-partition hash-map bound; SMJ remains
    # the fallback for genuinely large both-sides joins.
    ("spark.sql.join.preferSortMergeJoin", "false"),
    # AQE twin of the same choice for runtime-sized shuffles
    ("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.parquet.mergeSchema", "false"),
    ("spark.sql.files.maxPartitionBytes", "8m"),
    ("spark.sql.files.openCostInBytes", "1m"),
    ("spark.sql.shuffle.partitions", DEFAULT_CPUS),
    # the LAUNCH_ONLY entries
    ("spark.ui.enabled", "false"),
    ("spark.driver.memory", driver_memory()),
    # With DataFrame debugging on, PySpark wraps every Column operator and
    # function in extra py4j calls and an `inspect` stack walk to record
    # its Python call site (a warm predict_vis_point_gauss build: 311
    # py4j calls with it, 271 without). The cost: a DataFrame error no
    # longer names the Python line that built the failing expression.
    ("spark.python.sql.dataFrameDebugging.enabled", "false"),
)


def get_spark(app_name: str = "codex_africanus_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    confs = {**dict(CONFS), "spark.sql.shuffle.partitions": str(cpus)}
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=confs)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply this engine's runtime confs to an externally-created session
    (the driver harness constructs its own SparkSession); the LOCAL_ONLY
    entries only under a `local` master, the LAUNCH_ONLY ones never."""
    try:
        is_local = spark.conf.get("spark.master", "").startswith("local")
    except Exception:
        is_local = False
    for k, v in CONFS:
        if k in LAUNCH_ONLY or (k in LOCAL_ONLY and not is_local):
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable at runtime in some deployments; fine
    return spark

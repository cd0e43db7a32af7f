"""SparkSession factory with the engine's tuned defaults.

Tuned for correctness at small scale and a plan shape that survives 100 TB:
AQE on (runtime broadcast conversion + skew-join splitting), explicit
shuffle-partition sizing, Arrow enabled for the pandas-UDF kernels.

A standalone session also fits its driver JVM to the host: the heap
(``default_driver_memory``, override ``SAGE_SPARK_DRIVER_MEM``) and the
JIT policy (``default_java_options``, override
``SAGE_SPARK_DRIVER_JAVA_OPTS``). A ``run_kg`` batch is a short job in a
fresh JVM, and with the JVM's stock tiering most of its CPU goes to C2
compiles that the job ends before earning back. Under spark-submit the
driver JVM already exists, so neither is set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _under_spark_submit(environ: os._Environ[str] | dict[str, str]) -> bool:
    """True when this Python process was launched BY spark-submit (the JVM
    starts first and spawns Python with the gateway coordinates). In that
    case the cluster manager / master / sizing come from the submit command
    line, and app code must NOT override them — ``.master()`` in code wins
    over ``--master``, which would silently force a YARN/k8s submission back
    to local mode."""
    return "PYSPARK_GATEWAY_PORT" in environ or "PYSPARK_GATEWAY_SECRET" in environ


def resolve_session_shape(
    master: str | None,
    shuffle_partitions: int | None,
    environ: os._Environ[str] | dict[str, str],
) -> tuple[str | None, int | None, bool]:
    """Decide (master, shuffle_partitions, submitted) for build_spark.

    Explicit arguments always win. Otherwise: standalone Python gets
    local[SPARK_GRAFT_CPUS or cpu_count] with one shuffle partition per
    core, while a process launched by spark-submit leaves both unset so the
    submit command line / cluster defaults govern — the shuffle-partition
    fallback in particular must never pin a 1000-executor job to the DRIVER
    host's core count."""
    submitted = _under_spark_submit(environ)
    cpus = environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None and not submitted:
        master = f"local[{cpus}]"
    if shuffle_partitions is None and not submitted:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    return master, shuffle_partitions, submitted


def default_driver_memory(
    environ: os._Environ[str] | dict[str, str], phys_bytes: int | None = None
) -> str:
    """Driver heap for a standalone session: ``SAGE_SPARK_DRIVER_MEM`` when
    set, else half the host's physical memory in whole GiB, clamped to
    1g..16g. In local mode the executors run inside this heap; the other
    half stays free for the Python workers and the JVM's off-heap use."""
    if "SAGE_SPARK_DRIVER_MEM" in environ:
        return environ["SAGE_SPARK_DRIVER_MEM"]
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(phys_bytes // 2**31, 1), 16)}g"


# C1 only: a run_kg-sized job ends before C2's compiles pay back (on 4
# cores, C2 was most of a fresh-JVM batch's CPU). Long in-session runs do
# earn them back and want stock tiering: BENCH_jit_host4.json has both.
# C1 frames are larger than C2's, and a task thread deserializing a deep
# task binary (a 60-iteration PageRank's) overflowed the default 1 MB
# stack; Spark treats StackOverflowError as fatal and exits the whole JVM.
# 4 MB threads are reserved, not committed, until a task needs them.
JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -Xss4m"


def default_java_options(environ: os._Environ[str] | dict[str, str]) -> str:
    """Driver JVM flags for a standalone session: ``SAGE_SPARK_DRIVER_JAVA_OPTS``
    when set (the empty string gives back the JVM's stock tiered JIT), else
    ``JAVA_OPTIONS``; nothing under spark-submit, whose driver JVM is
    already running."""
    if _under_spark_submit(environ):
        return ""
    return environ.get("SAGE_SPARK_DRIVER_JAVA_OPTS", JAVA_OPTIONS)


def build_spark(
    app_name: str = "sage-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session: ``getOrCreate`` with the defaults above.

    A standalone call also sizes the driver heap (``default_driver_memory``)
    and puts the JIT policy (``default_java_options``) in
    ``spark.driver.defaultJavaOptions``, so ``extra_conf``'s
    ``spark.driver.extraJavaOptions`` add to it. Both take effect only when
    this call starts the JVM. Under spark-submit neither is set. On a
    running session the builder options are re-applied to its runtime conf
    (``spark.sql.shuffle.partitions`` included)."""
    master, shuffle_partitions, submitted = resolve_session_shape(
        master, shuffle_partitions, os.environ
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # unix-domain sockets for the Python runners: measurably removes
        # TCP-loopback handshake stalls at >16 concurrent workers here
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # JSON-blob-heavy tables (grounding/payload) compress ~10x under
        # zstd; staging I/O is disk-bound otherwise
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.shuffle.compress", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if not submitted:
        # under spark-submit the driver JVM already exists; driver memory can
        # only come from the submit command line, so setting it here is noise
        builder = builder.config("spark.driver.memory", default_driver_memory(os.environ))
    java_options = default_java_options(os.environ)
    if java_options:
        builder = builder.config("spark.driver.defaultJavaOptions", java_options)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

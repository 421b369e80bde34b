"""SparkSession factory with the engine's pinned configuration.

Local mode is the sandbox proxy for a multi-executor cluster: partitioning,
broadcast and skew decisions are made as if each of the N threads were an
executor. The same builder config ships unchanged in the ``spark-submit
--py-files`` job (`jobs/run_pipeline.py`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(ram_bytes: int | None) -> str:
    """Driver heap for a host with ``ram_bytes`` of physical memory: half
    of it in whole GiB, clamped to 1g..48g (48g when the size is unknown).
    A heap larger than the host lets the JVM grow past physical memory
    before it collects, and the OS kills it."""
    if not ram_bytes:
        return "48g"
    return f"{max(1, min(48, ram_bytes // 2 // (1 << 30)))}g"


def _physical_ram_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf (Windows)
        return None


def get_spark(
    app_name: str = "web_template_forensics_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    cores=None -> ``local[*]``. Shuffle partitions default to the core count:
    on a real cluster this is overridden to ~2-3x total executor cores; AQE
    coalesces downward at runtime either way.

    ``master`` overrides the master URL entirely (e.g.
    ``local-cluster[N,1,mem]`` for the multi-JVM scaling protocol, where
    each executor is a separate JVM — the sandbox proxy for N executors);
    ``cores`` then only sizes the shuffle-partition default.
    """
    cores_s = "*" if cores is None else str(cores)
    effective_cores = cores if cores is not None else (os.cpu_count() or 8)
    n_shuffle = shuffle_partitions or effective_cores
    # spark-submit compatibility: builder options override spark-submit's
    # --master, so forcing local[] here would silently run a cluster job
    # single-node on the driver. Only pin a master when the caller asked
    # for one (master/cores) or none is configured at all.
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif cores is not None:
        builder = builder.master(f"local[{cores_s}]")
    else:
        from pyspark import SparkConf

        if SparkConf().get("spark.master", None) is None:
            builder = builder.master(f"local[{cores_s}]")
    builder = (
        builder
        # AQE: runtime coalescing + skew-join splitting (north rule names it).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow is the only Python<->JVM crossing we allow (vectorized UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches pipeline MUCH better through python workers on
        # wide pages (34MB batches measured 4x slower than 1.7MB on the
        # 3.4KB-page corpus: the pipe can't overlap JVM feed with parse)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
        # smaller input splits -> enough scan parallelism without an explicit
        # repartition shuffle on medium local corpora
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(_physical_ram_bytes()),
        )
        .config("spark.ui.enabled", "false")
        # stdout hygiene: stage-progress bars interleave with any
        # one-line-JSON contract a caller prints (bench.py's r4 artifact
        # loss, VERDICT r4 #1)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_deploy_loggers(spark)
    return spark


def _silence_deploy_loggers(spark: SparkSession) -> None:
    """In ``local-cluster`` mode the standalone Master/Worker run inside
    the DRIVER JVM and log at WARN; at teardown of a long run the Master
    emits thousands of ``Got status update for unknown executor`` lines,
    which drowned bench.py's one-JSON-line output in round 4
    (BENCH_r04.json ``parsed: null``). Drop the whole deploy subsystem to
    ERROR — its WARNs are executor-churn bookkeeping, never actionable
    here. Best-effort: a driver without log4j2 (or a future Spark that
    renames it) just keeps the default levels."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        for logger in (
            "org.apache.spark.deploy",  # Master, Worker, client
            "org.apache.spark.scheduler.cluster",  # executor add/remove churn
        ):
            configurator.setLevel(logger, level)
    except Exception:
        pass


def cluster_conf(
    cores: int, executor_mem_mb: int = 3072
) -> tuple[str, dict[str, str]]:
    """THE multi-JVM executor-substrate recipe (shared by bench.py and
    BENCH/scaling.py so the two protocols can never silently diverge):
    ``cores`` separate one-core executor JVMs over real BlockManager/RPC,
    each with its own Python worker and a fixed memory budget — the
    sandbox proxy for N executors. Returns (master, extra_conf) for
    get_spark."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return (
        f"local-cluster[{cores},1,{executor_mem_mb}]",
        {
            "spark.executorEnv.PYTHONPATH": repo_root,
            "spark.driver.memory": "8g",
        },
    )

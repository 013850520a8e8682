"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to BigQuery; here Catalyst + Tungsten
are the engine, so the only "physical design" we carry over is configuration
(SURVEY.md section 4): dynamic partition overwrite (the reference's
delete-today-+-reinsert upsert, ``sp_raw_to_transformed_update_weather_data_
query.sql:2-5``), month/day partition pruning, and AQE for runtime shuffle
sizing at the 100 TB design point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for a large cluster; harmless on local[N].
#: - AQE re-plans shuffles at runtime (skew-join splitting, partition
#:   coalescing) — essential at 100 TB where static planning guesses wrong.
#: - dynamic partitionOverwriteMode implements the reference's idempotent
#:   per-day refresh without a DELETE-capable table format.
#: - Arrow makes any toPandas/pandas_udf boundary columnar, not row-by-row.
SCALE_CONFS: dict[str, str] = {
    # Pin the session timezone so TIMESTAMP_NTZ -> TIMESTAMP casts (see
    # plans/registry.py load_table) are pure type relabels and every
    # date/epoch rendering matches the (naive-timestamp) DuckDB oracles
    # regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # 64 MiB broadcast ceiling: every dimension table in the star schema
    # (region/nation/customer/supplier/part at any SF that matters) stays a
    # broadcast-hash join; only fact-fact joins shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime row-level filtering for the joins that DO shuffle: a selective
    # non-broadcast build side injects a bloom filter into the probe-side
    # scan (`might_contain` pre-filter), cutting shuffled fact bytes before
    # the exchange. Default-on in Spark 3.3+; pinned here because it is a
    # load-bearing part of the 100 TB fact-fact join story. The size
    # thresholds (creation side <= 10 MB compressed, probe scan >= 10 GB)
    # are cluster-scale numbers and deliberately left at their defaults —
    # tests that pin the injected plan shape lower them explicitly.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Let AQE re-plan (coalesce tiny shuffle partitions) when materializing
    # CACHED plans too — off by default, which forces every persisted
    # relation to keep full shuffle-partition fan-out; the iterative
    # operators (PageRank/PCA rounds, CC) persist small per-round state and
    # would otherwise schedule shuffle.partitions tasks per round.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def default_cpus() -> int:
    """Task slots of a local master: ``$SPARK_GRAFT_CPUS``, else the host's
    CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_mem() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else half the host's
    physical memory. In local mode the driver is the only JVM; the other
    half is left to the Python workers and the OS."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "1g"  # Spark's own default
    return f"{max(total // 2 >> 20, 1024)}m"


def get_spark(
    app_name: str = "weather-data-ingestion-gcp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[default_cpus()]`` for local runs; on a
    real cluster pass ``None`` with a pre-set master.
    """
    cpus = default_cpus()
    builder = SparkSession.builder.appName(app_name)
    # local-mode driver == the only JVM: default 1g heap OOMs on the heavier
    # dedup joins; size it to the box (static conf — only effective for a
    # session we create ourselves).
    builder = builder.config("spark.driver.memory", default_driver_mem())
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in SCALE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions if shuffle_partitions is not None else cpus),
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Best-effort apply of runtime-settable engine confs to an existing
    session (e.g. the driver-provided one in __spark_entry__). Static confs
    (already-started contexts) are skipped silently."""
    for k, v in SCALE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    # Right-size shuffle parallelism for a LOCAL session the engine didn't
    # build (a plain getOrCreate ships Spark's 200 default — 6x the cores
    # on this box, pure task-scheduling overhead on test-SF data). Only
    # touches local masters; on a cluster the deployer's setting stands.
    try:
        if spark.sparkContext.master.startswith("local"):
            spark.conf.set("spark.sql.shuffle.partitions", str(default_cpus()))
    except Exception:
        pass
    return spark

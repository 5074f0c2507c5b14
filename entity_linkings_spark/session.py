"""SparkSession factory tuned for the linkage workload.

Design intent (100 TB cluster posture, tested on local[N]):
  * AQE on, with skew-join splitting and partition coalescing — blocking joins
    over power-law block keys are the skew hot spot (SURVEY.md section 4).
  * Arrow enabled both ways; the only Python boundary in the scored path is a
    batched pandas UDF, so Arrow batch size is the unit of vectorization.
  * Explicit shuffle partition default sized for the test box; a real cluster
    overrides via SPARK_GRAFT_SHUFFLE_PARTITIONS / spark-submit --conf.
  * Iceberg catalog configs are applied only when the runtime jar is present
    (this sandbox has none); the lifecycle layer (plans/lifecycle.py) then
    falls back to an atomic parquet snapshot store with the same resume
    semantics.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession


def _iceberg_jar_available() -> bool:
    try:
        import pyspark

        jar_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return bool(glob.glob(os.path.join(jar_dir, "*iceberg-spark-runtime*")))
    except Exception:
        return False


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "entity-linkings-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's standard configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; under
    spark-submit on a real cluster the submitted master wins (we never
    override an existing session's master).
    """
    cores = default_parallelism()
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cores, 8)))
    )

    # Under spark-submit, spark.master arrives via the submit conf — never
    # override it; default the sandbox master only when nothing set one.
    from pyspark import SparkConf

    submitted_master = SparkConf().get("spark.master", None)
    if master is None and submitted_master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        # --- adaptive execution: runtime re-plan for skewed blocking joins ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # --- Arrow: the JVM<->Python boundary for the pair scorer UDF ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # --- shuffle sizing (overridden per-cluster) ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # deterministic timestamps across engines/timezones
        .config("spark.sql.session.timeZone", "UTC")
        # broadcast threshold: the entity dictionary / alias tables are small
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )

    if warehouse:
        builder = builder.config("spark.sql.warehouse.dir", warehouse)

    if _iceberg_jar_available():
        # Production posture: a hadoop-catalog Iceberg warehouse; every stage
        # output is an Iceberg snapshot so any stage resumes from its last
        # committed snapshot (north rule). Inert in this sandbox (no jar).
        wh = warehouse or os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/el_spark_warehouse")
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.linkage", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.linkage.type", "hadoop")
            .config("spark.sql.catalog.linkage.warehouse", wh)
        )

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    return builder.getOrCreate()

"""SparkSession factory with the engine's standard configuration.

Tuned for Arrow-vectorized UDF exchange, AQE (skew-join split + partition
coalescing), and an explicit shuffle-partition count. On a real cluster the
same confs apply; only master/memory change via spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    master: str | None = None,
    app_name: str = "maplibre_tile_spec_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    `master=None` defers to spark-submit / an existing session; tests pass
    `local[N]` explicitly. AQE is on so hot tiles / skewed join keys get
    runtime splits; Arrow is on so every pandas UDF exchanges columnar
    batches instead of pickled rows.
    """
    cpus = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (
        b.config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scoped_materialize(result: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Materialize ``result`` once (its single action is served by the
    persisted ``intermediates``), then release the intermediates before
    returning. The returned DataFrame stays persisted — bounded by OUTPUT
    size, with lineage intact, so evicted/lost blocks recompute from source
    — and nothing input-sized is pinned across the caller's session.
    Callers may ``unpersist()`` the result when done.

    The intermediates are released on the error path too, and so is the
    result when its action raises: a failing query leaves nothing pinned.
    """
    out = result.persist()
    try:
        out.count()
    except BaseException:
        out.unpersist()
        raise
    finally:
        for df in intermediates:
            df.unpersist()
    return out

"""SparkSession factory with scale-oriented defaults.

The reference hand-tuned its execution (region-aligned splits, block-cache
hygiene, combiners, raw-byte comparators — SURVEY.md §4). On Spark those
concerns collapse into a handful of session configs: AQE for runtime
re-planning and skew handling, sane shuffle partitioning, Arrow for the
Pandas-UDF escape hatch, and broadcast-join thresholds for the KV-store
lookup-join pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from kiji_mapreduce_spark.io.inputs import read_parquet

# Defaults chosen for a large cluster; local test runs override
# master/partitions via env. Every value here is also safe on local[N].
_SCALE_DEFAULTS = {
    # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
    # plan re-optimization from runtime stats. Essential at 100 TB where
    # static shuffle.partitions can never be right for every stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast threshold: the KV-store subsystem of the reference is a
    # map-side lookup join; dims up to 64 MB broadcast automatically.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for the Pandas-UDF escape hatch (BulkImporter/Producer python
    # callbacks); batched columnar transfer instead of row pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Scan sizing: 128 MB input partitions (the reference used one split
    # per HBase region; Spark derives splits from file size).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
    # Parquet pushdown & vectorized reads — the Spark analogue of the
    # reference's projection/predicate pushdown into HBase scans.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Compact shuffle I/O.
    "spark.shuffle.compress": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # Deterministic timestamp semantics across engines.
    "spark.sql.session.timeZone": "UTC",
    # Read parquet TIMESTAMP(NANOS) (which Spark has no native type for)
    # as long nanoseconds; callers convert explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def make_session(
    app_name: str = "kiji_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured; on a real cluster pass ``None`` with
    ``spark.master`` already set by spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(_SCALE_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet tables as DataFrames and register temp views.

    Returns {name: DataFrame}. Registering views gives the SQL surface the
    reference lacked (SURVEY.md §2.6) for free.
    """
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_parquet(spark, path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out

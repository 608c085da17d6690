"""SparkSession factory with scale-oriented defaults.

All knobs are set for the local[32] sandbox but chosen to be the ones that
matter on a 1000-executor cluster: AQE (runtime re-planning + skew-join
splitting), partial aggregation, broadcast threshold, and Arrow batching
for the pandas-UDAF stats stage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "tag-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # scale shuffle partitions with cores locally; on a real cluster this is
    # ~2-3x total executor cores (AQE coalesces the excess).
    if shuffle_partitions is None:
        cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        cores_n = 32 if cores == "*" else int(cores)
        shuffle_partitions = max(8, cores_n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep AQE's tiny-partition merging but stop it from coalescing a
        # medium shuffle below the core count (measured: the 64 MB default
        # advisory squeezed the window stage to ~16 partitions, idling half
        # of local[32] and destroying scaling efficiency)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str | StructType) -> DataFrame:
    """A small driver-built relation planned as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans a pickled Python RDD (``Scan
    ExistingRDD``): every job over it schedules Python-worker tasks just to
    deserialise a handful of rows. Going through one Arrow table instead
    keeps the rows in the JVM (``LocalTableScan``), where a broadcast or
    join over them costs no Python worker. ``schema`` is a DDL string or a
    StructType; nullability is kept."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays([pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema)
    return spark.createDataFrame(table, struct)

"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime coalesce + skew-join), Arrow on (every custom kernel
is a vectorized pandas UDF), shuffle partitions sized to cores rather
than the 200 default, UTC timezone pinned for oracle comparison.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "docinsight_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or '*'. On a real cluster
    the master/memory settings come from spark-submit; everything
    else here is cluster-safe.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores) * 2, 8)
        except (TypeError, ValueError):
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # task-side output commit (v2): the v1 committer renames every
        # output file serially on the driver — with partitioned writes of
        # many small files that serial tail dominates and caps scaling
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # shuffle-spill scratch: honor $SPARK_LOCAL_SCRATCH (the benchmark
    # points it at tmpfs so a contended shared disk doesn't poison
    # measurements; a real cluster would use executor-local NVMe here)
    scratch = os.environ.get("SPARK_LOCAL_SCRATCH")
    if scratch:
        builder = builder.config("spark.local.dir", scratch)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A driver-built frame (``rows`` of tuples matching the DDL
    ``schema``) as an Arrow ``LocalRelation``: the rows ride in the plan
    (``LocalTableScan``) and no Python worker ever runs for them.

    ``spark.createDataFrame(<list>)`` plans a Python RDD instead
    (``Scan ExistingRDD``): every job touching it starts Python-worker
    tasks, ~0.3 s wall / ~0.3 CPU-s each on a 4-core host — more than
    the rest of a warm serving call.  Empty frames too: pyspark routes
    an EMPTY pandas frame back to the Python-RDD path, so the Arrow
    table is built directly."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    st = DataType.fromDDL(schema)
    arrow = to_arrow_schema(st)
    cols = list(zip(*rows)) or [()] * len(st.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, st)

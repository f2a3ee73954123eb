"""SparkSession factory with the engine's required configuration."""

from __future__ import annotations

import os


def get_spark(app_name: str = "incubator_iceberg_spark", master: str | None = None,
              shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        # UTC everywhere: partition transforms and Python-side literal
        # projection must agree on date/hour ordinals
        .config("spark.sql.session.timeZone", "UTC")
        # micros (not INT96) so Parquet footers carry usable timestamp stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let the Python Data Source surface receive Catalyst filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd level 1 for the write path (parquet-mr default is 3):
        # measured -15-19% write wall for +16% file size on TPC-H shapes.
        # Ingest/CDC writes are latency-bound and short-lived (compaction
        # rewrites them anyway); cold data headed for long retention can
        # re-encode at a higher level via SPARK_GRAFT_ZSTD_LEVEL or the
        # write.parquet.compression-level table property
        .config("spark.hadoop.parquet.compression.codec.zstd.level",
                os.environ.get("SPARK_GRAFT_ZSTD_LEVEL", "1"))
        # read TIMESTAMP(NANOS) parquet (events table) as long; io.load_table
        # converts to TimestampType at micros precision
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # every engine scan passes an explicit file list; above this many
        # paths Spark launches a DISTRIBUTED listing job just to stat
        # them (default 32).  An 83-file scan paid ~0.3 s of job launch
        # per reader — driver-side listing handles hundreds of paths in
        # milliseconds on any reasonable metadata store.  Scans larger
        # than this still distribute, which is what the threshold is for.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "1024"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def local_df(spark, rows, schema):
    """Driver-held rows (tuples in ``schema`` order) → a DataFrame over
    a LocalRelation (``LocalTableScan`` in the plan).  ``schema`` is a
    StructType or a DDL string.

    ``spark.createDataFrame(<list>)`` in classic PySpark goes through
    ``parallelize`` + a Python ``map``, so every plan that uses the
    result runs a Python-worker job with ``defaultParallelism`` tasks.
    An Arrow table in the schema's own Arrow types is handed to the JVM
    as one stream instead: O(1) py4j calls, no Python worker, no RDD.
    Values convert as ``createDataFrame`` converts them (timestamps
    through ``toInternal``, so naive datetimes mean the same instant)."""
    import pyarrow as pa
    import pyspark.sql.types as PT
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = PT._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    arrays = []
    for i, (f, af) in enumerate(zip(schema.fields, arrow_schema)):
        vals = [r[i] for r in rows]
        if isinstance(f.dataType, (PT.TimestampType, PT.TimestampNTZType)):
            vals = [None if v is None else f.dataType.toInternal(v)
                    for v in vals]
            arrays.append(pa.array(vals, pa.int64()).cast(af.type))
        else:
            arrays.append(pa.array(vals, af.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema)

"""SparkSession factory with scale-oriented defaults.

Local-mode settings mirror what the job would run with under
``spark-submit --py-files engine.zip`` on a multi-executor cluster; the
parallelism level is injectable (``SPARK_GRAFT_CPUS``) so the same job can be
benchmarked at two cluster sizes (N vs 4N — BASELINE.json north_rule scaling
evidence runs local[8] vs local[32]).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "modernsearchengines-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # AQE: runtime coalescing + skew-join splitting (head-term skew, R5).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow batches for all pandas UDF crossings.  Records-per-batch
        # alone is unsafe for web text: 4096 rows × near-800k-char docs is
        # a ~3 GB Arrow batch held in Python per core — the BYTE cap slices
        # batches by size first (Spark 4.x), so worst-case UDF residency is
        # ~64 MB·cores regardless of document length distribution
        # (tests/test_arrow_batches.py proves long docs arrive in small
        # batches).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "64m")
        # Keep scan partitions executor-memory-friendly at scale.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No \r progress spam on stderr: the driver harness records only
        # a short tail of combined output, and progress bars printed
        # after the bench's JSON line would push it out of the tail.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small driver-built frame: ``rows`` are tuples in the column order of
    the DDL schema ``ddl``.

    The rows go to Spark as a ``pyarrow.Table``; below
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark plans it as a
    JVM ``LocalRelation`` (``LocalTableScan``), so running it starts no job
    and no Python worker.  ``spark.createDataFrame(<list>)`` instead
    parallelizes a pickled PythonRDD, and every scan of it starts Python
    worker tasks (≈0.25 s of worker CPU each on Python 3.11 with
    ``pyspark.zip``, whatever the row count).  Zero rows keep the schema.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)

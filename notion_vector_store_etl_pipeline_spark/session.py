"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` but every setting is chosen to also be
the right default on a large cluster:

- AQE on: runtime join-strategy switching, skew-join splitting, and
  partition coalescing replace hand-tuned shuffle counts at scale.
- Arrow on: all pandas UDF / mapInPandas stages move batches via Arrow.
- ``shuffle.partitions`` defaults to the local core count; on a real
  cluster this would be ~2-3× total executor cores and AQE coalesces
  the small side down anyway.
- Python workers get the package's root on their path, so UDFs that
  live in the package import from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: the directory the package is imported from
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "notion-vector-store-etl-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()


def empty_frame(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """A typed empty frame built in the JVM.

    ``spark.createDataFrame`` over an empty Python list parallelizes it:
    a ``Scan ExistingRDD`` of unknown size that costs a job with Python
    workers and that the optimizer cannot reason about. A
    typed-null projection of ``range(1)`` under a false filter is an
    empty ``LocalRelation`` to Catalyst instead, so joins and unions
    against it fold away (``PropagateEmptyRelation``).
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return (
        spark.range(1)
        .where(F.lit(False))
        .select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields])
    )

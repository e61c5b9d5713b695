"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` but every setting is chosen to also be
the right default on a large cluster:

- AQE on: runtime join-strategy switching, skew-join splitting, and
  partition coalescing replace hand-tuned shuffle counts at scale.
- Arrow on: all pandas UDF / mapInPandas stages move batches via Arrow.
- ``shuffle.partitions`` defaults to the local core count; on a real
  cluster this would be ~2-3× total executor cores and AQE coalesces
  the small side down anyway.

Python workers (:func:`python_workers`, which the tests' session uses
too):

- They get the package's root on their path, so UDFs that live in the
  package import from any working directory.
- They import the interpreter's installed PySpark, not Spark's
  ``python/lib/pyspark.zip``. The zip holds no bytecode, so every
  worker started from it compiles PySpark from source first: on a
  4-vCPU host, about 1 s of wall and 1.5 s of CPU per process, against
  0.3-0.4 s and 0.8 s from the installed package. A stream (re)start pays it four
  times over (the data-source lookup, create and plan-read processes
  and the streaming source runner), and each UDF daemon once. Spark
  always puts the zip first on a worker's ``PYTHONPATH``, ahead of
  ``spark.executorEnv.PYTHONPATH`` and the JVM's own, so no config
  can reorder it. The worker interpreter is the lever:
  ``PYSPARK_PYTHON`` is set to the package's ``python_worker.sh``,
  which drops the zip from the path and execs the interpreter it
  wraps (the user's ``PYSPARK_PYTHON``, or Spark's ``python3``).
  This happens only before the JVM starts (its environment is fixed
  from then on), and only when that interpreter's installed PySpark
  is the JVM's Spark version; otherwise workers start as Spark starts
  them. A set ``PYSPARK_DRIVER_PYTHON`` takes precedence over
  ``PYSPARK_PYTHON`` for the JVM's data-source processes, so these
  then start as Spark starts them too.
"""

from __future__ import annotations

import glob
import os
import re
import subprocess
from collections.abc import Mapping

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: the directory the package is imported from
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: starts a Python worker from the installed PySpark (module docstring)
WORKER_LAUNCHER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "python_worker.sh")
#: the interpreter the launcher execs; set here, read by the launcher
_WRAPPED_PYTHON = "NVE_WORKER_PYTHON"


def spark_version(spark_home: str) -> str | None:
    """The Spark version of the jars under ``spark_home``: the JVM's."""
    for jar in glob.glob(os.path.join(spark_home, "jars", "spark-core_*.jar")):
        m = re.fullmatch(r"spark-core_[^-]+-(.+)\.jar", os.path.basename(jar))
        if m:
            return m.group(1)
    return None


def _installed_pyspark_version(python: str, env: Mapping[str, str]) -> str | None:
    """The version of the PySpark that ``python`` has installed, or
    None when it has none (or does not run)."""
    try:
        out = subprocess.run(
            [python, "-c", "import importlib.metadata as m; print(m.version('pyspark'))"],
            env=dict(env),
            capture_output=True,
            text=True,
            timeout=60,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def worker_launcher_env(env: Mapping[str, str], jvm_version: str | None) -> dict[str, str]:
    """The environment entries that start Spark's Python workers through
    :data:`WORKER_LAUNCHER`: ``PYSPARK_PYTHON`` names the launcher and
    the launcher execs the interpreter it wraps. Empty, so workers start
    as Spark starts them, when a launcher is already installed (by this
    process or the one that started it: wrapping it again would make
    it exec itself), when it is not executable, or when the wrapped
    interpreter's installed PySpark is not ``jvm_version``."""
    python = env.get("PYSPARK_PYTHON") or "python3"  # Spark's default
    if os.path.basename(python) == os.path.basename(WORKER_LAUNCHER):
        return {}
    if not os.access(WORKER_LAUNCHER, os.X_OK):
        return {}
    if jvm_version is None or _installed_pyspark_version(python, env) != jvm_version:
        return {}
    return {"PYSPARK_PYTHON": WORKER_LAUNCHER, _WRAPPED_PYTHON: python}


def python_workers(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Set up the Python workers of the session ``builder`` is about to
    start (module docstring): the package root on their path and, when
    the JVM is not up yet, the launcher in the environment it will
    inherit. The JVM and ``SparkContext`` both read ``PYSPARK_PYTHON``
    from the environment, so it is set in ``os.environ``. The launcher
    is a driver-side path, valid for every worker only under a local
    master, which both callers (:func:`get_spark` and the tests'
    session) build."""
    if SparkContext._gateway is None:
        os.environ.update(worker_launcher_env(os.environ, spark_version(_find_spark_home())))
    return builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)


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
    )
    return python_workers(builder).getOrCreate()


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

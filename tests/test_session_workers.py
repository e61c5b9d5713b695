"""Python workers start from the installed PySpark (``session.python_workers``).

The guard is tested without a JVM, against fake worker interpreters:
a matching PySpark version installs the launcher, anything else leaves
the environment, and so Spark's own worker start, as it was. One
subprocess test starts a fresh JVM and asks a UDF worker, a data-source
planner process and the streaming source runner where they imported
PySpark from.
"""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys

import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from notion_vector_store_etl_pipeline_spark import session
from notion_vector_store_etl_pipeline_spark.session import (
    WORKER_LAUNCHER,
    python_workers,
    spark_version,
    worker_launcher_env,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the entry Spark puts first on every worker's PYTHONPATH
SPARK_ZIP = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")


def _fake_python(tmp_path, name: str, body: str) -> str:
    """An executable that stands in for a worker interpreter."""
    path = tmp_path / name
    path.write_text(f"#!/bin/sh\n{body}\n")
    path.chmod(path.stat().st_mode | stat.S_IXUSR)
    return str(path)


def test_launcher_is_tracked_executable():
    rel = os.path.relpath(WORKER_LAUNCHER, ROOT)
    out = subprocess.run(
        ["git", "ls-files", "-s", rel], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    assert out.split()[0] == "100755", out
    assert os.access(WORKER_LAUNCHER, os.X_OK)


def test_matching_version_wraps_the_worker_python(tmp_path):
    py = _fake_python(tmp_path, "py", "echo 9.8.7")
    env = {"PYSPARK_PYTHON": py}
    assert worker_launcher_env(env, "9.8.7") == {
        "PYSPARK_PYTHON": WORKER_LAUNCHER,
        "NVE_WORKER_PYTHON": py,
    }
    # the real interpreter and PySpark: the check runs it, not a stand-in
    assert worker_launcher_env({"PYSPARK_PYTHON": sys.executable}, pyspark.__version__) == {
        "PYSPARK_PYTHON": WORKER_LAUNCHER,
        "NVE_WORKER_PYTHON": sys.executable,
    }


def test_unset_worker_python_wraps_sparks_default(tmp_path):
    _fake_python(tmp_path, "python3", "echo 9.8.7")
    env = {"PATH": f"{tmp_path}{os.pathsep}{os.environ['PATH']}"}
    assert worker_launcher_env(env, "9.8.7")["NVE_WORKER_PYTHON"] == "python3"


@pytest.mark.parametrize(
    "body, jvm",
    [
        ("echo 9.8.6", "9.8.7"),  # another PySpark version
        ("exit 1", "9.8.7"),  # no PySpark installed
        ("echo 9.8.7", None),  # no Spark version found for the JVM
    ],
)
def test_guard_fails_to_stock_workers(tmp_path, body, jvm):
    py = _fake_python(tmp_path, "py", body)
    assert worker_launcher_env({"PYSPARK_PYTHON": py}, jvm) == {}
    assert worker_launcher_env({"PYSPARK_PYTHON": str(tmp_path / "missing")}, "9.8.7") == {}


def test_installed_launcher_is_not_wrapped_again(tmp_path):
    """Also not another checkout's launcher, inherited from the process
    that started this one: wrapped, it would exec itself."""
    other = _fake_python(tmp_path, os.path.basename(WORKER_LAUNCHER), "echo 9.8.7")
    for launcher in (WORKER_LAUNCHER, other):
        env = {"PYSPARK_PYTHON": launcher, "NVE_WORKER_PYTHON": sys.executable}
        assert worker_launcher_env(env, "9.8.7") == {}


def test_launcher_without_exec_bit_is_not_installed(monkeypatch, tmp_path):
    plain = tmp_path / "python_worker.sh"
    plain.write_text(open(WORKER_LAUNCHER).read())
    monkeypatch.setattr(session, "WORKER_LAUNCHER", str(plain))
    py = _fake_python(tmp_path, "py", "echo 9.8.7")
    assert worker_launcher_env({"PYSPARK_PYTHON": py}, "9.8.7") == {}


def test_spark_version_reads_the_jvm_jars(tmp_path):
    assert spark_version(str(tmp_path)) is None
    (tmp_path / "jars").mkdir()
    (tmp_path / "jars" / "spark-core_2.13-9.8.7.jar").touch()
    assert spark_version(str(tmp_path)) == "9.8.7"


def test_python_workers_sets_the_environment_only_on_a_match(monkeypatch, tmp_path):
    """Before the JVM starts: the user's PYSPARK_PYTHON is wrapped on a
    match and left exactly as it was otherwise."""
    py = _fake_python(tmp_path, "py", "echo 9.8.7")
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_PYTHON", py)
    monkeypatch.delenv("NVE_WORKER_PYTHON", raising=False)
    home = tmp_path / "home"
    (home / "jars").mkdir(parents=True)
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))

    (home / "jars" / "spark-core_2.13-9.8.6.jar").touch()
    before = dict(os.environ)
    builder = python_workers(SparkSession.builder)
    assert dict(os.environ) == before
    assert builder._options["spark.executorEnv.PYTHONPATH"] == ROOT

    (home / "jars" / "spark-core_2.13-9.8.6.jar").rename(home / "jars" / "spark-core_2.13-9.8.7.jar")
    python_workers(SparkSession.builder)
    assert os.environ["PYSPARK_PYTHON"] == WORKER_LAUNCHER
    assert os.environ["NVE_WORKER_PYTHON"] == py


def test_python_workers_leaves_a_running_jvm_alone(spark, monkeypatch):
    """The JVM's environment is fixed at its start: with one up, the
    workers' interpreter is not touched."""
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    before = dict(os.environ)
    python_workers(SparkSession.builder)
    assert dict(os.environ) == before


def test_launcher_drops_only_the_spark_zip(tmp_path):
    """Every other PYTHONPATH entry stays, in order (the package root
    among them: UDFs unpickle from it), and the arguments pass
    through."""
    env = dict(os.environ, NVE_WORKER_PYTHON=sys.executable)
    env["PYTHONPATH"] = f"{SPARK_ZIP}:{ROOT}:/a b::/c:"
    out = subprocess.run(
        [WORKER_LAUNCHER, "-c", "import os, sys; print(os.environ['PYTHONPATH']); print(sys.argv[1:])", "x"],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.splitlines()
    assert out == [f"{ROOT}:/a b::/c:", "['x']"]


# Runs in a fresh interpreter: the tests' session already owns this
# process's JVM, and getOrCreate would hand that one back.
_WHERE_SCRIPT = r"""
import json

from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, InputPartition, SimpleDataSourceStreamReader,
)

from notion_vector_store_etl_pipeline_spark import get_spark


def where():
    import pyspark
    return pyspark.__file__


class PlannedReader(DataSourceReader):
    def partitions(self):  # the plan-read process
        return [InputPartition(where())]

    def read(self, partition):
        yield (partition.value,)


class StreamReader(SimpleDataSourceStreamReader):
    def initialOffset(self):
        return {"n": 0}

    def read(self, start):  # the streaming source runner
        if start["n"]:
            return iter([]), start
        return iter([(where(),)]), {"n": 1}

    def readBetweenOffsets(self, start, end):
        return iter([(where(),)])


class Where(DataSource):
    @classmethod
    def name(cls):
        return "where"

    def schema(self):
        return "path string"

    def reader(self, schema):
        return PlannedReader()

    def simpleStreamReader(self, schema):
        return StreamReader()


spark = get_spark(cores=2)
spark.dataSource.register(Where)
udf = spark.range(1).select(F.udf(where)().alias("path")).head().path
planned = spark.read.format("where").load().head().path
q = spark.readStream.format("where").load().writeStream.format("memory").queryName("w").start()
q.processAllAvailable()
q.stop()
stream = spark.table("w").head().path
spark.stop()
print(json.dumps({"udf": udf, "planner": planned, "stream_runner": stream}))
"""


def test_workers_import_the_installed_pyspark(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path))
    # start from the user's settings, so the fresh session runs the guard
    if env.get("PYSPARK_PYTHON") == WORKER_LAUNCHER:
        env["PYSPARK_PYTHON"] = env.pop("NVE_WORKER_PYTHON", "python3")
    proc = subprocess.run(
        [sys.executable, "-c", _WHERE_SCRIPT],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    where = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(where) == {"udf", "planner", "stream_runner"}
    for kind, path in where.items():
        assert "pyspark.zip" not in path, (kind, path)
        assert path == pyspark.__file__, (kind, path)

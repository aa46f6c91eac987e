"""``localfs``: a ``get_session`` session writes local files through
``NioLocalFileSystem``, which sets the same permissions as Hadoop's
stock local filesystem without starting a ``chmod`` process."""

from __future__ import annotations

import os
import stat

import pytest

from bigdatafinalproject_hockey_spark import localfs

pytestmark = pytest.mark.skipif(
    localfs.classes_dir() is None, reason="no javac beside the JVM's java"
)


def _fs(spark, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"file://{path}")
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def test_file_scheme_maps_to_nio_fs(spark, tmp_path):
    _, fs = _fs(spark, str(tmp_path))
    assert fs.getClass().getName() == localfs.CLASS
    assert fs.getRawFileSystem().getClass().getName() == f"{localfs.CLASS}$Raw"


def test_parquet_write_gets_stock_permissions(spark, tmp_path):
    """Hadoop's default umask (022) on its default modes: 0755 for
    directories, 0644 for files, as the stock ``chmod`` calls set."""
    out = str(tmp_path / "out")
    spark.range(50).repartition(3).write.parquet(out)
    modes = {}
    for root, _, files in os.walk(out):
        modes[root] = stat.S_IMODE(os.stat(root).st_mode)
        for f in files:
            modes[os.path.join(root, f)] = stat.S_IMODE(os.stat(os.path.join(root, f)).st_mode)
    assert sum(f.endswith(".parquet") for f in modes) == 3
    assert {p: m for p, m in modes.items() if m != (0o755 if os.path.isdir(p) else 0o644)} == {}
    assert spark.read.parquet(out).count() == 50


@pytest.mark.parametrize("mode", ["750", "600", "1777"])
def test_set_permission(spark, tmp_path, mode):
    """Any rwx mode goes through java.nio; a sticky one falls back to
    the stock call."""
    jpath, fs = _fs(spark, str(tmp_path))
    fs.setPermission(jpath, spark._jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
    assert stat.S_IMODE(os.stat(tmp_path).st_mode) == int(mode, 8)


def test_session_conf_scope(spark):
    """Only a local master gets the filesystem, a caller's own
    ``fs.file.impl`` wins, and a running JVM is never given a class
    path it was not started with."""
    assert localfs.session_conf("yarn", {}) == {}
    assert localfs.session_conf(None, {}) == {}
    assert localfs.session_conf("local[2]", {"spark.hadoop.fs.file.impl": "x"}) == {}
    assert localfs.session_conf("local[2]", {}) == {"spark.hadoop.fs.file.impl": localfs.CLASS}


def test_jvm_started_without_class_keeps_stock_fs(tmp_path):
    """A driver whose JVM was started by a plain session (no
    ``get_session`` classpath) still writes through ``get_session``,
    with the filesystem the JVM maps ``file`` to by default."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "out")
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from bigdatafinalproject_hockey_spark.session import get_session\n"
        "SparkSession.builder.master('local[1]').getOrCreate().stop()\n"
        "spark = get_session(app_name='plain', shuffle_partitions=2)\n"
        f"spark.range(5).write.parquet({out!r})\n"
        f"p = spark._jvm.org.apache.hadoop.fs.Path('file://{out}')\n"
        "print(p.getFileSystem(spark._jsc.hadoopConfiguration()).getClass().getName())\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.split()[-1] != localfs.CLASS
    assert sum(f.endswith(".parquet") for f in os.listdir(out)) >= 1

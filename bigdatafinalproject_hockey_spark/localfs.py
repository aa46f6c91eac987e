"""A local filesystem for Spark whose permission calls start no process.

Spark's jars carry no Hadoop native library, so Hadoop's
``RawLocalFileSystem.setPermission`` runs ``chmod`` in a child of the
driver JVM, and the local filesystem Spark maps ``file`` to (Hadoop's
``LocalFileSystem``, behind Hive's ``ProxyLocalFileSystem`` in Spark's
own distribution) sets the permission of every directory it makes
and every file it creates: the CLI's one parquet write starts about
five such processes, for its ``_temporary`` directories, part files,
checksum files and ``_SUCCESS``. ``NioLocalFileSystem.java`` sets the
same bits through ``java.nio``.

``session_conf`` compiles that class once per source, JDK and Hadoop
jar (a ``sidecar`` entry) and returns the conf that puts it on the
driver's classpath and maps the ``file`` scheme to it. It returns no
conf, so the stock filesystem stays, when the master is not local
(executors elsewhere would lack the class), when there is no
``javac`` beside the ``java`` Spark launches, or when a JVM already
runs without the class.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess

from bigdatafinalproject_hockey_spark import sidecar

CLASS = "sparkgraft.fs.NioLocalFileSystem"
SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "NioLocalFileSystem.java")
# Bump when the build (javac flags) changes.
VERSION = "1"


def _javac() -> str | None:
    """``javac`` of the JDK whose ``java`` spark-submit runs
    (``$JAVA_HOME/bin/java``, else ``java`` on ``PATH``), so the
    class file never targets a newer JVM than the driver's."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    javac = os.path.join(os.path.dirname(os.path.realpath(java)), "javac")
    return javac if os.access(javac, os.X_OK) else None


def _hadoop_jars() -> list[str]:
    from pyspark.find_spark_home import _find_spark_home

    return sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))


def classes_dir() -> str | None:
    """Directory holding the compiled class, or None if it cannot be
    built here."""
    javac, jars = _javac(), _hadoop_jars()
    if javac is None or not jars:
        return None

    def build(out: str) -> None:
        subprocess.run(
            # C1 only: javac's own JVM lives well under a second.
            [javac, "-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC", "-nowarn", "-proc:none",
             "-cp", os.pathsep.join(jars), "-d", out, SOURCE],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )

    try:
        return sidecar.cached("localfs", [SOURCE, *jars], f"{VERSION}:{javac}", build)
    except (OSError, subprocess.CalledProcessError):
        return None


def session_conf(master: str | None, conf: dict[str, str]) -> dict[str, str]:
    """Entries to add to the builder conf ``conf`` for ``master``. A
    ``spark.hadoop.fs.file.impl`` already in ``conf`` is kept."""
    if not (master or "").startswith("local") or "spark.hadoop.fs.file.impl" in conf:
        return {}
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        # The JVM is up and its classpath fixed: use the class only if
        # that classpath has it.
        try:
            SparkContext._jvm.java.lang.Class.forName(CLASS)
        except Py4JJavaError:
            return {}
        return {"spark.hadoop.fs.file.impl": CLASS}
    path = classes_dir()
    if path is None:
        return {}
    extra = conf.get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": os.pathsep.join(p for p in (path, extra) if p),
        "spark.hadoop.fs.file.impl": CLASS,
    }

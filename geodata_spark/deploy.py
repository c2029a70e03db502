"""Ship the package to Python workers and its JVM code to the executors.

On a real cluster the engine runs ``spark-submit --py-files
geodata_spark.zip`` (north_rule).  When embedded in a host process
(the test driver) whose CWD is not the repo root, executors' Python
workers cannot import ``geodata_spark`` — UDF closures reference the
package by module path.  :func:`ensure_py_files` reproduces the
--py-files behavior at runtime: zip the package once and register it
with ``SparkContext.addPyFile`` (idempotent per session).

The package's JVM functions (the hex encode, zone membership) are
Java classes shipped as source in ``jvm/``; :func:`jar_path` compiles
them into one jar (so the driver needs a JDK 17+ ``javac``) and
:func:`java_udf` adds it and registers a function in the session.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.resources
import os
import shutil
import subprocess
import tempfile
import threading
import time
import zipfile
from functools import reduce

from pyspark.sql import SparkSession
from pyspark.sql.types import DataType

_SENT = "_geodata_spark_pyfiles_shipped"
_JAR_SENT = "_geodata_spark_jar_added"
_FUNCTIONS = "_geodata_spark_functions"
_SHIPPED = (".py", ".java")
_LOCK = threading.Lock()
_ZIP_PREFIX = "geodata_spark_pyfiles_"
_JAR_PREFIX = "geodata_spark_jvm_"
# a build of another stamp not modified for this long is no one's
_STALE_S = 3600.0
# the Spark jars the Java sources compile against: the function
# interfaces, Broadcast, and the Logging trait Broadcast extends
_COMPILE_JARS = ("spark-sql-api_*.jar", "spark-core_*.jar", "spark-common-utils_*.jar")


def _drop_stale(prefix: str, keep: str) -> None:
    """Delete the temp dir's ``prefix*`` files other than ``keep`` that
    have not been modified for :data:`_STALE_S`: builds of older stamps
    and temporaries a killed build left."""
    now = time.time()
    for path in glob.glob(os.path.join(glob.escape(tempfile.gettempdir()), prefix + "*")):
        try:
            if path != keep and now - os.path.getmtime(path) > _STALE_S:
                os.remove(path)
        except OSError:  # gone already: another process pruned it
            pass


def package_zip_path() -> str:
    """Build (or reuse) a zip of the geodata_spark package: its Python
    modules and the Java source :func:`java_udf` compiles.  A build
    deletes zips of other stamps unmodified for an hour."""
    import geodata_spark

    pkg_dir = os.path.dirname(os.path.abspath(geodata_spark.__file__))
    stamp = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(pkg_dir)
        for f in fs
        if f.endswith(_SHIPPED)
    )
    zpath = os.path.join(
        tempfile.gettempdir(), f"{_ZIP_PREFIX}{int(stamp)}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for dp, _, fs in os.walk(pkg_dir):
                for f in fs:
                    if f.endswith(_SHIPPED):
                        full = os.path.join(dp, f)
                        rel = os.path.join(
                            "geodata_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp, zpath)
        _drop_stale(_ZIP_PREFIX, zpath)
    return zpath


def ensure_py_files(spark: SparkSession) -> None:
    """Make ``geodata_spark`` importable on executor Python workers."""
    sc = spark.sparkContext
    if getattr(sc, _SENT, False):
        return
    sc.addPyFile(package_zip_path())
    setattr(sc, _SENT, True)


def _java_sources() -> dict[str, bytes]:
    """The package's ``jvm/*.java`` by file name, read through the
    package loader, so this works from the ``--py-files`` zip too."""
    jvm = importlib.resources.files("geodata_spark") / "jvm"
    return {f.name: f.read_bytes() for f in jvm.iterdir() if f.name.endswith(".java")}


def jar_path() -> str:
    """Build (or reuse) the one jar of the package's Java sources.

    The jar is cached in the temp dir under the sha256 of every source
    (names and contents).  A build deletes jars of other hashes
    unmodified for an hour."""
    import pyspark

    srcs = _java_sources()
    digest = hashlib.sha256()
    for name in sorted(srcs):
        digest.update(name.encode() + b"\0" + srcs[name] + b"\0")
    jpath = os.path.join(tempfile.gettempdir(), f"{_JAR_PREFIX}{digest.hexdigest()}.jar")
    if os.path.exists(jpath):
        return jpath
    java_home = os.environ.get("JAVA_HOME")
    javac = (java_home and shutil.which("javac", path=os.path.join(java_home, "bin"))) or shutil.which("javac")
    if not javac:
        raise RuntimeError("the package's JVM functions compile from jvm/*.java and need a JDK 17+: no javac")
    # spark-submit runs pyspark from a zip under SPARK_HOME
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    classpath = []
    for pattern in _COMPILE_JARS:
        found = glob.glob(os.path.join(glob.escape(home), "jars", pattern))
        if not found:
            raise RuntimeError(f"no {pattern} under {home}/jars to compile jvm/*.java")
        classpath += found
    with tempfile.TemporaryDirectory() as work:
        files = []
        for name, src in sorted(srcs.items()):
            files.append(os.path.join(work, name))
            with open(files[-1], "wb") as f:
                f.write(src)
        out = os.path.join(work, "classes")
        proc = subprocess.run(
            [javac, "--release", "17", "-cp", os.pathsep.join(classpath), "-d", out, *files],
            capture_output=True, text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"javac failed on jvm/*.java:\n{proc.stderr}")
        tmp = jpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for dp, _, fs in os.walk(out):
                for f in fs:
                    full = os.path.join(dp, f)
                    zf.write(full, os.path.relpath(full, out))
        os.replace(tmp, jpath)
    _drop_stale(_JAR_PREFIX, jpath)
    return jpath


def java_udf(spark: SparkSession, name: str, cls: str, return_type: DataType, *args) -> str:
    """Register ``new cls(*args)`` (a ``UDF1``..``UDF22`` of the
    package's Java sources) as the function ``name`` returning
    ``return_type`` in ``spark``, and return ``name``.

    The jar is added once per SparkContext and the function registered
    once per session (a ``newSession()`` does not see its parent's
    functions); later calls in the session make no py4j call."""
    with _LOCK:
        done = spark.__dict__.setdefault(_FUNCTIONS, set())
        if name in done:
            return name
        sc = spark.sparkContext
        if not getattr(sc, _JAR_SENT, False):
            spark.sql(f"ADD JAR '{jar_path()}'")
            setattr(sc, _JAR_SENT, True)
        jvm, jss = spark._jvm, spark._jsparkSession
        # py4j loads classes through the calling thread's context loader;
        # ADD JAR sets it only on the thread that ran it
        jvm.java.lang.Thread.currentThread().setContextClassLoader(
            jss.sharedState().jarClassLoader()
        )
        fn = reduce(getattr, cls.split("."), jvm)(*args)
        jss.udf().register(name, fn, jss.parseDataType(return_type.json()))
        done.add(name)
    return name


def drop_java_udf(spark: SparkSession, name: str) -> None:
    """Drop the function ``name`` that :func:`java_udf` registered in
    ``spark``; a later :func:`java_udf` call registers it anew.  Plans
    built before keep the function object they resolved."""
    with _LOCK:
        done = spark.__dict__.get(_FUNCTIONS, set())
        if name in done:
            spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
            done.discard(name)

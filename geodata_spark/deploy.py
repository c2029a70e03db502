"""Ship the package to Python workers and its JVM code to the executors.

On a real cluster the engine runs ``spark-submit --py-files
geodata_spark.zip`` (north_rule).  When embedded in a host process
(the test driver) whose CWD is not the repo root, executors' Python
workers cannot import ``geodata_spark`` — UDF closures reference the
package by module path.  :func:`ensure_py_files` reproduces the
--py-files behavior at runtime: zip the package once and register it
with ``SparkContext.addPyFile`` (idempotent per session).

The hex encode is one Java class shipped as source in the package;
:func:`java_udf` compiles it (so the driver needs a JDK 17+ ``javac``),
adds the jar and registers the function in the session.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pkgutil
import shutil
import subprocess
import tempfile
import threading
import time
import zipfile
from functools import reduce

from pyspark.sql import SparkSession

_SENT = "_geodata_spark_pyfiles_shipped"
_JAR_SENT = "_geodata_spark_jar_added"
_FUNCTIONS = "_geodata_spark_functions"
_SHIPPED = (".py", ".java")
_JAVA_SOURCE = "jvm/Hex7Id.java"
_LOCK = threading.Lock()
_ZIP_PREFIX = "geodata_spark_pyfiles_"
_JAR_PREFIX = "geodata_spark_jvm_"
# a build of another stamp not modified for this long is no one's
_STALE_S = 3600.0


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


def jar_path() -> str:
    """Build (or reuse) the jar of the package's Java source.

    The source is read through the package loader, so this works from
    the ``--py-files`` zip too; the jar is cached in the temp dir under
    the source's sha256.  A build deletes jars of other hashes
    unmodified for an hour."""
    import pyspark

    src = pkgutil.get_data("geodata_spark", _JAVA_SOURCE)
    jpath = os.path.join(
        tempfile.gettempdir(), f"{_JAR_PREFIX}{hashlib.sha256(src).hexdigest()}.jar"
    )
    if os.path.exists(jpath):
        return jpath
    java_home = os.environ.get("JAVA_HOME")
    javac = (java_home and shutil.which("javac", path=os.path.join(java_home, "bin"))) or shutil.which("javac")
    if not javac:
        raise RuntimeError(f"the hex encode compiles {_JAVA_SOURCE} and needs a JDK 17+: no javac")
    # spark-submit runs pyspark from a zip under SPARK_HOME
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    api = glob.glob(os.path.join(home, "jars", "spark-sql-api_*.jar"))
    if not api:
        raise RuntimeError(f"no spark-sql-api jar under {home}/jars to compile {_JAVA_SOURCE}")
    with tempfile.TemporaryDirectory() as work:
        java = os.path.join(work, os.path.basename(_JAVA_SOURCE))
        with open(java, "wb") as f:
            f.write(src)
        out = os.path.join(work, "classes")
        proc = subprocess.run(
            [javac, "--release", "17", "-cp", os.pathsep.join(api), "-d", out, java],
            capture_output=True, text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"javac failed on {_JAVA_SOURCE}:\n{proc.stderr}")
        tmp = jpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for dp, _, fs in os.walk(out):
                for f in fs:
                    full = os.path.join(dp, f)
                    zf.write(full, os.path.relpath(full, out))
        os.replace(tmp, jpath)
    _drop_stale(_JAR_PREFIX, jpath)
    return jpath


def java_udf(spark: SparkSession, name: str, cls: str, return_type: str, *args) -> str:
    """Register ``new cls(*args)`` (a ``UDF1``..``UDF22`` of the
    package's Java source) as the function ``name`` returning the DDL
    type ``return_type`` in ``spark``, and return ``name``.

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
        jss.udf().register(name, fn, jss.parseDataType(f'"{return_type}"'))
        done.add(name)
    return name

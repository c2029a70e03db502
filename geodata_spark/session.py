"""SparkSession factory with scale-oriented defaults.

Single place that owns the session configuration so tests, bench and
the driver entrypoint agree on shuffle sizing, AQE and Arrow settings.
"""

from __future__ import annotations

import os
import re
from typing import Mapping

from pyspark.sql import SparkSession

# JVM memory string: a count with an optional k/m/g/t (or kb/mb/gb/tb)
# suffix; Spark reads a bare count of spark.driver.memory as MiB
_JVM_SIZE = re.compile(r"(\d+)(?:([kmgt])b?)?", re.IGNORECASE)
_SHIFT = {"k": 10, "m": 20, "g": 30, "t": 40}


def _jvm_bytes(size: str) -> int:
    m = _JVM_SIZE.fullmatch(size.strip())
    if m is None:
        raise ValueError(f"not a JVM memory size: {size!r}")
    return int(m.group(1)) << _SHIFT[(m.group(2) or "m").lower()]


def driver_memory_conf(env: Mapping[str, str], phys_bytes: int) -> dict[str, str]:
    """``spark.driver.memory`` and ``spark.driver.extraJavaOptions`` from
    ``SPARK_DRIVER_MEM`` / ``SPARK_DRIVER_JAVA_OPTS`` in ``env``.

    The default heap is half of ``phys_bytes``, at most 24g.  The default
    options pre-size the heap: with many executor threads the default
    tiny -Xms triggers a growth/GC storm on the first allocation-heavy
    stage (observed 15x first-run outliers at local[32]).  That -Xms is
    8g at most and never above the effective heap, which a JVM would
    refuse."""
    heap = env.get("SPARK_DRIVER_MEM", f"{min(24 << 10, phys_bytes // 2 >> 20)}m")
    xms_mb = max(1, min(8 << 10, _jvm_bytes(heap) >> 20))
    return {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": env.get(
            "SPARK_DRIVER_JAVA_OPTS", f"-Xms{xms_mb}m -XX:+UseG1GC -XX:+AlwaysPreTouch"
        ),
    }


def get_spark(
    app_name: str = "geodata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults follow the scale guidance: AQE on (runtime coalescing +
    skew-join splitting), Arrow on (every pandas UDF crosses the
    JVM/Python boundary in columnar batches), shuffle partitions sized
    to the core count rather than the 200 default.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N, local[*] → cpu count; cluster masters keep a
        # multiple of default parallelism.
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 2 * cpus

    memory = driver_memory_conf(
        os.environ, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(map=memory)
        # 128 MiB split targets keep scan tasks balanced at 100 TB scale
        # and are harmless at test scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # InferFiltersFromGenerate puts `size(arr) > 0 AND isnotnull(arr)`
        # UNDER every explode/posexplode.  When the array is a computed
        # expression (the corpus generator's transform(sequence(...))
        # span builder — the engine's canonical input shape), the filter
        # RE-BUILDS the whole array per row: the most expensive
        # expression in the plan is evaluated twice (guide §4.4's
        # duplicated-evaluation class, plan-visible as the transform()
        # tree appearing in both Filter and Project).  Measured 1.9x on
        # the synth+explode path (4.4s → 2.3s at 2M docs, r8).  The
        # rule only ever prunes rows with empty/null arrays — a row
        # class the explode itself drops — so excluding it trades a
        # never-firing row filter for half the expression work.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

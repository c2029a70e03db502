"""session.driver_memory_conf: the driver heap and its -Xms, computed
without starting a JVM."""

import pytest

from geodata_spark.session import driver_memory_conf

GIB = 1 << 30
GC = "-XX:+UseG1GC"


def _conf(env, phys=64 * GIB):
    c = driver_memory_conf(env, phys)
    return c["spark.driver.memory"], c["spark.driver.extraJavaOptions"]


def test_default_heap_is_half_the_host_at_most_24g():
    assert _conf({}, 15 * GIB) == ("7680m", f"-Xms7680m {GC}")
    assert _conf({}, 64 * GIB) == ("24576m", f"-Xms8192m {GC}")


@pytest.mark.parametrize("mem, xms", [
    ("1g", "1024m"), ("1G", "1024m"), ("512m", "512m"), ("2gb", "2048m"),
    ("3145728k", "3072m"), ("1t", "8192m"), ("9g", "8192m"), ("700", "700m"),
])
def test_xms_is_capped_at_the_heap(mem, xms):
    # a JVM refuses an -Xms above its -Xmx (JAVA_GATEWAY_EXITED)
    assert _conf({"SPARK_DRIVER_MEM": mem}) == (mem, f"-Xms{xms} {GC}")


def test_default_does_not_pre_touch_the_heap():
    # a pre-touched -Xms of half the host is resident from the start:
    # two default sessions could not share the host
    for env in ({}, {"SPARK_DRIVER_MEM": "2g"}):
        opts = _conf(env, 15 * GIB)[1].split()
        assert "-XX:+AlwaysPreTouch" not in opts
        assert any(o.startswith("-Xms") for o in opts)


def test_java_opts_override_is_kept_verbatim():
    env = {"SPARK_DRIVER_MEM": "3g", "SPARK_DRIVER_JAVA_OPTS": "-Xms3g -XX:+UseG1GC"}
    assert _conf(env) == ("3g", "-Xms3g -XX:+UseG1GC")


def test_bad_memory_string_raises():
    with pytest.raises(ValueError, match="not a JVM memory size"):
        _conf({"SPARK_DRIVER_MEM": "lots"})
    with pytest.raises(ValueError, match="not a JVM memory size"):
        _conf({"SPARK_DRIVER_MEM": "700b"})

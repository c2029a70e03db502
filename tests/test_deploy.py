"""deploy's temp-dir builds: building a new package zip or jar deletes
stale builds of other stamps and nothing else; the one jar holds every
Java source and is keyed by all of them."""

from __future__ import annotations

import os
import tempfile
import time
import zipfile

from geodata_spark import deploy


def test_builds_drop_stale_stamps(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    old = time.time() - 2 * 3600
    ages = {
        "geodata_spark_pyfiles_1.zip": old,
        "geodata_spark_pyfiles_2.zip.tmp77": old,  # a killed build's temporary
        "geodata_spark_pyfiles_3.zip": None,  # recent: maybe another live session's
        "geodata_spark_jvm_0.jar": old,
        "geodata_spark_jvm_1.jar": None,
        "other_1.zip": old,
    }
    for name, t in ages.items():
        (tmp_path / name).write_bytes(b"x")
        if t is not None:
            os.utime(tmp_path / name, (t, t))
    zpath, jpath = deploy.package_zip_path(), deploy.jar_path()
    assert os.path.dirname(zpath) == os.path.dirname(jpath) == str(tmp_path)
    assert sorted(os.listdir(tmp_path)) == sorted([
        os.path.basename(zpath), os.path.basename(jpath),
        "geodata_spark_pyfiles_3.zip", "geodata_spark_jvm_1.jar", "other_1.zip",
    ])


def test_jar_is_keyed_by_every_source(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    srcs = deploy._java_sources()
    assert sorted(srcs) == ["Hex7Id.java", "ZoneMember.java"]
    first = deploy.jar_path()
    with zipfile.ZipFile(first) as zf:
        classes = set(zf.namelist())
    assert {"geodata_spark/jvm/Hex7Id.class", "geodata_spark/jvm/ZoneMember.class"} <= classes
    # a change to the second source alone builds a new jar
    changed = dict(srcs, **{"ZoneMember.java": srcs["ZoneMember.java"] + b"\n// changed\n"})
    monkeypatch.setattr(deploy, "_java_sources", lambda: changed)
    second = deploy.jar_path()
    assert second != first and os.path.exists(second) and os.path.exists(first)

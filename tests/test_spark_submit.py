"""The north rule's deployment contract, executed for real:
``spark-submit --py-files geodata_spark.zip`` from a neutral CWD, the
package importable ONLY from the zip (no repo checkout on the
"cluster"), its Java functions compiled from the zip's sources."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    bundled = os.path.join(
        os.path.dirname(os.path.abspath(sys.modules["pyspark"].__file__))
        if "pyspark" in sys.modules
        else "",
        "bin",
        "spark-submit",
    )
    return bundled if bundled and os.path.exists(bundled) else None


def test_spark_submit_py_files_end_to_end(tmp_path):
    import pyspark  # noqa: F401  (resolve the bundled bin path)

    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not on PATH in this environment")
    sys.path.insert(0, REPO)
    from geodata_spark.deploy import package_zip_path

    zpath = package_zip_path()
    # copy the job script to a neutral directory: spark-submit puts the
    # SCRIPT's directory on sys.path, so running from tools/ (inside
    # the repo) would not prove the zip works — the copy's directory
    # contains nothing importable
    job = tmp_path / "job.py"
    shutil.copyfile(os.path.join(REPO, "tools", "submit_job.py"), job)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # nothing but --py-files provides the pkg
    proc = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zpath,
            str(job),
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stdout[-2000:]
    out = json.loads(lines[-1])
    assert out["query"] == "zonal_daily_wavg" and out["rows"] > 0
    # the hex-grain flagship shares the flagship's oracle, so its rows
    # are the same groups; its encode is registered at runtime
    assert out["hex_rows"] == out["rows"]
    # a grid zone join, exact against numpy, through the compiled
    # membership function
    assert out["grid_join_exact"] is True

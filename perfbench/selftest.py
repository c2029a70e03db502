"""Self-test of the benchmark at tiny inputs.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all in BENCHMARK.json) it checks that

- an untraced run prints every end-to-end metric of BENCHMARK.json
  with its unit, and its outputs pass the correctness check;
- a traced run prints every per-layer metric with its unit;
- a run whose captured output has one row perturbed fails the check
  and reports a non-zero ``ops_failed_frac``.

It also checks that the harness refuses to run, without printing a
result, in a directory that holds only the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, cwd: str = ROOT, perturb: bool = False):
    env = dict(os.environ, PERFBENCH_PERTURB="1" if perturb else "0")
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def expect(cond: bool, what: str, errors: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        errors.append(what)


def check_metrics(result: dict, spec: list[dict], what: str, errors: list[str]) -> None:
    m = result["metrics"]
    expect(set(m) == {s["name"] for s in spec}, f"{what}: metric names match BENCHMARK.json", errors)
    for s in spec:
        got = m.get(s["name"], {})
        expect(got.get("unit") == s["unit"] and isinstance(got.get("value"), (int, float)),
               f"{what}: {s['name']} printed in {s['unit']}", errors)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = argv or [w["name"] for w in bench["workloads"]]
    errors: list[str] = []

    with tempfile.TemporaryDirectory() as bare:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        code, lines, _ = run(names[0], 0, cwd=bare)
        expect(code != 0 and not any(ln.startswith("{") for ln in lines),
               "refuses to run without the program", errors)

    for w in names:
        code, lines, err = run(w, 0)
        res = json.loads(lines[-1]) if code == 0 and lines else None
        expect(res is not None, f"{w}: untraced run exits 0 with a result", errors)
        if res is None:
            print(err[-3000:], file=sys.stderr)
            continue
        expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys", errors)
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w}: outputs correct", errors)
        check_metrics(res, bench["end_to_end"], f"{w} untraced", errors)

        code, lines, err = run(w, 1)
        res = json.loads(lines[-1]) if code == 0 and lines else None
        expect(res is not None, f"{w}: traced run exits 0 with a result", errors)
        if res is not None:
            check_metrics(res, bench["per_layer"], f"{w} traced", errors)

        code, lines, err = run(w, 0, perturb=True)
        res = json.loads(lines[-1]) if code == 0 and lines else None
        detail = json.loads(lines[-2]) if res is not None and len(lines) > 1 else {}
        expect(res is not None and not res["correct"] and res["failed"] > 0
               and detail.get("ops_failed_frac", 0) > 0,
               f"{w}: a perturbed output row fails the check", errors)

    print(f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

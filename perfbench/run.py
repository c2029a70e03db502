"""Benchmark harness: one workload, one process, a closed loop with one client.

Run from the root of a checkout::

    python3 perfbench/run.py --workload zonal_scan_ingest --seed 1 --seconds 5 --trace 0

Set-up (session, package shipping, seeded inputs and two warm-up passes,
the first keeping its outputs for checking) is followed by whole passes over
the workload's operations until ``--seconds`` have been measured (at
least one pass).  Each operation is timed end to end: the call that
builds the DataFrame, Catalyst planning (``executedPlan``) and a
noop-sink execution; ``pass_s`` is the sum of each operation's median
over the timed passes.  The kept outputs are then checked.  With
``--trace 1`` half the window runs untraced and half traced; the traced
passes give the per-layer metrics and the difference between the two
gives the tracing overhead.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
details (environment, per-operation medians, sample counts, ...).
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E_METRICS = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
MAX_CPUS = 4


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (the JVM and its Python workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except (FileNotFoundError, ProcessLookupError):
            continue
        out.append(p)
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout``."""
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if _running(p):
                    os.kill(p, sig)
        deadline = time.monotonic() + timeout
        while any(_running(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)


def vm_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole machine since boot.

    Busy is user + nice + system + irq + softirq time; stolen is time in
    which a virtual CPU had work but the hypervisor ran something else.
    """
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / tick, v[7] / tick


def stolen_share(c0: tuple[float, float], c1: tuple[float, float]) -> float:
    """The share of the CPU time wanted between two ``vm_cpu_s`` readings
    that the hypervisor took away (0 on a host that steals none)."""
    busy, stolen = c1[0] - c0[0], c1[1] - c0[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's resident-memory high-water mark."""
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the resident-memory high-water marks (VmHWM) of ``pids``."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total += sum(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / 1024


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples above it; the maximum when there are fewer than 21 samples."""
    xs = sorted(samples)
    k = len(xs) - 11 if len(xs) >= 21 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


def pin_environment(work: str, cpus: int) -> dict[str, str]:
    """Keep every file the run writes inside ``work`` and size the
    driver for a small shared host.  Must run before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "3g",
        # a fixed, pre-touched heap keeps the JVM's resident size and GC
        # sizing the same from run to run
        "SPARK_DRIVER_JAVA_OPTS": (f"-Xms3g -XX:+UseG1GC -XX:+AlwaysPreTouch -XX:ActiveProcessorCount={cpus}"
                                   f" -Djava.io.tmpdir={tmp}"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # one thread per BLAS / OpenMP / Arrow pool in every Python process
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


class Harness:
    """Runs operations and counts attempts and failures by name."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}

    def run_op(self, op, tracer, capture: bool = False) -> dict | None:
        """Build, plan and execute one operation; None when it raised."""
        try:
            c0 = vm_cpu_s()
            with tracer.operation(op.name) as root:
                py4j0 = tracer.py4j_calls
                t0 = time.perf_counter()
                with tracer.phase("build") as build:
                    df = op.fn()
                py4j_build = tracer.py4j_calls - py4j0
                t1 = t2 = time.perf_counter()
                execute = None
                if df is not None:
                    with tracer.phase("plan"):
                        df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.phase("exec") as execute:
                        if capture and op.capture is not None:
                            op.capture(df)
                        else:
                            df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            stolen = stolen_share(c0, vm_cpu_s())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed[op.name] = self.failed.get(op.name, 0) + 1
            return None
        rec = {"op": op.name, "build.s": t1 - t0, "plan.s": t2 - t1, "exec.s": t3 - t2,
               "wall_s": t3 - t0, "stolen_share": stolen, "unstolen_s": (t3 - t0) * (1 - stolen)}
        if root is not None:
            rec.update(tracer.op_record(root, build, execute, py4j_build))
            rec["unaccounted_s"] = (root["end"] - root["start"]) - rec["wall_s"]
        return rec

    def one_pass(self, tracer) -> tuple[float, list[dict]]:
        recs = []
        t0 = time.perf_counter()
        for op in self.wl.pass_ops():
            self.attempted[op.name] = self.attempted.get(op.name, 0) + 1
            rec = self.run_op(op, tracer)
            if rec is not None:
                recs.append(rec)
        return time.perf_counter() - t0, recs

    def passes(self, seconds: float, tracer, on_pass=None) -> list[tuple[float, list[dict]]]:
        out = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            out.append(self.one_pass(tracer))
            if on_pass is not None:
                on_pass(out[-1])
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: inputs for the self-test")
    args = ap.parse_args(argv)

    missing = [p for p in ("geodata_spark/__init__.py", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpu_start = vm_cpu_s()
    nproc = len(os.sched_getaffinity(0))
    # Spark task slots, shuffle partitions, JVM-visible CPUs and driver
    # thread pools; capped so that a larger shared host runs the same
    # number of threads as the 4-vCPU reference host
    cpus = min(nproc, MAX_CPUS)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # let a terminated run clean up: stop the JVM and remove ``work``
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    env = pin_environment(work, cpus)
    try:
        return run(args, workloads, work, env, nproc, cpus, cpu_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


def run(args, workloads, work: str, env: dict[str, str], nproc: int, cpus: int,
        cpu_start: tuple[float, float]) -> int:
    import pyspark

    from geodata_spark import deploy
    from geodata_spark.session import get_spark
    from perfbench.trace import LAYER_METRICS, Tracer, Untraced

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": env["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the tracer addresses SQL executions by position in the store
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    phases = {"session": process_age_s()}
    ctx = None
    try:
        t = time.perf_counter()
        deploy.ensure_py_files(spark)
        phases["deploy"] = time.perf_counter() - t
        ctx = workloads.Context(spark, work, args.seed, workloads.SIZES[args.size], cpus)
        ctx.perturb = os.environ.get("PERFBENCH_PERTURB") == "1"
        wl = workloads.make(args.workload, ctx)
        t = time.perf_counter()
        info = wl.setup()
        phases["inputs"] = time.perf_counter() - t
        h = Harness(wl)
        untraced = Untraced()
        for op in wl.pass_ops():  # first warm-up pass; outputs kept for the check
            t = time.perf_counter()
            h.run_op(op, untraced, capture=True)
            phases[f"warmup.{op.name}"] = time.perf_counter() - t
        # The pass after the first still runs 3-24 % slower while the JVM
        # compiles, by a different amount in every run; timing starts after it.
        t = time.perf_counter()
        for op in wl.pass_ops():
            h.run_op(op, untraced)
        phases["warmup.second_pass"] = time.perf_counter() - t
        setup_wall_s = process_age_s()
        setup_stolen = stolen_share(cpu_start, vm_cpu_s())
        setup_s = setup_wall_s * (1 - setup_stolen)

        reset_peak_rss(process_tree(os.getpid()))
        window = args.seconds / 2 if args.trace else args.seconds
        plain = h.passes(window, untraced)
        rss_mb = peak_rss_mb(process_tree(os.getpid()))

        layer = traced = None
        if args.trace:
            tracer = Tracer(spark)
            ctx.counts.clear()
            per_pass: list[tuple[dict, list]] = []

            def collect(p):
                per_pass.append((tracer.pass_metrics(p[1]), list(tracer.spans)))
                tracer.spans.clear()
                tracer.counts.clear()

            tracer.install()
            try:
                traced = h.passes(window, tracer, on_pass=collect)
            finally:
                tracer.uninstall()
            layer = {k: statistics.median(m[k] for m, _ in per_pass) for k in LAYER_METRICS}
            layer["deploy.s"] = phases["deploy"]
            done = ctx.counts.get("lineage.skipped", 0) + ctx.counts.get("lineage.completed", 0)
            layer["lineage.skip_ratio"] = ctx.counts.get("lineage.skipped", 0) / max(1, done)
            layer["trace.overhead_s"] = (
                statistics.median(d for d, _ in traced) - statistics.median(d for d, _ in plain)
            )

        t = time.perf_counter()
        checks = wl.check()
        check_s = time.perf_counter() - t
        for name, ok in checks.items():
            if not ok:
                print(f"perfbench: output of {name} does not match", file=sys.stderr)
                h.failed[name] = h.attempted.get(name, 0)
        attempted = sum(h.attempted.values())
        failed = min(attempted, sum(h.failed.values()))

        lat = [r["wall_s"] for _, recs in plain for r in recs] or [float("nan")]
        tail_s, tail_pct = tail(lat)
        by_name: dict[str, list[float]] = {}
        unstolen: dict[str, list[float]] = {}
        for _, recs in plain:
            for r in recs:
                by_name.setdefault(r["op"], []).append(r["wall_s"])
                unstolen.setdefault(r["op"], []).append(r["unstolen_s"])
        # One pass of median operations: each operation's median over the
        # timed passes, so a pass slowed in one operation counts only
        # there.  Times are net of the share of CPU time the hypervisor
        # stole, so that other guests' load on a shared host is not
        # counted as the program's; raw wall times are in the detail line.
        pass_s = sum(statistics.median(v) for v in unstolen.values())
        metrics = {"setup_s": setup_s, "pass_s": pass_s, "peak_rss_mb": rss_mb}
        zonal_reads = [sum(r["wall_s"] for r in recs if r["op"].startswith("zonal_")) for _, recs in plain]
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "size": args.size, "passes": len(plain), "pass_s_all": [d for d, _ in plain],
            "pass_wall_s": sum(statistics.median(v) for v in by_name.values()),
            "setup_wall_s": setup_wall_s, "setup_stolen_share": setup_stolen,
            "pass_stolen_share": [r["stolen_share"] for _, recs in plain for r in recs],
            "op_s_p50": statistics.median(lat), "op_s_tail": tail_s,
            "op_s_tail_percentile": tail_pct, "op_samples": len(lat),
            "op_s_median_by_name": {n: statistics.median(v) for n, v in sorted(by_name.items())},
            "ops_failed_frac": failed / max(1, attempted),
            "docs_per_s": (info["corpus_docs"] / statistics.median(zonal_reads)
                           if "corpus_docs" in info else None),
            "checks": checks, "check_s": check_s, "inputs": info, "setup_phases_s": phases,
            "env": {
                "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": env["SPARK_DRIVER_MEM"],
                "driver_java_opts": env["SPARK_DRIVER_JAVA_OPTS"].split(" -Djava.io.tmpdir")[0],
                "spark": spark.version,
                "pyspark": pyspark.__version__,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                "nproc": nproc,
                "cpus": cpus,
            },
        }
        if args.trace:
            detail["traced_passes"] = len(traced)
            detail["traced_pass_s"] = statistics.median(d for d, _ in traced)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"detail": detail, "layer": layer,
                           "passes": [{"pass_s": d, "ops": recs, "spans": spans}
                                      for (d, recs), (_, spans) in zip(traced, per_pass)]}, f)
            detail["trace_file"] = os.path.relpath(path, ROOT)
        units, values = (LAYER_METRICS, layer) if args.trace else (E2E_METRICS, metrics)
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        if ctx is not None:
            ctx.close()
        children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            # the gateway JVM exits when its stdin closes; its Python workers follow
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            wait_gone(children, timeout=30)


if __name__ == "__main__":
    sys.exit(main())

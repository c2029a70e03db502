#!/usr/bin/env python
"""Round-8 optimization-side benchmarks (bench.py is FROZEN for the
driver's measurement; everything exploratory lives here).

Subcommands:

  plans  <out_dir> <query> [query ...]   dump .explain("formatted") per query
  time   <query> [query ...]             warmed min-of-3 noop-sink wall per
                                         registry query at $SPARK_GRAFT_SF_DIR
  tier1                                  the three frozen tier-1 shapes from
                                         bench.py (flagship / cell_rollup /
                                         span_explode), warmed min-of-3

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session():
    from geodata_spark.session import get_spark

    return get_spark(
        "geodata_spark_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xms8g -XX:+UseG1GC",
        },
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def cmd_plans(out_dir: str, names: list[str]) -> None:
    from geodata_spark import queries as Q
    from geodata_spark.deploy import ensure_py_files

    spark = _session()
    ensure_py_files(spark)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = Q.QUERIES[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name} ({len(txt)} chars)")
    spark.stop()


def cmd_time(names: list[str], reps: int = 3) -> None:
    from geodata_spark import queries as Q
    from geodata_spark.deploy import ensure_py_files

    spark = _session()
    ensure_py_files(spark)
    out = {}
    for name in names:
        fn = Q.QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")

        def run():
            _noop(fn(spark, SF_DIR))

        warm = _timed(run)
        rs = [_timed(run) for _ in range(reps)]
        out[name] = {
            "warmup": round(warm, 3),
            "reps": [round(t, 3) for t in rs],
            "min": round(min(rs), 3),
            "median": round(statistics.median(rs), 3),
        }
        print(json.dumps({name: out[name]}))
    print("FINAL " + json.dumps(out))
    spark.stop()


def cmd_tier1() -> None:
    import bench as B

    spark = _session()
    qtimes, trials = B.bench_queries(spark)
    print("FINAL " + json.dumps({"queries": qtimes, "trials": trials,
                                 "total": round(sum(qtimes.values()), 3)}))
    spark.stop()


def main() -> None:
    cmd = sys.argv[1]
    if cmd == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif cmd == "time":
        cmd_time(sys.argv[2:])
    elif cmd == "tier1":
        cmd_tier1()
    else:
        raise SystemExit(f"unknown subcommand {cmd}")


if __name__ == "__main__":
    main()

"""Store the DuckDB answer of seed-independent oracles.

    python3 perfbench/oracle_cache/refresh.py watershed [...]
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import duckdb  # noqa: E402

import __spark_entry__ as E  # noqa: E402


def main(names: list[str]) -> None:
    con = duckdb.connect()
    for name in names:
        sql = E.oracle_sql()[name]
        if "documents" in sql or "embeddings" in sql:
            raise SystemExit(f"{name}: its oracle reads an input table; answers depend on the seed")
        digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        for old in os.listdir(HERE):
            if old.startswith(f"{name}-") and old.endswith(".parquet"):
                os.remove(os.path.join(HERE, old))
        path = os.path.join(HERE, f"{name}-{digest}.parquet")
        con.execute(sql).df().to_parquet(path, index=False)
        print(path)


if __name__ == "__main__":
    main(sys.argv[1:])

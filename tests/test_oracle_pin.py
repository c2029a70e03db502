"""Every registry oracle text is pinned by its sha256.

A refactor of a Spark builder must not move its DuckDB reference: the
oracles are what the sweep compares against, so an oracle that drifts
together with its builder hides the drift.  ``oracle_sql_sha256.json``
holds the sha256 of each ``__spark_entry__.oracle_sql()`` text, with
the absolute package directory (which ``hex_rollup``,
``hex_rollup_multi`` and ``areal_interp`` embed through
``resources/hex5_grid_dim.parquet``) replaced by ``<PKG>`` so the pin
does not depend on the checkout path.

An oracle change that is meant must regenerate the JSON, from the repo
root::

    python -c "import json, tests.test_oracle_pin as t; json.dump(t.oracle_hashes(), open(t.PIN, 'w'), indent=1, sort_keys=True)"

No Spark session needed.
"""

from __future__ import annotations

import hashlib
import json
import os

import __spark_entry__ as E
import geodata_spark

PIN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_sql_sha256.json")
PKG = os.path.dirname(os.path.abspath(geodata_spark.__file__))


def oracle_hashes() -> dict[str, str]:
    return {
        name: hashlib.sha256(sql.replace(PKG, "<PKG>").encode()).hexdigest()
        for name, sql in E.oracle_sql().items()
    }


def test_oracle_texts_match_pin():
    with open(PIN) as f:
        pinned = json.load(f)
    got = oracle_hashes()
    assert sorted(got) == sorted(pinned)
    changed = sorted(k for k in got if got[k] != pinned[k])
    assert not changed, f"oracle texts changed: {changed}"

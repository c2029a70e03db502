"""No package function or class is reached only by tests.

A top-level name of ``geodata_spark/`` is *reached* when the package's
module-level code (the query registry among it), ``perfbench/``,
``bench*.py``, ``__spark_entry__.py`` or ``tools/`` names it, or a
reached definition's body does.  Names are matched by identifier
(``ast.Name`` ids, ``ast.Attribute`` attributes and imported names), not
by module, so the scan can only err towards keeping code; docstring
and comment mentions do not count.  A name that nothing reaches must be
deleted with its tests, moved under ``tests/`` if it is a fixture
writer, or listed in :data:`KEEP` with the reason COVERAGE.md gives.
No Spark session is needed.
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: names only tests reach, kept on purpose -> the reason COVERAGE.md
#: ("Reached only by tests, kept") records for each
KEEP = {
    "cell_id_np": "numpy twin of cells.cell_sql that the cell tests compare against",
    "s2_token_np": "real S2 tokens, checked against the spec's ground-truth fixtures",
    "hex7_token_np": "numpy twin of the hex encode's token form",
    "hex7_neighbors_np": "numpy twin of the hex ring walk",
    "hex7_uncompact_np": "numpy twin of the hex compaction's inverse",
    "fit_loglinear_pandas": "applyInPandas twin (U4) of the model_fit_loglinear fit",
    "estimate_loglinear": "SURVEY F30, the extrapolation estimate",
    "read_table": "the only Iceberg catalog path (BASELINE north rule)",
    "write_table": "the only Iceberg catalog path (BASELINE north rule)",
    "parse_wkb": "SURVEY S8, the shapefile scan's WKB parse",
    "zones_wkb_rows": "SURVEY S8, the shapefile scan's WKB rows",
    "write_geotiff_raster": "SURVEY S10, the GeoTIFF sink",
    "read_geotiff": "SURVEY S7, the GeoTIFF scan",
    "read_netcdf": "SURVEY S1-S3, the NetCDF scan",
    "meta_scan": "SURVEY S4, the coordinates-only scan",
    "trim_variables": "SURVEY S13, variable pruning",
    "spinup_stream_id": "SURVEY F29, the MERRA2 spinup stream id",
    "crop_raster": "SURVEY P7, the bounding-box window",
    "nearest_regrid": "SURVEY J5, the nearest-neighbour regrid",
    "Cutout": "the reference's cutout object over the canonical long table",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _scan():
    """(defs: name -> names its bodies use, ["<file>:<line>"], roots)."""
    uses: dict[str, set[str]] = {}
    where: dict[str, list[str]] = {}
    roots: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "geodata_spark", "**", "*.py"), recursive=True)):
        for st in ast.parse(open(path).read()).body:
            if isinstance(st, _DEFS):
                uses.setdefault(st.name, set()).update(_names(st))
                where.setdefault(st.name, []).append(f"{os.path.relpath(path, REPO)}:{st.lineno}")
            else:
                roots |= _names(st)
    callers = (
        glob.glob(os.path.join(REPO, "perfbench", "*.py"))
        + glob.glob(os.path.join(REPO, "bench*.py"))
        + glob.glob(os.path.join(REPO, "tools", "*.py"))
        + [os.path.join(REPO, "__spark_entry__.py")]
    )
    for path in callers:
        roots |= _names(ast.parse(open(path).read()))
    return uses, where, roots


def _reached(uses: dict[str, set[str]], roots: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = [n for n in roots if n in uses]
    while todo:
        n = todo.pop()
        if n not in seen:
            seen.add(n)
            todo += [m for m in uses[n] if m in uses and m not in seen]
    return seen


def test_every_package_name_has_a_caller_outside_the_tests():
    uses, where, roots = _scan()
    reached = _reached(uses, roots | set(KEEP))
    orphans = sorted(f"{w} {n}" for n in uses if n not in reached for w in where[n])
    assert orphans == []


def test_every_kept_name_is_needed_and_recorded():
    """A kept name still exists, nothing but the keep set reaches it,
    and COVERAGE.md's keep section names it."""
    uses, _, roots = _scan()
    assert sorted(set(KEEP) - set(uses)) == []
    assert sorted(set(KEEP) & _reached(uses, roots)) == []
    coverage = open(os.path.join(REPO, "COVERAGE.md")).read()
    head = "## Reached only by tests, kept"
    assert head in coverage
    section = coverage.split(head, 1)[1].split("\n#", 1)[0]
    assert sorted(n for n in KEEP if not re.search(rf"[`.]{n}`", section)) == []

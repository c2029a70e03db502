"""Turbine / solar-panel resource library.

Counterpart of the reference's YAML config loader
(``src/geodata/resource.py:35-60``: ``get_windturbineconfig`` /
``get_solarpanelconfig`` over ``resources/windturbine/*.yaml`` and
``resources/solarpanel/*.yaml``).  Configs ship inside the package so
every executor resolves them without cluster-side files; loading
happens at plan time on the driver (the curve becomes a Catalyst CASE
chain — convert.py), so nothing here touches the hot path.

Schema (reference-compatible):

- wind turbine: ``V`` (m/s knots), ``POW`` (MW at each knot),
  ``HUB_HEIGHT`` (m); rated power ``P`` = max(POW), as in the
  reference loader.
- solar panel: ``model: huld|bofinger`` plus the model's coefficient
  set (pv/solar_panel_model.py semantics).

The bundled curves are representative public-knowledge power curves,
not transcriptions of any vendor sheet.
"""

from __future__ import annotations

import os
from typing import Any

RESOURCE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "resources")


def _load_yaml(path: str) -> dict[str, Any]:
    try:
        import yaml
    except ImportError:  # pragma: no cover - yaml ships in the image
        raise ImportError(
            "pyyaml is required to load resource configs; pass a dict instead"
        ) from None
    with open(path) as fh:
        out = yaml.safe_load(fh)
    if not isinstance(out, dict):
        raise ValueError(f"resource file {path} must contain a mapping")
    return out


def get_windturbineconfig(turbine: str | dict) -> dict:
    """Turbine name or dict → validated curve dict (V, POW, hub_height, P).

    Mirrors reference resource.py:35-43: P is the curve maximum.
    """
    if isinstance(turbine, dict):
        conf = dict(turbine)
    else:
        conf = _load_yaml(os.path.join(RESOURCE_DIR, "windturbine", f"{turbine}.yaml"))
    v = [float(x) for x in conf["V"]]
    pow_ = [float(x) for x in conf["POW"]]
    if len(v) != len(pow_) or len(v) < 2:
        raise ValueError("turbine curve needs matching V/POW lists (>=2 points)")
    if any(b < a for a, b in zip(v, v[1:])):
        raise ValueError("turbine V knots must be non-decreasing")
    hub = conf.get("hub_height", conf.get("HUB_HEIGHT"))
    if hub is None:
        raise ValueError("turbine config needs hub_height (or HUB_HEIGHT)")
    hub = float(hub)
    return {"V": v, "POW": pow_, "hub_height": hub, "P": max(pow_)}


def get_solarpanelconfig(panel: str | dict) -> dict:
    """Panel name or dict → coefficient dict for the huld/bofinger models."""
    if isinstance(panel, dict):
        conf = dict(panel)
    else:
        conf = _load_yaml(os.path.join(RESOURCE_DIR, "solarpanel", f"{panel}.yaml"))
    model = conf.get("model", "huld")
    required = {
        "huld": ("r_irradiance", "r_tmod", "c_temp_amb", "c_temp_irrad",
                 "k_1", "k_2", "k_3", "k_4", "k_5", "k_6"),
        "bofinger": ("A", "B", "C", "D", "NOCT", "Tstd", "Tamb", "Intc",
                     "ta", "threshold"),
    }.get(model)
    if required is None:
        raise ValueError(f"unknown panel model {model!r}")
    missing = [k for k in required if k not in conf]
    if missing:
        raise ValueError(f"panel config missing {missing}")
    return conf

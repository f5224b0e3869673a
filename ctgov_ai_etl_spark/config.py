"""Pipeline config loader (reference R1; /root/reference/etl.py:39-73).

Same observable contract as the reference: auto-detect YAML vs JSON
by extension, so reference config files drop in unchanged.  Unlike
the reference (a mutated global dict, etl.py:77), the loaded spec is
an immutable plain dict handed to the pipeline builder; on a cluster
it rides along in task closures (it's tiny).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from typing import Any


def load_config(config_path: str) -> dict[str, Any]:
    """Load a YAML or JSON pipeline spec (YAML needs pyyaml; JSON has
    no extra dependency)."""
    lower = config_path.lower()
    with open(config_path, encoding="utf-8") as fh:
        if lower.endswith((".yaml", ".yml")):
            try:
                import yaml
            except ImportError as exc:  # pragma: no cover
                raise RuntimeError("pyyaml not installed; use a .json config") from exc
            return yaml.safe_load(fh) or {}
        return json.load(fh)


def conjuncts_from_config(cfg: dict[str, Any]) -> str | None:
    """The reference accepts a list of Essie conjuncts (AND-joined,
    etl.py:100) or a legacy single string (etl.py:104-105)."""
    adv = cfg.get("ctgov", {}).get("filter_advanced")
    if adv is None:
        return None
    if isinstance(adv, str):
        return adv
    return " AND ".join(adv)


def resolve_factory(dotted: str) -> Callable[..., Any]:
    """Resolve a ``module:function`` path by import — the one seam for
    pluggable REST transports (``ctgov.transport_factory``) and LLM
    clients (``gemini.client_factory``).

    Both factories run inside Spark's Python worker processes (data
    source readers are built there; ``llm_classify`` builds its client
    once per task), so the callable must be importable there: the
    engine ships itself via addPyFile (session.ship_package), so any
    callable in this package or an installed module qualifies, while
    an in-process registry would be invisible to the workers.
    """
    import importlib

    mod_name, _, fn_name = dotted.partition(":")
    return getattr(importlib.import_module(mod_name), fn_name)

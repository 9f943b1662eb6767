"""Guard for the benchmark's per-layer spans: every ``(module, pattern)``
rule in ``perfbench/tracing.LAYER_RULES`` must be the first match for at
least one public package function. A rename, or moving a traced function
behind a private name, would otherwise silently zero a per-layer metric
such as ``plans.table_s``. Reads ``perfbench/`` only."""

from __future__ import annotations

import importlib
import importlib.util
import inspect
import os
import pkgutil
import re

import pyspark_bigdata_sars_cov_2_analysis_spark as pkg

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tracing():
    spec = importlib.util.spec_from_file_location(
        "_perfbench_tracing", os.path.join(REPO, "perfbench", "tracing.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _public_functions():
    """(module suffix, name) of every function ``tracing.install`` would
    consider wrapping: public, defined in its module, not a UDF."""
    out = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        for attr, obj in vars(mod).items():
            if (attr.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != info.name
                    or hasattr(obj, "evalType")):
                continue
            out.append((info.name[len(pkg.__name__) + 1:], attr))
    return out


def test_every_layer_rule_wraps_a_public_function():
    tracing = _load_tracing()
    assert tracing.PKG == pkg.__name__
    rules = tracing.LAYER_RULES
    first_hits = {i: [] for i in range(len(rules))}
    for suffix, attr in _public_functions():
        for i, (msuffix, pat, _span) in enumerate(rules):
            if suffix.startswith(msuffix) and re.search(pat, attr):
                first_hits[i].append(f"{suffix}.{attr}")
                break
    dead = [rules[i] for i, hits in first_hits.items() if not hits]
    assert not dead, f"layer rules that wrap no public function: {dead}"
    assert "plans.registry.table" in first_hits[
        next(i for i, r in enumerate(rules) if r[2] == "plans.table")]

"""The benchmark's workloads: what each item runs and how its output is
checked.

An item is one closed-loop request. Registry items build the query
(``plans.QUERIES[name](spark, data_dir)``), force physical planning, and
collect the result; job items (``JOB_OUTPUTS``) run a reference pipeline's
``run_job`` into a fresh output directory. Every execution is checked outside the timed region:
registry results against a row count and digest recorded from a
DuckDB-verified run (``expected.json``), job outputs against the invariants
the input generator knows.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    items: tuple[str, ...]  # registry ids (``q5``) or reference jobs
    inputs: tuple[str, ...]  # tables whose bytes are the input size
    stateful: bool = False  # items leave state under their scratch root


# The reference jobs an item may name; every other item is a registry id.
JOB_OUTPUTS = {
    "research": ("paper_authors", "paper_abstracts"),
}

# Why each workload and item exists: BENCHMARK.json and README.md.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "tpch_sf01",
            ("q1", "q5", "q18", "e02"),
            inputs=("customer", "orders", "lineitem", "supplier", "nation",
                    "region", "events"),
        ),
        Workload(
            "curation_sf01",
            ("d14", "u05", "e15", "research"),
            inputs=("documents", "events"),
            stateful=True,
        ),
    )
}


def registry_name(plans, item: str) -> str:
    """Map a short item id (``q5``) to its registry name."""
    for name in plans.QUERIES:
        if name.split("_", 1)[0] == item:
            return name
    raise KeyError(f"no registry query for item {item!r}")


# --- output checks -------------------------------------------------------


def _canon_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest: columns sorted by name, cells in canonical
    string form, rows sorted — the oracle harness's canonicalization."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        "\x1f".join(_canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()[:32]


def check_query(expected: dict | None, item: str, rows: int, dig: str) -> str | None:
    """None when the result matches the recorded one, else a reason."""
    if expected is None:
        return f"{item}: no recorded result"
    if rows != expected["rows"]:
        return f"{item}: rows {rows} != recorded {expected['rows']}"
    if dig != expected["digest"]:
        return f"{item}: digest {dig} != recorded {expected['digest']}"
    return None


def _json_lines(out_dir: str) -> list[dict]:
    parts = sorted(
        f for f in os.listdir(out_dir)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    rows = []
    for p in parts:
        with open(os.path.join(out_dir, p)) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def check_job(job: str, written: list[str], out_root: str, inputs: dict) -> str | None:
    """Every reference output is written, committed (``_SUCCESS``) and holds
    the row counts and keys the generator implies."""
    want = JOB_OUTPUTS[job]
    if sorted(written) != sorted(want):
        return f"{job}: wrote {sorted(written)}, expected {sorted(want)}"
    counts = {}
    for name in want:
        d = os.path.join(out_root, name)
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            return f"{job}/{name}: no _SUCCESS marker"
        rows = _json_lines(d)
        if not rows:
            return f"{job}/{name}: empty output"
        counts[name] = rows
    for name, n in inputs["expect"][job].items():
        if len(counts[name]) != n:
            return f"{job}/{name}: {len(counts[name])} rows, expected {n}"
    ids = sorted(r.get("paper_id") for r in counts["paper_abstracts"])
    if ids != inputs["paper_ids"]:
        return f"{job}/paper_abstracts: paper ids differ from the input's"
    return None

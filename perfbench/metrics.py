"""The declared metrics, read from ``BENCHMARK.json`` at the checkout root,
and the rules a declaration has to follow."""

from __future__ import annotations

import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MAX_BOUND = 0.25


def load_spec(path: str = os.path.join(ROOT, "BENCHMARK.json")) -> dict:
    with open(path) as fh:
        return json.load(fh)


def unit_of(name: str) -> str:
    """Unit of an undeclared figure, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


def problems(spec: dict) -> list[str]:
    """Every way ``spec`` breaks the declaration rules; empty if none."""
    out = []
    expected = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != expected:
        out.append(f"top-level keys {sorted(spec)} != {sorted(expected)}")
        return out
    rs = spec["run_seconds"]
    if not (isinstance(rs, int) and 1 <= rs <= 60):
        out.append(f"run_seconds {rs!r} not a whole number in 1..60")
    names: list[str] = []
    if not 2 <= len(spec["workloads"]) <= 8:
        out.append("need 2 to 8 workloads")
    for w in spec["workloads"]:
        if set(w) != {"name", "why"}:
            out.append(f"workload keys {sorted(w)}")
        if len(w.get("why", "")) > 200 or "\n" in w.get("why", ""):
            out.append(f"workload {w.get('name')}: why longer than one 200-character line")
        names.append(w.get("name", ""))
    for section, keys, lo, hi in (
        ("end_to_end", {"name", "unit", "better", "bound"}, 1, 16),
        ("per_layer", {"name", "unit", "better"}, 1, 128),
    ):
        if not lo <= len(spec[section]) <= hi:
            out.append(f"{section}: {len(spec[section])} metrics, want {lo}..{hi}")
        for m in spec[section]:
            if set(m) != keys:
                out.append(f"{section} {m.get('name')}: keys {sorted(m)}")
                continue
            names.append(m["name"])
            if not UNIT.fullmatch(m["unit"]):
                out.append(f"{m['name']}: bad unit {m['unit']!r}")
            if m["better"] not in ("lower", "higher"):
                out.append(f"{m['name']}: better must be lower or higher")
            if section == "end_to_end" and not (
                isinstance(m["bound"], (int, float)) and 0 < m["bound"] <= MAX_BOUND
            ):
                out.append(f"{m['name']}: bound {m['bound']!r} outside (0, {MAX_BOUND}]")
    for n in names:
        if not NAME.fullmatch(n):
            out.append(f"bad name {n!r}")
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        out.append(f"names used twice: {sorted(dup)}")
    setup = [m for m in spec["end_to_end"] if m.get("name") == "setup_s"]
    if not setup or setup[0].get("unit") != "s" or setup[0].get("better") != "lower":
        out.append("end_to_end needs setup_s in s, lower is better")
    elif any(m.get("bound", 0) > setup[0]["bound"] for m in spec["end_to_end"]):
        out.append("setup_s must carry the largest bound")
    return out

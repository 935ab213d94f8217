#!/usr/bin/env python3
"""Compare a parent run set with a change run set.

    python3 perfbench/compare.py --parent runs/parent --change runs/change

A run set is a list of files or directories holding the standard output of
``perfbench/run.py`` (one run per file, or several). For each workload and
metric it prints both sides' median and quartiles, the fraction of pairs
the change wins (pairs share a seed; ties count for neither) and a verdict
following the method in the README:

- ``gain``: the change wins at least 9 of 10 pairs and the medians differ,
  in the better direction, by more than the parent's quartile distance;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound in ``BENCHMARK.json``;
- ``unresolved``: the parent's own spread (quartile distance over median)
  is wider than the bound, and not every change run beats every parent run;
- ``no regression``: otherwise.

Run sets whose recorded box facts (cores, RAM, heap) differ are refused.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

BOX_KEYS = ("cores", "ram_gib", "heap")


def load_runs(paths: list[str]) -> list[dict]:
    """Every run record found in ``paths`` (files or directories)."""
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in sorted(os.listdir(p))]
        else:
            files.append(p)
    runs = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith('{"record"'):
                    runs.append(json.loads(line)["record"])
    return runs


def metrics_of(run: dict) -> dict:
    """The per-layer metrics of a traced run; the end-to-end metrics and
    the (unbounded) wall times of an untraced one."""
    return run["per_layer"] if run["trace"] else {**run.get("wall", {}), **run["end_to_end"]}


def box_of(runs: list[dict]) -> set[tuple]:
    return {tuple(r["box"][k] for k in BOX_KEYS) for r in runs}


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            bound: float | None, lower_is_better: bool) -> dict:
    sign = 1.0 if lower_is_better else -1.0
    p_lo, p_med, p_hi = quartiles(parent)
    c_lo, c_med, c_hi = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    gain = sign * (p_med - c_med)  # > 0: the change is better
    spread = (p_hi - p_lo) / abs(p_med) if p_med else float("inf")
    every_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if pairs and win_frac >= 0.9 and gain > (p_hi - p_lo):
        v = "gain"
    elif bound is not None and -gain > bound * abs(p_med):
        v = "regression"
    elif bound is not None and spread > bound and not every_better:
        v = "unresolved"
    elif bound is None:
        v = "no claim"
    else:
        v = "no regression"
    return {"parent": (p_lo, p_med, p_hi), "change": (c_lo, c_med, c_hi),
            "pairs": len(pairs), "win_frac": win_frac, "verdict": v}


def compare(parent: list[dict], change: list[dict], spec: dict) -> list[dict]:
    if len(box_of(parent) | box_of(change)) != 1:
        raise ValueError(f"run sets recorded on different boxes: parent {box_of(parent)}, "
                         f"change {box_of(change)}")
    defs = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    rows = []
    for wl in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        for traced in (False, True):
            ps = [metrics_of(r) | {"seed": r["seed"]} for r in parent
                  if r["workload"] == wl and bool(r["trace"]) == traced]
            cs = [metrics_of(r) | {"seed": r["seed"]} for r in change
                  if r["workload"] == wl and bool(r["trace"]) == traced]
            if not ps or not cs:
                continue
            for name in sorted((set(ps[0]) & set(cs[0])) - {"seed"}):
                d = defs.get(name, {})
                by_seed_c = {r["seed"]: r[name] for r in cs}
                pairs = [(r[name], by_seed_c[r["seed"]]) for r in ps if r["seed"] in by_seed_c]
                row = verdict([r[name] for r in ps], [r[name] for r in cs], pairs,
                              d.get("bound"), d.get("better", "lower") == "lower")
                rows.append({"workload": wl, "metric": name, "bound": d.get("bound"), **row})
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    ap.add_argument("--spec", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.spec, encoding="utf-8") as f:
        spec = json.load(f)
    try:
        rows = compare(load_runs(a.parent), load_runs(a.change), spec)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    fmt = "{:<10} {:<30} {:>28} {:>28} {:>6} {:>5}  {}"
    print(fmt.format("workload", "metric", "parent q1/med/q3", "change q1/med/q3", "pairs",
                     "wins", "verdict"))
    for r in rows:
        q = lambda t: "/".join(f"{x:.4g}" for x in t)  # noqa: E731
        print(fmt.format(r["workload"], r["metric"], q(r["parent"]), q(r["change"]), r["pairs"],
                         f"{r['win_frac']:.2f}", r["verdict"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

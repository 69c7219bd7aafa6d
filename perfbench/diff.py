"""Rank the per-layer metrics of two traced runs by how much they moved.

    python3 perfbench/diff.py BEFORE.json AFTER.json [--top N]

Each argument is a trace written by ``run.py --trace 1`` (under
``.perfbench/traces/``) or a saved last stdout line of such a run.
Metrics are ranked by relative change, largest first; a metric that is
zero on one side only ranks by its absolute change after every metric
that has a relative one.
"""

from __future__ import annotations

import argparse
import json
import math
import sys


def load(path: str) -> dict[str, float]:
    with open(path, encoding="utf-8") as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = json.loads(text.strip().splitlines()[-1])
    if "per_layer" in doc:
        return {k: float(v) for k, v in doc["per_layer"].items()}
    return {k: float(m["value"]) for k, m in doc["metrics"].items()}


def rank(before: dict[str, float], after: dict[str, float]) -> list[tuple]:
    """(name, before, after, change, relative change or nan), most moved
    first; names on one side only are skipped."""
    rows = []
    for name in sorted(before.keys() & after.keys()):
        a, b = before[name], after[name]
        rel = (b - a) / abs(a) if a else (0.0 if b == a else math.nan)
        rows.append((name, a, b, b - a, rel))
    rows.sort(key=lambda r: (math.isnan(r[4]), -abs(r[4]) if not math.isnan(r[4]) else -abs(r[3])))
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args(argv)
    rows = rank(load(args.before), load(args.after))
    print(f"{'metric':<40} {'before':>12} {'after':>12} {'change':>12} {'rel':>8}")
    for name, a, b, d, rel in rows[: args.top]:
        r = "new" if math.isnan(rel) else f"{rel:+.1%}"
        print(f"{name:<40} {a:>12.4g} {b:>12.4g} {d:>+12.4g} {r:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

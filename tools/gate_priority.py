"""Recompute `_GATE_PRIORITY` for the next round from the driver's
CORRECTNESS_r*.json history.

Ordering policy (the one every round's verdict asks for):
1. oracle keys with ZERO green driver evidence (never gated, or last
   row failed/errored) — newest additions last so long-standing gaps
   go first;
2. rows-only contract keys whose latest row isn't a `no_oracle` record
   yet;
3. confirmed-green keys by staleness (oldest confirming round first);
4. rows-only keys already confirmed as `no_oracle`.

Usage: python tools/gate_priority.py
Prints the ready-to-paste Python list; diff against
__spark_entry__._GATE_PRIORITY and commit early in the round.
"""
from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_history(history_dir: str) -> dict[str, tuple[int, str]]:
    """key -> (round of latest sticking evidence, status).

    Status rules: a later `fail` demotes any prior evidence; `green`
    refreshes its own staleness round; `rows_only` (the driver's
    `no_oracle` record) sticks like green but in its own bucket.
    """
    history: dict[str, tuple[int, str]] = {}
    # Sort by PARSED round number, not filename: lexical order breaks as
    # soon as padding changes (r100 < r02, unpadded r4) and would let an
    # older fail, replayed after a newer green, incorrectly demote a key.
    paths = sorted(
        glob.glob(os.path.join(history_dir, "CORRECTNESS_r*.json")),
        key=lambda p: int(p.rsplit("_r", 1)[1].split(".")[0]),
    )
    for path in paths:
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        with open(path, encoding="utf-8") as f:
            rows = json.load(f)
        for key, row in rows.items():
            if row.get("err") == "no_oracle":
                status = "rows_only"
            elif row.get("hash_match") and row.get("rows_match"):
                status = "green"
            else:
                status = "fail"
            prev = history.get(key)
            # green/rows_only evidence sticks at its round; a later
            # fail demotes
            if status == "fail" or prev is None or prev[1] == "fail":
                history[key] = (rnd, status)
            elif status == "green" and prev[1] != "green":
                history[key] = (rnd, status)
            elif status == "green" and prev[1] == "green":
                history[key] = (rnd, status)  # refresh staleness
            elif status == "rows_only" and prev[1] == "rows_only":
                history[key] = (rnd, status)
    return history


def priority_order(
    keys: list[str],
    oracles: set[str],
    history: dict[str, tuple[int, str]],
) -> list[str]:
    """The rotation: zero-evidence first (surface order), then
    stale-oracle-upgrade gaps, then greens stalest-first, then
    confirmed rows-only keys."""
    order = {k: i for i, k in enumerate(keys)}

    def bucket(k: str) -> tuple:
        h = history.get(k)
        if h is None or h[1] == "fail":
            return (0, order[k])  # zero evidence / failing: first
        if k in oracles and h[1] == "rows_only":
            # key gained an oracle since its last (rows-only) gating —
            # it has zero ORACLE evidence, so it leads with the gaps
            return (0, order[k])
        if k not in oracles and h[1] != "rows_only":
            return (1, order[k])
        if h[1] == "green":
            return (2, h[0], k)  # stalest confirming round first
        return (3, h[0], k)  # rows-only already confirmed

    return sorted(keys, key=bucket)


def main() -> int:
    import __spark_entry__ as m

    history = load_history("/root/repo")
    keys = list(m.queries())
    oracles = set(m.oracle_sql())
    ordered = priority_order(keys, oracles, history)
    n_zero = sum(
        1
        for k in ordered
        if history.get(k) is None
        or history[k][1] == "fail"
        or (k in oracles and history[k][1] == "rows_only")
    )
    print(f"# {len(ordered)} keys; {n_zero} with zero driver evidence lead")
    print("_GATE_PRIORITY = [")
    for k in ordered:
        print(f'    "{k}",')
    print("]")
    return 0


if __name__ == "__main__":
    sys.exit(main())

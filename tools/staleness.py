"""Rotation ledger for the driver's 50-slot CORRECTNESS window.

The driver records only the FIRST 50 ``queries()`` entries per round, so
the order of ``QUERY_ORDER`` in ``__spark_entry__.py`` is a priority
tiering.  This tool mechanizes the arithmetic the judge did by hand
through round 6 (VERDICT r6 "Next round" #8): it reads every
``CORRECTNESS_r*.json`` plus the live registry and prints

  * the freshest-green round per query (and the never-recorded set),
  * the staleness distribution, and
  * a suggested next-window tiering: (1) never-recorded, (2) queries
    whose module changed since their freshest green (pass names via
    ``--changed a,b,c`` — code-change detection needs a human/git eye),
    (3) rows that will be >= 3 rounds old next round, oldest first,
    (4) fill with the next-oldest rows, registry order within a tier.

Usage: python tools/staleness.py [--changed name,name,...] [--slots 50]
"""

from __future__ import annotations

import glob
import json
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402

SLOTS = 50


def green(row: dict) -> bool:
    if row.get("err"):
        return False
    if not (row.get("rows_match") and row.get("schema_match")):
        return False
    # hash_match is None for rows-only (no-oracle) queries: still a
    # driver-recorded pass, just the weaker gate.
    return row.get("hash_match") in (True, None)


def load_ledger() -> tuple[dict[str, int], int]:
    fresh: dict[str, int] = {}
    latest = 0
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if green(row):
                fresh[name] = max(fresh.get(name, 0), rnd)
    return fresh, latest


def main(argv: list[str]) -> int:
    changed: list[str] = []
    slots = SLOTS
    args = iter(argv)
    for a in args:
        if a == "--changed":
            changed = [s for s in next(args).split(",") if s]
        elif a == "--slots":
            slots = int(next(args))
    registry = list(entry_mod.queries().keys())
    fresh, latest = load_ledger()
    nxt = latest + 1

    never = [q for q in registry if q not in fresh]
    dist: dict[int, int] = {}
    for q in registry:
        dist[fresh.get(q, 0)] = dist.get(fresh.get(q, 0), 0) + 1
    print(f"registry: {len(registry)} queries; latest recorded round: r{latest}")
    print("freshest-green distribution: "
          + ", ".join(f"{'never' if r == 0 else f'r{r}'}={n}"
                      for r, n in sorted(dist.items(), reverse=True)))
    for q in registry:
        print(f"  {q:40s} {'never' if q not in fresh else f'r{fresh[q]}'}")

    # Suggested tiering for round `nxt`.
    unknown = [q for q in changed if q not in registry]
    if unknown:
        print(f"WARNING: --changed names not in registry: {unknown}")
    tier1 = never
    tier2 = [q for q in changed if q in registry and q not in tier1]
    # >= 3 rounds old AT round nxt means freshest <= nxt - 3.
    stale_line = nxt - 3
    tier3 = sorted(
        (q for q in registry
         if q in fresh and fresh[q] <= stale_line
         and q not in tier1 and q not in tier2),
        key=lambda q: (fresh[q], registry.index(q)))
    picked = tier1 + tier2 + tier3
    rest = sorted((q for q in registry if q not in picked),
                  key=lambda q: (fresh.get(q, 0), registry.index(q)))
    tier4 = rest[: max(0, slots - len(picked))]

    print(f"\nsuggested r{nxt} window ({slots} slots):")
    for label, tier in (("1 never-recorded", tier1),
                        ("2 code-changed", tier2),
                        (f"3 stale (<= r{stale_line})", tier3),
                        ("4 fill oldest-first", tier4)):
        print(f"  tier {label}: {len(tier)}")
        for q in tier:
            print(f"    {q:40s} {'never' if q not in fresh else f'r{fresh[q]}'}")
    n = len(picked) + len(tier4)
    if len(picked) > slots:
        print(f"  OVERFLOW: tiers 1-3 hold {len(picked)} > {slots} slots — "
              f"the tail ages another round")
    print(f"  total suggested: {min(n, slots)} of {slots}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

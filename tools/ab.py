"""Interleaved A/B of the repository benchmark: this checkout against <rev>.

    python3 tools/ab.py <rev> [--workload crawl_deep] [--pairs 4] [--seed 1]

Exports <rev> into a temporary directory (``git archive``), then runs
``perfbench/run.py`` of each tree in that tree, in a fresh process per
run. Pair i runs both trees with seed ``seed + i``; even pairs run <rev>
first and odd pairs this checkout first, so a drift of the host's speed
falls on both sides alike. The export is removed at the end.

For each end-to-end metric of ``BENCHMARK.json`` it prints the min and
the median of both sides, the change of the medians, the distance
between the quartiles of <rev>'s runs, and how many pairs this checkout
won. A run that fails or whose gate fails a check is reported, and its
pair is left out of the table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> None:
    """The committed files of ``rev``, written under ``dest``."""
    tar = os.path.join(dest, "tree.tar")
    subprocess.run(["git", "archive", "-o", tar, rev], cwd=ROOT, check=True)
    with tarfile.open(tar) as t:
        t.extractall(os.path.join(dest, "tree"), filter="data")
    os.remove(tar)


def run(tree: str, workload: str, seed: int) -> dict | None:
    """The result line of one benchmark run in ``tree``; None when the run
    fails or its gate fails a check."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if res is None or not res["correct"]:
        print(f"  FAILED in {tree} (seed {seed}, exit {p.returncode}): "
              f"{(res or {}).get('failed')} gate failures; {p.stderr[-2000:]}",
              file=sys.stderr)
        return None
    return {k: m["value"] for k, m in res["metrics"].items()}


def report(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> None:
    print(f"{'metric':<16}{'base min':>11}{'base med':>11}{'new min':>11}"
          f"{'new med':>11}{'Δ med':>9}{'base IQR':>11}  won")
    for name, way in better.items():
        a = [p[0][name] for p in pairs]
        b = [p[1][name] for p in pairs]
        won = sum((y < x) if way == "lower" else (y > x) for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        q = statistics.quantiles(a, n=4) if len(a) > 1 else [ma, ma, ma]
        print(f"{name:<16}{min(a):>11.4g}{ma:>11.4g}{min(b):>11.4g}{mb:>11.4g}"
              f"{100 * (mb - ma) / ma:>+8.1f}%{q[2] - q[0]:>11.4g}  "
              f"{won}/{len(pairs)}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev", help="the base revision, e.g. HEAD~1")
    ap.add_argument("--workload", default="crawl_deep")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        export(args.rev, tmp)
        trees = {"base": os.path.join(tmp, "tree"), "new": ROOT}
        pairs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "new") if i % 2 == 0 else ("new", "base")
            got = {}
            for side in order:
                got[side] = run(trees[side], args.workload, seed)
                print(f"pair {i} seed {seed} {side}: {got[side]}", file=sys.stderr)
            if got["base"] and got["new"]:
                pairs.append((got["base"], got["new"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{args.workload}: {args.rev} (base) against {ROOT} (new), "
          f"{len(pairs)} of {args.pairs} pairs complete")
    if pairs:
        report(pairs, better)
    return 0 if len(pairs) == args.pairs else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

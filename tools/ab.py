"""Interleaved A/B of the repo benchmark: a base commit against the
working tree.

    python tools/ab.py BASE --workload bulk_cow --seeds 1 2 3 4 5 6 [--seconds 5]

``BASE`` is any git revision. Its committed files are exported (``git
archive``, no worktree) into a scratch directory; the working tree runs
as it is, uncommitted edits included. For each seed, ``perfbench/run.py``
runs once on each side, one process at a time, and the side that goes
first alternates from pair to pair, so a host whose speed drifts over
the session slows both sides alike instead of one block of runs.

Prints one row per end-to-end metric: base and head median with their
interquartile range, the change of the medians, and the pairs in which
head was better (direction from BENCHMARK.json).
Exits 1 if any run fails or reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> None:
    """Write the files of ``rev`` under ``dest``."""
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                             capture_output=True, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One benchmark process in ``tree``; its JSON result, or None if it
    produced none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                break
    sys.stderr.write(proc.stderr[-2000:])
    return None


def directions() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"]}


def spread(xs: list[float]) -> tuple[float, float]:
    """Median and interquartile range."""
    if len(xs) < 2:
        return xs[0], 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return statistics.median(xs), q3 - q1


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    """Per metric: medians, IQRs, median change and pairs won by head."""
    rows = []
    for name in pairs[0][0]["metrics"]:
        a = [b["metrics"][name]["value"] for b, _ in pairs]
        h = [hd["metrics"][name]["value"] for _, hd in pairs]
        lower = better[name] == "lower"
        won = sum((y < x) if lower else (y > x) for x, y in zip(a, h))
        (ma, ia), (mh, ih) = spread(a), spread(h)
        rows.append({"metric": name, "base_median": ma, "base_iqr": ia,
                     "head_median": mh, "head_iqr": ih,
                     "change": (mh - ma) / ma if ma else 0.0,
                     "pairs_won": won, "pairs": len(pairs)})
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", help="git revision to compare the working tree against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--scratch", help="directory for the base checkout "
                    "(default: a temporary directory, removed at exit)")
    args = ap.parse_args(argv)

    scratch = args.scratch or tempfile.mkdtemp(prefix="ab-")
    base_tree = os.path.join(scratch, "base")
    shutil.rmtree(base_tree, ignore_errors=True)
    export(args.base, base_tree)
    trees = {"base": base_tree, "head": ROOT}
    pairs: list[tuple[dict, dict]] = []
    bad = 0
    try:
        for i, seed in enumerate(args.seeds):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            got = {}
            for side in order:
                r = run_once(trees[side], args.workload, seed, args.seconds)
                ok = r is not None and r.get("correct") is True
                bad += not ok
                got[side] = r
                shown = {k: round(v["value"], 4) for k, v in r["metrics"].items()} if r else None
                print(f"seed {seed} {side}: correct={ok} {json.dumps(shown)}", flush=True)
            if all(got.values()):
                pairs.append((got["base"], got["head"]))
    finally:
        if not args.scratch:
            shutil.rmtree(scratch, ignore_errors=True)

    if pairs:
        print(f"\n{args.workload}: {len(pairs)} interleaved pairs, base {args.base} vs working tree")
        print(f"{'metric':34} {'base med':>10} {'iqr':>8} {'head med':>10} {'iqr':>8} "
              f"{'change':>8} {'won':>6}")
        for r in summarize(pairs, directions()):
            print(f"{r['metric']:34} {r['base_median']:10.4g} {r['base_iqr']:8.3g} "
                  f"{r['head_median']:10.4g} {r['head_iqr']:8.3g} {r['change']:+8.1%} "
                  f"{r['pairs_won']:>3}/{r['pairs']}")
    if bad:
        print(f"{bad} run(s) failed or were not correct", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

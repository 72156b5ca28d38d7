#!/usr/bin/env python3
"""Compare the working tree with a parent commit on one perfbench workload.

    python3 scripts/perfbench_pairs.py --workload steer_live --seeds 31-40 \
        [--parent HEAD] [--seconds 12] [--trace 0|1] [--json runs.json]

The parent is exported with ``git archive`` into a temporary directory,
and the working tree's files (tracked and untracked, less what .gitignore
lists) are copied next to it, so both sides run from a fresh directory with
no earlier run state. Each seed is one pair: ``python3 perfbench/run.py
--workload W --seed N --seconds S --trace T`` runs once in each copy, one
after the other, and the side that runs first alternates from pair to pair.
Each run's last stdout line is its JSON result: the end-to-end metrics with
``--trace 0`` (the default), the per-layer metrics with ``--trace 1``.

For every metric it prints each side's median and quartiles, the parent's
spread (upper minus lower quartile), and how many pairs the change won.
Ties count for neither side, and "better" is the direction BENCHMARK.json
gives the metric. A gain holds when at least ten pairs ran, the change won
at least nine tenths of them, and the medians differ, in the better
direction, by more than the parent's spread. It also prints the failed operations of each side and the
runs that printed no result. Runs are sequential, so the two sides never
share the host with each other.
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
SIDES = ("parent", "change")


def parse_seeds(text: str) -> list[int]:
    """``31-40`` or ``1,5,9`` (or a mix) as a list of seeds."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export(rev: str, dest: str) -> None:
    """The committed files of ``rev`` under ``dest``."""
    archive = dest + ".tar"
    subprocess.run(["git", "-C", ROOT, "archive", "-o", archive, rev], check=True)
    with tarfile.open(archive) as tar:
        tar.extractall(dest, filter="data")
    os.remove(archive)


def copy_worktree(dest: str) -> None:
    """The working tree's files, as ``git ls-files`` lists them, under
    ``dest``; files deleted in the working tree are left out."""
    listed = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        check=True, capture_output=True, text=True,
    ).stdout.split("\0")
    for rel in filter(None, listed):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run_once(root: str, workload: str, seed: int, seconds: float, trace: int = 0) -> dict | None:
    """One benchmark run in the checkout at ``root``: its JSON result, or
    None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        return None


def lower_is_better() -> dict[str, bool]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] == "lower"
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict]) -> list[str]:
    """The report lines for ``runs`` (one dict per pair: seed, order and
    each side's result)."""
    lower = lower_is_better()
    ok = [r for r in runs if r["parent"] and r["change"]]
    out = [f"{len(ok)} of {len(runs)} pairs with both results"]
    for side in SIDES:
        done = [r[side] for r in runs if r[side]]
        failed = sum(d["failed"] for d in done)
        attempted = sum(d["attempted"] for d in done)
        missing = len(runs) - len(done)
        out.append(f"{side}: failed {failed} of {attempted} operations, {missing} runs without a result")
    if not ok:
        return out
    names = sorted(set.intersection(*(set(r[s]["metrics"]) for r in ok for s in SIDES)))
    out.append(f"{'metric':<24}{'parent q1/med/q3':>27}{'change q1/med/q3':>27}"
               f"{'IQR(p)':>9} {'wins':>6}  gain")
    for name in names:
        vals = {s: [r[s]["metrics"][name]["value"] for r in ok] for s in SIDES}
        sign = 1.0 if lower.get(name, True) else -1.0
        wins = sum(sign * (c - p) < 0 for p, c in zip(vals["parent"], vals["change"]))
        (p1, pm, p3), (c1, cm, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
        gain = len(ok) >= 10 and wins >= 0.9 * len(ok) and sign * (pm - cm) > p3 - p1
        out.append(f"{name:<24} {p1:8.3f} {pm:8.3f} {p3:8.3f} {c1:8.3f} {cm:8.3f} {c3:8.3f} "
                   f"{p3 - p1:8.3f} {wins:>3}/{len(ok):<2}  {'yes' if gain else 'no'}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 31-40 or 1,3,5")
    ap.add_argument("--parent", default="HEAD", help="commit to compare against (default HEAD)")
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1 compares the per-layer metrics of traced runs")
    ap.add_argument("--json", help="also write every pair's results to this file")
    args = ap.parse_args(argv)

    runs = []
    with tempfile.TemporaryDirectory(prefix="perfbench-pairs-") as tmp:
        roots = {side: os.path.join(tmp, side) for side in SIDES}
        export(args.parent, roots["parent"])
        copy_worktree(roots["change"])
        for i, seed in enumerate(args.seeds):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(roots[side], args.workload, seed, args.seconds, args.trace)
            runs.append(pair)
            print(f"seed {seed} done ({order[0]} first)", file=sys.stderr, flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(runs, f, indent=1)
    print(f"{args.workload}: parent {args.parent} vs working tree, "
          f"--seconds {args.seconds:g} --trace {args.trace}")
    print("\n".join(summarize(runs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

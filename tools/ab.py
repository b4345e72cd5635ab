#!/usr/bin/env python3
"""Paired, interleaved A/B runs of perfbench between two git revisions.

Usage (from the repository root):

    python3 tools/ab.py --base HEAD~1 --head HEAD --workload stream_ingest \
        --pairs 10 --seed0 11 --workdir /tmp/ab

Exports each revision with `git archive` into a fresh directory under
--workdir (`base/` and `head/`; a later call for the same commit reuses
that tree and its build) and runs pair i as
`python3 perfbench/run.py --workload W --seed seed0+i --seconds S --trace 0`
in both trees, alternating which side runs first. Prints every run, then
each end-to-end metric's median and quartiles per side and the share of
pairs the head side won (ties count for neither side).

Each tree is exported fresh and builds its own classes. Never point this
at copies of an already built tree: the incremental compiler's analysis
files store absolute paths, and building a copy whose target/ came along
can delete the class files of the original.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """A fresh tree of `rev` at `dest`, or the tree an earlier call
    exported there for the same commit (kept with its own build).
    """
    commit = subprocess.run(["git", "-C", ROOT, "rev-parse", rev + "^{commit}"],
                            check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    stamp = os.path.join(dest, ".ab-commit")
    if os.path.isfile(stamp) and open(stamp).read() == commit:
        return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", commit],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    with open(stamp, "w") as f:
        f.write(commit)


def run_once(tree, workload, seed, seconds):
    """One untraced run: (end-to-end metrics, per-op detail) of `tree`."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"ab: run failed in {tree} (exit {p.returncode})")
    line = json.loads(lines[-1])
    detail_file = os.path.join(tree, "perfbench", "results",
                               f"{workload}-seed{seed}-untraced.json")
    with open(detail_file) as f:
        detail = json.load(f)
    metrics = {k: v["value"] for k, v in line["metrics"].items()}
    metrics["failed"] = line["failed"]
    return metrics, {k: detail.get(k) for k in ("op_ms", "op_cpu_ms", "op_host_steal_ticks")}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="git revision of the parent side")
    ap.add_argument("--head", required=True, help="git revision of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=11)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", help="write every run and the summary as JSON here")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    trees = {}
    for side, rev in (("base", a.base), ("head", a.head)):
        trees[side] = os.path.join(a.workdir, side)
        export(rev, trees[side])

    runs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side], pair[side + "_ops"] = run_once(trees[side], a.workload, seed, a.seconds)
            print(f"pair {i} seed {seed} {side}: " +
                  " ".join(f"{k}={v:.6g}" for k, v in sorted(pair[side].items())) +
                  f" op_ms={pair[side + '_ops']['op_ms']}"
                  f" op_cpu_ms={pair[side + '_ops']['op_cpu_ms']}", flush=True)
        runs.append(pair)

    summary = {}
    for m, direction in sorted(better.items()):
        b = [r["base"][m] for r in runs]
        h = [r["head"][m] for r in runs]
        wins = sum(1 for x, y in zip(b, h) if (y < x if direction == "lower" else y > x))
        (bq1, bmed, bq3), (hq1, hmed, hq3) = quartiles(b), quartiles(h)
        summary[m] = {"base": [bq1, bmed, bq3], "head": [hq1, hmed, hq3],
                      "head_wins": wins, "pairs": len(runs),
                      "gap_exceeds_base_iqr": abs(hmed - bmed) > (bq3 - bq1)}
        print(f"{m} ({direction} is better): base median {bmed:.6g} [q1 {bq1:.6g}, q3 {bq3:.6g}]"
              f"  head median {hmed:.6g} [q1 {hq1:.6g}, q3 {hq3:.6g}]"
              f"  head won {wins}/{len(runs)}"
              f"  |gap| {'>' if summary[m]['gap_exceeds_base_iqr'] else '<='} base IQR")
    failed = {s: sum(r[s]["failed"] for r in runs) for s in ("base", "head")}
    print(f"failed ops: base {failed['base']}, head {failed['head']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "summary": summary, "failed": failed}, f, indent=1)


if __name__ == "__main__":
    main()

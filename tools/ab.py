#!/usr/bin/env python3
"""Alternating A/B runs of the benchmark: a parent revision against the
working tree.

    python3 tools/ab.py --parent REV --workload W --pairs N [--seconds 6]

Run from the root of a checkout. REV's committed files are unpacked
(`git archive`) into a temporary directory under $TMPDIR, and
`perfbench/run.py --workload W --seed S --seconds SECONDS` then runs
alternately in that tree and in the working tree, seeds S = 1..N, the
parent first in odd pairs and the change first in even pairs. Each tree
builds into its own CARGO_TARGET_DIR inside the temporary directory,
which is removed on exit.

Prints, per run, the host CPU steal run.py reports and the failed count;
then, per end-to-end metric, the parent's and the change's median and
quartiles, the per-pair change/parent ratios, the number of pairs the
change wins (direction from BENCHMARK.json's `better`) and the verdict
against the metric's BENCHMARK.json `bound`:

- "within bound": the change's median is no worse than the parent's by
  more than the bound;
- "worse": it is worse by more than the bound;
- "unresolved": the parent's own interquartile spread is wider than the
  bound, so a move of that size cannot be told from noise, unless every
  run of the change reads better than every run of the parent.

Exits 1, naming the runs, when any run fails or reports failed
operations; the summary then covers the pairs whose runs completed.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

STEAL = re.compile(r"host steal ([0-9.]+)%")


def quartiles(xs):
    """(q1, median, q3) of `xs`; the value itself thrice for one sample."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(ps, cs, way, bound):
    """The change's runs `cs` against the parent's runs `ps` of one metric
    ("lower" or "higher" is better) with relative bound `bound`: "within
    bound", "worse" or "unresolved" (see the module doc)."""
    p1, pm, p3 = quartiles(ps)
    cm = quartiles(cs)[1]
    worse_by = (cm - pm) / pm if way == "lower" else (pm - cm) / pm
    all_better = max(cs) < min(ps) if way == "lower" else min(cs) > max(ps)
    if (p3 - p1) / pm > bound and not all_better:
        return "unresolved"
    return "worse" if worse_by > bound else "within bound"


def summarize(pairs, better, bounds=None):
    """Per metric of `better` ({name: "lower"|"higher"}): the parent's and
    the change's (q1, median, q3), the change/parent ratio of every pair
    and how many pairs the change wins; with `bounds` ({name: relative
    bound}), the verdict of each bounded metric. `pairs` is a list of
    (parent metrics, change metrics) dicts, name -> value."""
    bounds = bounds or {}
    out = {}
    for name, way in better.items():
        ps = [p[name] for p, c in pairs if name in p and name in c]
        cs = [c[name] for p, c in pairs if name in p and name in c]
        if not ps:
            continue
        wins = sum((c < p) if way == "lower" else (c > p) for p, c in zip(ps, cs))
        out[name] = {
            "parent": quartiles(ps),
            "change": quartiles(cs),
            "ratios": [c / p if p else float("nan") for p, c in zip(ps, cs)],
            "wins": wins,
            "pairs": len(ps),
        }
        if name in bounds:
            out[name]["verdict"] = verdict(ps, cs, way, bounds[name])
    return out


def run_failure(seed, side, metrics, failed):
    """Why run `side` of pair `seed` counts as failed, or None."""
    if metrics is None:
        return f"pair {seed} {side}: the run failed"
    if failed:
        return f"pair {seed} {side}: {failed} failed operations"
    return None


def run_once(tree, build_dir, workload, seed, seconds):
    """One run.py run: (metrics, failed, steal %, stderr tail)."""
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, stdin=subprocess.DEVNULL)
    m = STEAL.search(proc.stderr)
    steal = float(m.group(1)) if m else float("nan")
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, None, steal, proc.stderr[-2000:]
    res = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    return metrics, res["failed"], steal, ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    better = {m["name"]: m["better"] for m in end_to_end}
    bounds = {m["name"]: m["bound"] for m in end_to_end}
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        parent = os.path.join(tmp, "parent")
        os.makedirs(parent)
        archive = os.path.join(tmp, "parent.tar")
        subprocess.run(["git", "archive", "-o", archive, a.parent],
                       cwd=root, check=True)
        with tarfile.open(archive) as t:
            if hasattr(tarfile, "data_filter"):
                t.extractall(parent, filter="data")
            else:
                t.extractall(parent)
        os.remove(archive)
        trees = {"parent": (parent, os.path.join(tmp, "build-parent")),
                 "change": (root, os.path.join(tmp, "build-change"))}
        pairs = []
        failures = []
        for seed in range(1, a.pairs + 1):
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            got = {}
            for side in order:
                tree, build = trees[side]
                metrics, failed, steal, err = run_once(
                    tree, build, a.workload, seed, a.seconds)
                print(f"pair {seed} {side}: steal {steal:.1f} %, failed {failed}"
                      + (f", run failed: {err}" if metrics is None else ""),
                      flush=True)
                got[side] = metrics
                why = run_failure(seed, side, metrics, failed)
                if why:
                    failures.append(why)
            if got["parent"] is not None and got["change"] is not None:
                pairs.append((got["parent"], got["change"]))
        for name, s in summarize(pairs, better, bounds).items():
            p, c = s["parent"], s["change"]
            print(f"{name}: parent {p[1]:.4g} ({p[0]:.4g}/{p[2]:.4g}) -> change "
                  f"{c[1]:.4g} ({c[0]:.4g}/{c[2]:.4g}), "
                  f"{(c[1] / p[1] - 1) * 100 if p[1] else float('nan'):+.1f} %; "
                  f"change better in {s['wins']}/{s['pairs']}; ratios "
                  + " ".join(f"{r:.3f}" for r in s["ratios"])
                  + f"; {s['verdict']} (bound {bounds[name] * 100:g} %)")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if failures:
        print("FAILED runs:\n  " + "\n  ".join(failures), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()

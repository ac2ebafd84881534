#!/usr/bin/env python3
"""Alternating A/B runs of the benchmark: a parent revision against the
working tree.

    python3 tools/ab.py --parent REV --workload W --pairs N [--seconds 6] [--trace]

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

With --trace the pairs run `run.py --trace 1`, which reports the
per-layer metrics instead of the end-to-end ones; the summary then
covers every per-layer metric of BENCHMARK.json, with the same medians,
quartiles, ratios and wins and no verdict (those metrics have no
bound). It names the layer that moved, from the same pairs.

    python3 tools/ab.py --parent REV --lines q119_triangles,q160_bipartite_project \
        --sf /path/to/sf0.1 --reps 5

Same-window A/B of catalogue lines, which perfbench does not run. Each
tree is compiled once (`sbt compile`, which also prints its runtime
classpath and JVM options); then, REPS times, the parent's and the
change's `graft.Profile queries SF 4 LINES` run in fresh JVMs, the
parent first in odd reps. The first in-JVM pass warms the JVM and
builds the artifacts and is dropped; a rep's time for a line is the
minimum of the other three passes, as graft.Bench takes a minimum.
Prints each line's median and quartiles per side, the change/parent
ratio of every rep and the number of reps the change is faster; exits
1 when a run fails or misses a line.
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
PROF = re.compile(r"^\[prof\] (\S+): ((?:[0-9.]+ ?)+)$")
TIMED_PASSES = 3  # per JVM in --lines mode, after one warm-up pass


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


def run_command(workload, seed, seconds, trace):
    """The run.py command line of one run, traced or not."""
    return ([sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds)]
            + (["--trace", "1"] if trace else []))


def metric_lines(summary, bounds):
    """One line per metric of `summary` (see `summarize`): each side's
    median and quartiles, the change in per cent, the pairs the change
    wins, the per-pair ratios and, for a metric of `bounds`, the
    verdict."""
    out = []
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        line = (f"{name}: parent {p[1]:.4g} ({p[0]:.4g}/{p[2]:.4g}) -> change "
                f"{c[1]:.4g} ({c[0]:.4g}/{c[2]:.4g}), "
                f"{(c[1] / p[1] - 1) * 100 if p[1] else float('nan'):+.1f} %; "
                f"change better in {s['wins']}/{s['pairs']}; ratios "
                + " ".join(f"{r:.3f}" for r in s["ratios"]))
        if "verdict" in s:
            line += f"; {s['verdict']} (bound {bounds[name] * 100:g} %)"
        out.append(line)
    return out


def run_once(tree, build_dir, workload, seed, seconds, trace=False):
    """One run.py run: (metrics, failed, steal %, stderr tail)."""
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    proc = subprocess.run(
        run_command(workload, seed, seconds, trace),
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


def parse_prof(stdout):
    """{line: [seconds per in-JVM pass]} from `graft.Profile queries`
    output; its `[prof] artifact NAME: Ns` build-cost lines are skipped."""
    out = {}
    for ln in stdout.splitlines():
        m = PROF.match(ln.strip())
        if m:
            out[m.group(1)] = [float(t) for t in m.group(2).split()]
    return out


def parse_sbt_runtime(stdout):
    """(classpath, JVM options) from `sbt --batch compile "export
    Runtime/fullClasspath" "show javaOptions"` output."""
    cp = [ln for ln in stdout.splitlines()
          if ln.startswith("/") and "scala-2.13/classes" in ln]
    opts = [ln[len("[info] * "):] for ln in stdout.splitlines()
            if ln.startswith("[info] * ")]
    if not cp:
        raise RuntimeError("no runtime classpath in sbt output:\n" + stdout[-2000:])
    return cp[-1], opts


def unpack_parent(root, rev, tmp):
    """`git archive` of `rev` unpacked into tmp/parent; returns its path."""
    parent = os.path.join(tmp, "parent")
    os.makedirs(parent)
    archive = os.path.join(tmp, "parent.tar")
    subprocess.run(["git", "archive", "-o", archive, rev], cwd=root, check=True)
    with tarfile.open(archive) as t:
        if hasattr(tarfile, "data_filter"):
            t.extractall(parent, filter="data")
        else:
            t.extractall(parent)
    os.remove(archive)
    return parent


def lines_ab(a, root, tmp):
    """The --lines mode (see the module doc); returns the failed runs."""
    lines = [q for q in a.lines.split(",") if q]
    env = dict(os.environ, COURSIER_MODE="offline")
    runtime = {}
    for side, tree in (("parent", unpack_parent(root, a.parent, tmp)),
                       ("change", root)):
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath", "show javaOptions"],
            cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, stdin=subprocess.DEVNULL, check=True)
        runtime[side] = (tree, *parse_sbt_runtime(proc.stdout))
    pairs, failures = [], []
    for rep in range(1, a.reps + 1):
        order = ["parent", "change"] if rep % 2 else ["change", "parent"]
        got = {}
        for side in order:
            tree, cp, opts = runtime[side]
            proc = subprocess.run(
                ["java", *opts, "-cp", cp, "graft.Profile", "queries", a.sf,
                 str(1 + TIMED_PASSES), *lines],
                cwd=tree, env=env, stdout=subprocess.PIPE,
                stderr=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL)
            times = parse_prof(proc.stdout)
            missing = [q for q in lines
                       if len(times.get(q, [])) < 1 + TIMED_PASSES]
            if proc.returncode != 0 or missing:
                failures.append(f"rep {rep} {side}: exit {proc.returncode}, "
                                f"missing {missing}: {proc.stderr[-500:]}")
                continue
            got[side] = {q: min(times[q][1:]) for q in lines}
            print(f"rep {rep} {side}: " + " ".join(
                f"{q} {got[side][q]:.2f}" for q in lines), flush=True)
        if len(got) == 2:
            pairs.append((got["parent"], got["change"]))
    for q, s in summarize(pairs, {q: "lower" for q in lines}).items():
        p, c = s["parent"], s["change"]
        print(f"{q}: parent {p[1]:.2f} s (IQR {p[0]:.2f}-{p[2]:.2f}) -> change "
              f"{c[1]:.2f} s (IQR {c[0]:.2f}-{c[2]:.2f}), "
              f"{(c[1] / p[1] - 1) * 100:+.1f} %; change faster in "
              f"{s['wins']}/{s['pairs']}; ratios "
              + " ".join(f"{r:.3f}" for r in s["ratios"]))
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--lines", help="comma-separated catalogue lines")
    ap.add_argument("--sf", help="scale-factor data directory (--lines)")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--trace", action="store_true",
                    help="run the pairs traced and summarise the per-layer metrics")
    a = ap.parse_args()
    if a.lines and not a.sf:
        ap.error("--lines needs --sf")
    if not a.lines and (not a.workload or not a.pairs):
        ap.error("give --workload and --pairs, or --lines and --sf")

    root = os.getcwd()
    tmp = tempfile.mkdtemp(prefix="ab-")
    if a.lines:
        try:
            failures = lines_ab(a, root, tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        if failures:
            print("FAILED runs:\n  " + "\n  ".join(failures), file=sys.stderr)
            sys.exit(1)
        return
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics_spec = spec["per_layer" if a.trace else "end_to_end"]
    better = {m["name"]: m["better"] for m in metrics_spec}
    bounds = {m["name"]: m["bound"] for m in metrics_spec if "bound" in m}
    try:
        parent = unpack_parent(root, a.parent, tmp)
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
                    tree, build, a.workload, seed, a.seconds, a.trace)
                print(f"pair {seed} {side}: steal {steal:.1f} %, failed {failed}"
                      + (f", run failed: {err}" if metrics is None else ""),
                      flush=True)
                got[side] = metrics
                why = run_failure(seed, side, metrics, failed)
                if why:
                    failures.append(why)
            if got["parent"] is not None and got["change"] is not None:
                pairs.append((got["parent"], got["change"]))
        for line in metric_lines(summarize(pairs, better, bounds), bounds):
            print(line)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if failures:
        print("FAILED runs:\n  " + "\n  ".join(failures), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()

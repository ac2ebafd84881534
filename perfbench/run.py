#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
runner from source with sbt into $CARGO_TARGET_DIR (default
`.bench_build`); later runs reuse that build while the sources are
unchanged. Each run generates its inputs from the seed, starts one
Spark `local[N]` JVM (N = usable cores), sets up, runs whole passes of
the workload until `--seconds` have elapsed, checks every output, and
prints one JSON line: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1` (BENCHMARK.json lists both; layer_map.json says
which end-to-end metric each layer metric should move).
A traced run also writes its spans and its layer roll-up under the build
directory (`runs/<workload>-<seed>-trace1/`).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import rollup  # noqa: E402

# catalog_mix: a module-stratified subset of the sub-second tier of
# SparkEntry.queries (one line per operator module, plus the streaming
# lines q44/q46) at sf0.1, and iterative graph lines at sf0.02.
CATALOG_LIGHT = [
    "q02_filter_project", "q06_argmin_assign", "q09_dedup_exact", "q32_dbi",
    "q44_stream_assign", "q46_stream_dedup", "q99_retention", "q124_ewma",
]
GRAPH_LINES = ["q113_ppr", "q117_label_prop", "q130_graph_append"]
WORKLOADS = {
    "lloyd_blobs": {"points": 300_000, "dim": 16, "k": 16, "maxloop": 11},
    "catalog_mix": {"lines": [(n, 0.1) for n in CATALOG_LIGHT] +
                    [(n, 0.02) for n in GRAPH_LINES]},
}
DATA_SEED = 42          # the catalogue tables; the run seed orders the lines
SETUP_REPEATS = 3       # input generation is repeated, its median reported
# Parallel GC on a fixed heap: the heap high-water mark then follows the
# data the program keeps, not G1's adaptive region sizing, so peak RSS
# repeats from run to run
JVM_OPTS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g"]
DEADLINE_S = 160        # hard stop for the runner JVM, build excluded
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(busy, steal) jiffies of all CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def line_order(lines, seed):
    """The pass order of a catalogue workload: a seeded permutation."""
    order = list(lines)
    random.Random(seed).shuffle(order)
    return order


def source_digest(root):
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_dist():
    """The Spark distribution the engine compiles against: $SPARK_HOME, else
    the first directory on PATH holding `spark-submit` beside `../jars`."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and os.path.isdir(os.path.join(h, "jars")):
            return h
    fail("Spark jars not found (set SPARK_HOME)")


def build(root, build_dir):
    """Compile engine + runner with sbt unless the sources are unchanged;
    return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    spark_home = spark_dist()
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=build_dir,
               SPARK_HOME=spark_home)
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's scratch files (server socket, native libraries, JVM perf
    # data, the boot lock) inside the build directory
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-Dsbt.boot.lock=false",
            "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also the launcher's version probe
    env["TMPDIR"] = tmp
    log = os.path.join(build_dir, "sbt.log")
    with open(log, "w") as lf:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=lf, text=True, timeout=840, stdin=subprocess.DEVNULL)
    lf_tail = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lf_tail or ".jar" not in lf_tail[-1]:
        with open(log, "a") as lf:
            lf.write(proc.stdout)
        fail(f"build failed (see {log})")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lf_tail[-1]}, f)
    return lf_tail[-1]


def make_inputs(workload, seed, run_dir):
    """Generate the run's inputs SETUP_REPEATS times (each into a fresh
    directory). Return the runner arguments, the median generation
    seconds, the inputs' digest and each catalogue line's tables dir."""
    w = WORKLOADS[workload]
    times, digests = [], set()
    for i in range(SETUP_REPEATS):
        d = os.path.join(run_dir, f"inputs{i}")
        os.makedirs(d)
        t0 = time.perf_counter()
        if workload == "lloyd_blobs":
            paths = [os.path.join(d, "blobs.parquet"), os.path.join(d, "init.csv")]
            gen.gen_blobs(paths[0], w["points"], w["dim"], w["k"], seed)
        else:
            paths = []
            for sf in sorted({sf for _, sf in w["lines"]}):
                gen.gen_tables(os.path.join(d, f"sf{sf}"), sf, DATA_SEED)
                paths += [os.path.join(d, f"sf{sf}", f"{t}.parquet") for t in gen.TABLES]
        times.append(time.perf_counter() - t0)
        digests.add(gen.digest(paths))
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(d)
    if len(digests) != 1:
        fail("input generation is not deterministic")
    if workload == "lloyd_blobs":
        args = [f"blobs={paths[0]}", f"init={paths[1]}", f"k={w['k']}",
                f"maxloop={w['maxloop']}"]
        return args, statistics.median(times), digests.pop(), {}
    dirs = {n: os.path.join(d, f"sf{sf}") for n, sf in w["lines"]}
    order = line_order([n for n, _ in w["lines"]], seed)
    args = ["lines=" + ",".join(f"{n}@{dirs[n]}" for n in order)]
    return args, statistics.median(times), digests.pop(), dirs


def run_jvm(classpath, run_dir, args, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           JVM_OPTS + ["-XX:-UsePerfData", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "org.apache.spark.graftbench.Runner"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        t_launch = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        fail(f"runner failed (rc={rc}); see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    return result, t_launch


def check(workload, result, run_dir, line_dirs):
    """Names of lines whose output is wrong, with the reasons."""
    wrong = {}
    if workload == "lloyd_blobs":
        ll = result["lloyd"]
        if ll["rounds"] != ll["expected_rounds"]:
            wrong["rounds"] = f"{ll['rounds']} rounds, expected {ll['expected_rounds']}"
        if ll["dbi"] is None:
            wrong["dbi"] = "DBI is not finite"
        if not ll["max_centroid_err"] <= 1e-5:
            wrong["centroids"] = f"centroid off its members' mean by {ll['max_centroid_err']}"
        # any failed check taints every pipeline run
        return {"fit_label_dbi": "; ".join(wrong.values())} if wrong else {}
    for name, sql in sorted(result["oracle_sql"].items()):
        if name in result["warmup_errors"]:
            wrong[name] = result["warmup_errors"][name]
            continue
        why = oracle.compare(line_dirs[name], gen.TABLES,
                             os.path.join(run_dir, "check"), name, sql)
        if why:
            wrong[name] = why
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft missing)")
    if shutil.which("java") is None:
        fail("java not found")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)
    deadline = time.monotonic() + DEADLINE_S

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args, inputgen_s, digest, line_dirs = make_inputs(a.workload, a.seed, run_dir)
    ticks0 = cpu_ticks()
    result, t_launch = run_jvm(classpath, run_dir, [
        f"workload={a.workload}", f"out={run_dir}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"cpus={cpus()}"] + args, deadline)
    busy, steal = (t1 - t0 for t0, t1 in zip(ticks0, cpu_ticks()))

    wrong = check(a.workload, result, run_dir, line_dirs)
    for name, why in wrong.items():
        print(f"[perfbench] wrong output {name}: {why}", file=sys.stderr)
    ops = result["ops"]
    failed = rollup.count_failed(ops, set(wrong))
    setup = {
        "inputgen_s": inputgen_s,
        "session_s": result["session_ready_us"] / 1e6 - t_launch,
        "artifact_build_s": result["artifact_build_s"],
        "warmup_s": result["warmup_s"] - result["artifact_build_s"],
    }
    setup["setup_s"] = (inputgen_s + setup["session_s"] + result.get("load_s", 0.0) +
                        result["warmup_s"])
    if a.trace:
        metrics = rollup.per_layer(result, setup)
        write_trace(run_dir, a, digest, result, metrics)
    else:
        metrics = rollup.end_to_end(result, setup)
    if set(metrics) != set(units):
        fail(f"metrics {sorted(set(metrics) ^ set(units))} do not match BENCHMARK.json")
    lat = [(o["end_us"] - o["start_us"]) / 1e3 for o in ops]
    p90, tail = rollup.p90_ms(lat), rollup.tail_percentile(len(lat))
    print(f"[perfbench] {len(ops)} operations; op_p90_ms "
          f"{'%.3f' % p90 if p90 is not None else 'omitted (< 100 operations)'}; "
          + (f"tail p{tail:g} {rollup.percentile(lat, tail):.3f} ms (nearest rank, "
             f"the highest percentile with 10 samples beyond it); " if tail else "") +
          f"failed_frac {failed / max(1, len(ops))}; inputs sha256 {digest}; "
          f"set-up {json.dumps({k: round(v, 3) for k, v in setup.items()})}; "
          f"host steal {steal / max(1, busy + steal):.1%} of the runner's CPU time",
          file=sys.stderr)
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def write_trace(run_dir, a, digest, result, metrics):
    """Spans (one JSON object a line) and the layer roll-up of a traced run."""
    spans, _ = rollup.build_spans(result["records"], result["ops"])
    traced = [(p["end_us"] - p["start_us"]) / 1e6 for p in result["passes"] if p["traced"]]
    with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    with open(os.path.join(run_dir, "rollup.json"), "w") as f:
        json.dump({
            "workload": a.workload, "seed": a.seed, "input_sha256": digest,
            "traced_passes": len(traced),
            "traced_pass_wall_s": statistics.median(traced),
            "self_s_per_pass_by_layer": {
                k: v / len(traced)
                for k, v in sorted(rollup.layer_self_seconds(spans).items())},
            "artifact_build_s": result["artifact_builds"],
            "metrics": metrics,
        }, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()

"""Pure metric arithmetic for the benchmark: percentiles, interval unions,
span self time, failure counting and the per-layer roll-up of a traced
run's records. No I/O; `run.py` feeds it the runner's `result.json`."""
import bisect
import math
import statistics
from fractions import Fraction

# Fixed round counts of the iterative graph lines (their `iters` argument
# in SparkEntry.queries). q130 also writes and appends its graph table.
GRAPH_ROUNDS = {"q113_ppr": 10, "q117_label_prop": 5, "q130_graph_append": 10}

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p, n):
    """1-based nearest rank of percentile `p` among `n` samples."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def tail_percentile(n):
    """Highest candidate percentile with at least 10 samples beyond it."""
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sequence."""
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def p90_ms(latencies_ms):
    """`op_p90_ms`: only with at least 100 operations (10 beyond p90)."""
    if len(latencies_ms) < 100:
        return None
    return percentile(latencies_ms, 90.0)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped
    to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def count_failed(ops, wrong_names):
    """Operations that raised, plus every operation of a line whose
    checked output was wrong."""
    return sum(1 for o in ops if not o["ok"] or o["name"] in wrong_names)


def _dur(r):
    return r["end_us"] - r["start_us"]


def build_spans(records, ops):
    """Spans of the traced operations with parents assigned.

    Runner spans name their operation. Jobs and SQL executions carry
    their operation as job group when Spark propagated it; the rest go
    to the operation in flight at their start. A SQL execution's parent
    is the runner span (build, action, fit, ...) it started in; a job's
    parent is its SQL execution, else that runner span, else the op."""
    traced = sorted((o for o in ops if o["traced"]), key=lambda o: o["start_us"])
    starts = [o["start_us"] for o in traced]
    ids = {o["id"] for o in traced}

    def owner(r, t):
        if r.get("op") in ids:
            return r["op"]
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= traced[i]["end_us"]:
            return traced[i]["id"]
        return None

    spans = []
    inner = {}  # op -> runner child spans
    for r in records:
        if r["kind"] in ("op",):
            spans.append(dict(r, parent=None))
        elif "name" in r and r.get("op") in ids:
            s = dict(r, parent=r["op"])
            spans.append(s)
            inner.setdefault(r["op"], []).append(s)

    def container(op, t):
        for s in inner.get(op, ()):
            if s["start_us"] <= t <= s["end_us"]:
                return s
        return None

    sql_start = {r["exec"]: r for r in records if r["kind"] == "sql_start"}
    sql = {}
    for r in records:
        if r["kind"] != "sql_end" or r["exec"] not in sql_start:
            continue
        st = sql_start[r["exec"]]
        op = owner(st, st["time_us"])
        if op is None:
            continue
        c = container(op, st["time_us"])
        s = {"kind": "sql", "op": op, "exec": r["exec"],
             "start_us": st["time_us"], "end_us": r["time_us"],
             "parent": (c["kind"] + "@" + op) if c else op}
        sql[str(r["exec"])] = s
        spans.append(s)
    for r in records:
        if r["kind"] != "job":
            continue
        op = owner(r, r["start_us"])
        if op is None:
            continue
        s = dict(r, op=op)
        if r.get("sql_exec") in sql and sql[r["sql_exec"]]["op"] == op:
            s["parent"] = "sql#" + r["sql_exec"]
        else:
            c = container(op, r["start_us"])
            s["parent"] = (c["kind"] + "@" + op) if c else op
        spans.append(s)
    return spans, owner


def layer_self_seconds(spans):
    """Where the operations' wall time went, in seconds, as a partition:
    `job` is time covered by Spark jobs, `sql` time inside SQL executions
    outside jobs, each runner span kind (build, action, fit, ...) its time
    outside both, and `op` the rest of the operation."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], {}).setdefault(s["kind"], []).append(
            (s["start_us"], s["end_us"]))
    out = {}

    def add(kind, us):
        out[kind] = out.get(kind, 0.0) + us / 1e6

    for kinds in by_op.values():
        if "op" not in kinds:
            continue
        (lo, hi), = kinds["op"]
        jobs = kinds.get("job", [])
        engine = jobs + kinds.get("sql", [])
        covered = union_length(engine, lo, hi)
        add("job", union_length(jobs, lo, hi))
        add("sql", covered - union_length(jobs, lo, hi))
        calls = []
        for kind, iv in kinds.items():
            if kind not in ("op", "job", "sql"):
                calls += iv
                add(kind, union_length(iv + engine, lo, hi) - covered)
        add("op", (hi - lo) - union_length(calls + engine, lo, hi))
    return out


def per_layer(result, setup):
    """Every per-layer metric of a traced run, normalised per traced pass
    (counts, seconds, bytes) or per operation (`*_ms`)."""
    ops = result["ops"]
    records = result["records"]
    spans, owner = build_spans(records, ops)
    traced_ops = [o for o in ops if o["traced"]]
    n_pass = max(1, sum(1 for p in result["passes"] if p["traced"]))
    n_ops = max(1, len(traced_ops))
    op_span = {s["op"]: s for s in spans if s["kind"] == "op"}
    jobs = [s for s in spans if s["kind"] == "job"]
    by_kind = {}
    for s in spans:
        if s["kind"] not in ("op", "job", "sql"):
            by_kind.setdefault(s["kind"], []).append(s)

    def jsum(key):
        return sum(j.get(key, 0.0) for j in jobs)

    # QueryExecutionListener and streaming-progress records of the traced ops
    qes = [r for r in records if r["kind"] == "qe" and owner(r, r["time_us"])]
    batches = [r for r in records if r["kind"] == "batch" and owner(r, r["time_us"])]

    def rsum(rs, key):
        return sum(r[key] for r in rs)

    def op_max(key):
        return max([s.get(key, 0) for s in op_span.values()] or [0])

    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["op"], []).append((j["start_us"], j["end_us"]))
    busy = sum(union_length(iv) for iv in jobs_of.values()) / 1e6
    gap = sum(_dur(s) - union_length(jobs_of.get(op, []), s["start_us"], s["end_us"])
              for op, s in op_span.items()) / 1e6

    m = {
        "setup.session_s": setup["session_s"],
        "setup.inputgen_s": setup["inputgen_s"],
        "setup.artifact_build_s": setup["artifact_build_s"],
        "setup.warmup_s": setup["warmup_s"],
        "catalog.build_ms": sum(_dur(s) for s in by_kind.get("build", [])) / 1e3 / n_ops,
        "catalog.action_ms": sum(_dur(s) for s in by_kind.get("action", [])) / 1e3 / n_ops,
        "catalog.sql_actions": len(qes) / n_pass,
        "sql.analysis_ms": rsum(qes, "analysis_ms") / n_ops,
        "sql.optimization_ms": rsum(qes, "optimization_ms") / n_ops,
        "sql.planning_ms": rsum(qes, "planning_ms") / n_ops,
        "codegen.compiles": sum(s.get("codegen_compiles", 0) for s in op_span.values()) / n_pass,
        "sched.jobs": len(jobs) / n_pass,
        "sched.stages": jsum("stages_run") / n_pass,
        "sched.tasks": jsum("tasks") / n_pass,
        "sched.job_busy_s": busy / n_pass,
        "sched.driver_gap_s": gap / n_pass,
        "exec.task_run_s": jsum("task_run_ms") / 1e3 / n_pass,
        "exec.task_cpu_s": jsum("task_cpu_ns") / 1e9 / n_pass,
        "exec.gc_s": jsum("gc_ms") / 1e3 / n_pass,
        "exec.deser_s": jsum("deser_ms") / 1e3 / n_pass,
        "exec.spill_bytes": jsum("spill_bytes") / n_pass,
        "exec.peak_mem_mb": max([j.get("peak_mem_bytes", 0.0) for j in jobs] or [0.0]) / 2**20,
        "scan.bytes": jsum("scan_bytes") / n_pass,
        "scan.records": jsum("scan_records") / n_pass,
        "shuffle.write_bytes": jsum("shuffle_write_bytes") / n_pass,
        "shuffle.read_bytes": jsum("shuffle_read_bytes") / n_pass,
        "shuffle.fetch_wait_s": jsum("fetch_wait_ms") / 1e3 / n_pass,
        "driver.result_bytes": jsum("result_bytes") / n_pass,
        "cache.live_generations": op_max("cache_live"),
        "cache.persisted_rdds": op_max("cache_rdds"),
        "cache.mem_bytes": op_max("cache_mem_bytes"),
        "stream.batches": len(batches) / n_pass,
        "stream.plan_ms": rsum(batches, "plan_ms") / n_pass,
        "stream.wal_ms": rsum(batches, "wal_ms") / n_pass,
        "stream.add_batch_ms": rsum(batches, "add_batch_ms") / n_pass,
    }
    m.update(_kmeans(result, spans, by_kind, n_pass))
    m.update(_graph(traced_ops, jobs))
    walls = {t: [(p["end_us"] - p["start_us"]) / 1e6 for p in result["passes"]
                 if p["traced"] == t] for t in (False, True)}
    m["trace.overhead_ratio"] = statistics.median(walls[True]) / statistics.median(walls[False])
    return m


def _kmeans(result, spans, by_kind, n_pass):
    names = ("kmeans.fit_s", "kmeans.rounds", "kmeans.round_ms",
             "kmeans.fit_driver_self_s", "kmeans.ns_per_point_centroid",
             "kmeans.label_s", "kmeans.dbi_s", "kmeans.fit_rows_per_s")
    fits = by_kind.get("fit", [])
    if not fits:
        return {n: 0.0 for n in names}
    info = result["lloyd"]
    rounds = info["rounds"]
    fit_s = sum(_dur(s) for s in fits) / 1e6
    fit_jobs = [j for j in spans if j["kind"] == "job" and any(
        f["op"] == j["op"] and f["start_us"] <= j["start_us"] <= f["end_us"] for f in fits)]
    fit_self = sum(self_time(f["start_us"], f["end_us"],
                             [(j["start_us"], j["end_us"]) for j in fit_jobs
                              if j["op"] == f["op"]]) for f in fits) / 1e6
    task_ns = sum(j.get("task_run_ms", 0.0) for j in fit_jobs) * 1e6
    work = info["points"] * info["k"] * rounds * len(fits)
    return {
        "kmeans.fit_s": fit_s / n_pass,
        "kmeans.rounds": rounds,
        "kmeans.round_ms": fit_s * 1e3 / (rounds * len(fits)),
        "kmeans.fit_driver_self_s": fit_self / n_pass,
        "kmeans.ns_per_point_centroid": task_ns / work,
        "kmeans.label_s": sum(_dur(s) for s in by_kind.get("label", [])) / 1e6 / n_pass,
        "kmeans.dbi_s": sum(_dur(s) for s in by_kind.get("dbi", [])) / 1e6 / n_pass,
        "kmeans.fit_rows_per_s": info["points"] * rounds * len(fits) / fit_s,
    }


def _graph(traced_ops, jobs):
    """Jobs and shuffle bytes per round over the fixed-round graph lines."""
    graph_ops = {o["id"]: GRAPH_ROUNDS[o["name"]] for o in traced_ops
                 if o["name"] in GRAPH_ROUNDS}
    rounds = sum(graph_ops.values())
    if not rounds:
        return {"graph.jobs_per_round": 0.0, "graph.shuffle_bytes_per_round": 0.0}
    gj = [j for j in jobs if j["op"] in graph_ops]
    return {
        "graph.jobs_per_round": len(gj) / rounds,
        "graph.shuffle_bytes_per_round":
            sum(j.get("shuffle_write_bytes", 0.0) for j in gj) / rounds,
    }


def op_p50_ms(ops):
    """Median latency of one operation, in ms. A workload of several
    catalogue lines takes each line's median and combines the lines by
    geometric mean, so the figure does not jump between lines of very
    different cost when the median falls between them."""
    by_line = {}
    for o in ops:
        by_line.setdefault(o["name"], []).append((o["end_us"] - o["start_us"]) / 1e3)
    return math.exp(statistics.mean(
        math.log(statistics.median(v)) for v in by_line.values()))


def end_to_end(result, setup):
    """The untraced run's user-visible metrics."""
    walls = [(p["end_us"] - p["start_us"]) / 1e6 for p in result["passes"]]
    return {
        "setup_s": setup["setup_s"],
        "wall_s": statistics.median(walls),
        "op_p50_ms": op_p50_ms(result["ops"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }

"""Metric catalogue and the arithmetic that turns the harness record into
metrics. Pure functions over plain data, so the tests can drive them.

Every per-layer metric names the layer it measures, the end-to-end metric
it should move and the workloads on which it should move it; a change that
claims a gain on one layer can be checked against that prediction.
"""

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

WORKLOADS = ("emoji_census", "catalog_rw")

# end-to-end metrics, all measured with tracing off: name -> unit
END_TO_END = {"workload_s": "s", "setup_s": "s"}

EMOJI, CATALOG, BOTH = ("emoji_census",), ("catalog_rw",), WORKLOADS

# name -> (unit, layer, end-to-end metric it should move, workloads); the
# tracing rows describe the measurement itself and move nothing
PER_LAYER = {
    # on catalog_rw the writes run inside the builder call; on emoji_census
    # it is the schema-inference scan of every `spark.read.json`
    "build_s": ("s", "query builders", "workload_s", BOTH),
    "scan.input_bytes": ("bytes", "scan", "workload_s", EMOJI),
    "scan.read_amplification": ("ratio", "scan", "workload_s", EMOJI),
    "emoji.extract_s": ("s", "emoji", "workload_s", EMOJI),
    "task.run_s": ("s", "task", "workload_s", EMOJI),
    "task.cpu_s": ("s", "task", "workload_s", EMOJI),
    "task.gc_s": ("s", "task", "workload_s", EMOJI),
    "task.busy_frac": ("ratio", "task", "workload_s", EMOJI),
    "sql.actions": ("count", "scheduler", "workload_s", CATALOG),
    "scheduler.jobs": ("count", "scheduler", "workload_s", CATALOG),
    "scheduler.stages": ("count", "scheduler", "workload_s", CATALOG),
    "scheduler.tasks": ("count", "scheduler", "workload_s", CATALOG),
    "scheduler.outside_jobs_s": ("s", "scheduler", "workload_s", CATALOG),
    "catalyst.plan_s": ("s", "catalyst", "workload_s", CATALOG),
    "shuffle.write_bytes": ("bytes", "shuffle", "workload_s", EMOJI),
    "spill.bytes": ("bytes", "shuffle", "workload_s", EMOJI),
    "stream.triggers": ("count", "streaming", "workload_s", EMOJI),
    "stream.empty_trigger_frac": ("ratio", "streaming", "workload_s", EMOJI),
    "stream.trigger_s": ("s", "streaming", "workload_s", EMOJI),
    "stream.add_batch_s": ("s", "streaming", "workload_s", EMOJI),
    "stream.planning_s": ("s", "streaming", "workload_s", EMOJI),
    "stream.wal_commit_s": ("s", "streaming", "workload_s", EMOJI),
    "stream.state_rows": ("count", "streaming", "workload_s", EMOJI),
    "write.output_bytes": ("bytes", "sources", "workload_s", CATALOG),
    "write.output_files": ("count", "sources", "workload_s", CATALOG),
    "trace.overhead_frac": ("ratio", "tracing", None, BOTH),
    "trace.counts_repeat": ("ratio", "tracing", None, BOTH),
}

# better direction of each per-layer metric, as BENCHMARK.json states it
HIGHER_IS_BETTER = {"task.busy_frac", "trace.counts_repeat"}

# counts expected to repeat exactly between traced passes after warm-up
REPEATING = ("scheduler.jobs", "sql.actions", "stream.triggers",
             "scan.input_bytes", "shuffle.write_bytes")


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, end = 0.0, None
    for s, e in sorted(clipped):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def pass_layers(pass_id, queries, events, cores):
    """Per-layer values of one traced pass, and the per-query table.

    `queries` are the harness's per-query records of the pass; `events` the
    recorder's spans, jobs, triggers and per-label counters."""
    prefix = f"{pass_id}/"
    spans = {s["label"][len(prefix):]: s["ms"] for s in events["spans"]
             if s["label"].startswith(prefix)}
    per_query = {}
    for q in queries:
        name = q["name"]
        t0, tb, te, t1 = spans[name]
        labels = (f"{pass_id}/{name}/build", f"{pass_id}/{name}/execute")
        jobs = [j for j in events["jobs"] if j["label"] in labels and "end_ms" in j]
        trig = [t for t in events["triggers"] if t["label"] in labels]
        c = {}
        for label in labels:
            for k, v in events["counters"].get(label, {}).items():
                c[k] = c.get(k, 0.0) + v
        build = events["counters"].get(labels[0], {})
        dur = lambda key: sum(t["duration_ms"].get(key, 0.0) for t in trig) / 1000
        per_query[name] = {
            "wall_s": (t1 - t0) / 1000,
            "build_s": (tb - t0) / 1000,
            "execute_s": (t1 - te) / 1000,
            "harness_self_s": self_time((t0, t1), [(t0, tb), (te, t1)]) / 1000,
            "scan.input_bytes": c.get("input_bytes", 0.0),
            "task.run_s": c.get("task_run_ms", 0.0) / 1000,
            "task.cpu_s": c.get("task_cpu_ms", 0.0) / 1000,
            "task.gc_s": c.get("task_gc_ms", 0.0) / 1000,
            "sql.actions": c.get("sql_actions", 0.0),
            "scheduler.jobs": float(len(jobs)),
            "scheduler.stages": c.get("stages", 0.0),
            "scheduler.tasks": c.get("tasks", 0.0),
            "scheduler.outside_jobs_s": self_time(
                (t0, t1), [(j["start_ms"], j["end_ms"]) for j in jobs]) / 1000,
            "catalyst.plan_s": c.get("plan_ms", 0.0) / 1000,
            "shuffle.write_bytes": c.get("shuffle_write_bytes", 0.0),
            "spill.bytes": c.get("spill_bytes", 0.0),
            "stream.triggers": float(len(trig)),
            "stream.empty_triggers": float(sum(1 for t in trig if t["input_rows"] == 0)),
            "stream.trigger_s": dur("triggerExecution"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.planning_s": dur("queryPlanning"),
            "stream.wal_commit_s": dur("walCommit"),
            "stream.state_rows": max((t["state_rows"] for t in trig), default=0.0),
            # the sink of the timed call is `noop`; writes the program
            # makes itself happen while the builder runs
            "write.output_bytes": build.get("output_bytes", 0.0),
            "write.output_files": build.get("output_files", 0.0),
        }
    total = lambda k: sum(q[k] for q in per_query.values())
    wall = total("wall_s")
    triggers = total("stream.triggers")
    layers = {k: total(k) for k in (
        "build_s", "scan.input_bytes", "task.run_s", "task.cpu_s", "task.gc_s",
        "sql.actions", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "scheduler.outside_jobs_s", "catalyst.plan_s", "shuffle.write_bytes",
        "spill.bytes", "stream.triggers", "stream.trigger_s", "stream.add_batch_s",
        "stream.planning_s", "stream.wal_commit_s", "stream.state_rows",
        "write.output_bytes", "write.output_files")}
    layers["task.busy_frac"] = layers["task.run_s"] / (wall * cores) if wall else 0.0
    layers["stream.empty_trigger_frac"] = (
        total("stream.empty_triggers") / triggers if triggers else 0.0)
    return layers, per_query


def per_layer(record, input_bytes):
    """Per-layer metrics of a traced run: the median over its traced passes,
    plus the tracing overhead and whether the counts repeated."""
    cores = record["cores"]
    passes = [pass_layers(p["id"], p["queries"], record["events"], cores)
              for p in record["traced_passes"]]
    layers = [p[0] for p in passes]
    out = {k: statistics.median(l[k] for l in layers) for k in layers[0]}
    # per query: every query of a workload reads all of its input
    queries = len(record["traced_passes"][0]["queries"])
    out["scan.read_amplification"] = (
        out["scan.input_bytes"] / (input_bytes * queries) if input_bytes else 0.0)
    out["emoji.extract_s"] = record.get("emoji_extract_ms", 0.0) / 1000
    traced = statistics.median(p["wall_ms"] for p in record["traced_passes"])
    untraced = statistics.median(p["wall_ms"] for p in record["paired_passes"])
    out["trace.overhead_frac"] = traced / untraced - 1
    out["trace.counts_repeat"] = sum(
        all(l[k] == layers[0][k] for l in layers) for k in REPEATING) / len(REPEATING)
    return out, passes


def workload_s(passes):
    """One pass over the workload: the sum over its queries of each query's
    median time over the timed passes after the first, which still carries
    JIT compilation. A slow spell of the host that covers fewer than half
    of those passes does not move a query's median."""
    counted = passes[1:] or passes
    names = [q["name"] for q in counted[0]["queries"]]
    times = {n: [] for n in names}
    for p in counted:
        for q in p["queries"]:
            times[q["name"]].append(q["wall_ms"])
    return sum(statistics.median(times[n]) for n in names) / 1000


def end_to_end(record):
    """End-to-end metrics of a run, all from untraced work."""
    return {
        "workload_s": workload_s(record["passes"]),
        "setup_s": record["setup_ms"] / 1000,
    }

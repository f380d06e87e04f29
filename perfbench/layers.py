"""Per-layer metrics of a traced run, from the JVM's per-operation
listener counters, its spans and the streaming progress records.

Unless a metric says otherwise it is a mean per operation of the run.
A layer the workload never enters reads 0 (see README.md for which
layer should move which end-to-end metric on which workload).
"""
import collections
import statistics

# The `per_layer` list of BENCHMARK.json, reported for every workload.
UNITS = [
    ("catalog.register_ms", "ms"), ("catalog.resolutions", "count"),
    ("catalog.resolve_ms", "ms"), ("api.parse_ms", "ms"),
    ("api.analyze_ms", "ms"), ("planner.optimize_ms", "ms"),
    ("planner.physical_ms", "ms"), ("planner.rule_ms", "ms"),
    ("planner.resolve_data_source_ms", "ms"), ("rules.ra_ms", "ms"),
    ("rules.ra_effective", "count"), ("queries.prelude_ms", "ms"),
    ("queries.prelude_jobs", "count"), ("exec.wall_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.sched_gap_ms", "ms"),
    ("exec.task_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.core_util", "ratio"),
    ("ops.build_ms", "ms"), ("ops.save_ms", "ms"),
    ("ops.saved_files", "count"), ("ops.load_ms", "ms"),
    ("ops.probe_ms", "ms"), ("ops.stored_mb", "MB"),
    ("stream.batches", "count"), ("stream.rows_per_s", "1/s"),
    ("stream.get_batch_ms", "ms"), ("stream.planning_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_mem_mb", "MB"),
    ("stream.late_dropped", "count"),
]


# Listener counters the JVM attributes to each operation, averaged here.
_PER_OP = ["catalog.resolutions", "catalog.resolve_ms", "planner.optimize_ms",
           "planner.physical_ms", "planner.rule_ms",
           "planner.resolve_data_source_ms", "rules.ra_ms",
           "rules.ra_effective", "exec.jobs", "exec.stages", "exec.tasks",
           "exec.sched_gap_ms", "exec.task_ms", "exec.task_cpu_ms",
           "exec.gc_ms", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
           "exec.spill_mb"]


def _mean(xs):
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _span_ms(spans):
    """{op: {span name: summed ms}}."""
    out = collections.defaultdict(lambda: collections.defaultdict(float))
    for s in spans:
        out[s["op"]][s["name"]] += (s["t1"] - s["t0"]) / 1e6
    return out


def per_layer(res, spans):
    ops = res["ops"]
    lay = res["layers"]
    by_op = _span_ms(spans)
    m = {k: _mean(lay[str(o["id"])][k] for o in ops) for k in _PER_OP}
    m["exec.wall_ms"] = _mean(o["ms"] for o in ops)
    task = sum(lay[str(o["id"])]["exec.task_ms"] for o in ops)
    m["exec.core_util"] = task / (sum(o["ms"] for o in ops)
                                  * res["context"]["default_parallelism"])
    m["catalog.register_ms"] = _mean((s["t1"] - s["t0"]) / 1e6 for s in spans
                                     if s["name"] == "catalog.register")
    for name in ("api.parse", "api.analyze"):
        m[f"{name}_ms"] = _mean(v[name] for v in by_op.values() if name in v)
    calls = [(o, by_op[o["id"]]["queries.call"]) for o in ops
             if "queries.call" in by_op.get(o["id"], {})]
    m["queries.prelude_ms"] = _mean(
        max(0.0, ms - lay[str(o["id"])]["catalog.resolve_ms"])
        for o, ms in calls)
    m["queries.prelude_jobs"] = _mean(lay[str(o["id"])]["call_jobs"]
                                      for o, _ in calls)

    ex = res["extra"]
    for step in ("build", "save", "load", "probe"):
        m[f"ops.{step}_ms"] = _mean(o["ms"] for o in ops
                                    if o["kind"].startswith(step + "_"))
    m["ops.saved_files"] = _mean(ex.get("saved_files_per_cycle", []))
    m["ops.stored_mb"] = _mean(b / 1048576
                               for b in ex.get("stored_bytes_per_cycle", []))

    batches = ex.get("batches", [])
    m["stream.batches"] = len(batches) / ex["drains"] if batches else 0.0
    m["stream.rows_per_s"] = (ex["input_rows"] / ex["drain_s"]
                              if batches else 0.0)
    for k in ("get_batch_ms", "planning_ms", "add_batch_ms", "wal_commit_ms",
              "state_rows", "late_dropped"):
        m[f"stream.{k}"] = _mean(b[k] for b in batches)
    m["stream.state_mem_mb"] = _mean(b["state_mem_bytes"] / 1048576
                                     for b in batches)
    return {k: float(m[k]) for k, _ in UNITS}


def self_times(spans):
    """{span name: count, total ms, self ms}: self time is a span's
    duration minus the part of it its child spans cover."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = collections.defaultdict(lambda: {"count": 0, "total_ms": 0.0,
                                           "self_ms": 0.0})
    for s in spans:
        covered, end = 0, s["t0"]
        for c in sorted((c for c in kids.get(s["id"], []) if c["op"] == s["op"]),
                        key=lambda c: c["t0"]):
            a, b = max(c["t0"], end), min(c["t1"], s["t1"])
            if b > a:
                covered += b - a
                end = b
        r = out[s["name"]]
        r["count"] += 1
        r["total_ms"] += (s["t1"] - s["t0"]) / 1e6
        r["self_ms"] += (s["t1"] - s["t0"] - covered) / 1e6
    return dict(out)

"""The benchmark's metric math: from one run's raw result (the JVM's result
file plus the inputs' generation times, none for dataflow, whose tables
are read as they are) to its end-to-end and per-layer metrics. Pure
functions; `self_check` tests them on synthetic results.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
WORKLOADS = ("dataflow", "retrieval_serve")
DATAFLOW_MODULES = ("ops", "agg", "apps", "sources", "queries")
KERNELS = ("vec_dot", "i8_dot", "minhash_sigs", "hash60",
           "nearest_cells_sharded")

# Every metric the benchmark can report: name -> (unit, workloads it
# applies to). A metric that does not apply to a workload is not reported
# for it. BENCHMARK.json declares the subset every workload reports.
ALL = WORKLOADS
SERVE = ("retrieval_serve",)
END_TO_END = {
    "setup_s": ("s", ALL),
    "op_p50_s": ("s", ALL),
    "op_p90_s": ("s", ALL),
    "ops_per_s": ("ops/s", ALL),
    "op_p50_wall_s": ("s", ALL),
    "op_p90_wall_s": ("s", ALL),
    "ops_per_s_wall": ("ops/s", ALL),
    "steal_frac": ("ratio", ALL),
    "cpu_s_per_op": ("s", ALL),
    "failed_frac": ("ratio", ALL),
    "recall_at_10": ("ratio", SERVE),
}
PER_LAYER = {
    "queries.construct_s": ("s", ALL),
    "queries.construct_jobs": ("count", ALL),
    "spark.action_s": ("s", ALL),
    "spark.jobs": ("count", ALL),
    "spark.stages": ("count", ALL),
    "spark.tasks": ("count", ALL),
    "spark.task_wait_s": ("s", ALL),
    "spark.empty_task_frac": ("ratio", ALL),
    "spark.executor_cpu_s": ("s", ALL),
    "spark.executor_run_s": ("s", ALL),
    "spark.shuffle_read_bytes": ("bytes", ALL),
    "spark.shuffle_write_bytes": ("bytes", ALL),
    "spark.spill_bytes": ("bytes", ALL),
    "spark.gc_s": ("s", ALL),
    "spark.failed_tasks": ("count", ALL),
    "pipeline.adc_probe_s": ("s", SERVE),
    "pipeline.bm25_probe_s": ("s", SERVE),
    "pipeline.bytes_written": ("bytes", ALL),
    "pipeline.index_build_s": ("s", SERVE),
    "pipeline.tune_s": ("s", SERVE),
    "sources.sidecar_read_s": ("s", SERVE),
    "sources.sidecar_rows": ("count", SERVE),
    "sources.input_gen_s": ("s", SERVE),
    "jvm.heap_peak_mb": ("MiB", ALL),
    "jvm.gc_s": ("s", ALL),
    "box.steal_s": ("s", ALL),
    "box.load1_max": ("load", ALL),
}
PER_LAYER.update({f"functions.{k}.ns_per_row": ("ns", ALL)
                  for k in KERNELS})
PER_LAYER.update({f"{m}.op_s": ("s", ("dataflow",))
                  for m in DATAFLOW_MODULES})
PER_LAYER["pipeline.op_s"] = ("s", SERVE)


def applies(table, workload):
    return {n: u for n, (u, ws) in table.items() if workload in ws}


def percentile(values, p):
    """The p-th percentile by linear interpolation between the closest
    ranks (numpy's default rule): with few samples from two op kinds it
    does not jump between the kinds the way a nearest-rank pick does.
    Returns (value, samples above it)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    h = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(h), math.ceil(h)
    v = xs[lo] + (h - lo) * (xs[hi] - xs[lo])
    return v, sum(1 for x in xs if x > v)


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def unstolen_s(op):
    """The op's wall time less the share the host took: wall x run / (run +
    stolen), from the box's CPU-seconds run and stolen over the op. A vCPU
    accrues steal only while it has work to run, so with steal spread
    evenly over the op's busy time this is the wall time the op would have
    taken undisturbed. It equals the wall time when nothing was stolen."""
    busy, steal = op.get("box_busy_s", -1), op.get("box_steal_s", -1)
    if busy > 0 and steal > 0:
        return op["s"] * busy / (busy + steal)
    return op["s"]


def end_to_end(res, gen_s):
    """End-to-end metrics of one run, plus the sample counts behind the
    percentiles. `res` is the JVM result with failures already marked."""
    ops = res["ops"]
    attempted = len(ops)
    done = [o for o in ops if o["error"] is None]
    lat = [unstolen_s(o) for o in done]
    wall = [o["s"] for o in done]
    m, counts = {}, {}
    m["setup_s"] = (statistics.median(gen_s or [0.0])
                    + (res["session_ready_epoch_ms"]
                       - res["launch_epoch_ms"]) / 1000.0
                    + statistics.median(res["setup_reps_s"])
                    + res["setup_once_s"])
    if lat:
        m["op_p50_s"], beyond50 = percentile(lat, 50)
        m["op_p90_s"], beyond90 = percentile(lat, 90)
        counts = {"op_p50_s": (len(lat), beyond50),
                  "op_p90_s": (len(lat), beyond90)}
        m["ops_per_s"] = len(done) / sum(unstolen_s(o) for o in ops)
        m["op_p50_wall_s"] = percentile(wall, 50)[0]
        m["op_p90_wall_s"] = percentile(wall, 90)[0]
        m["ops_per_s_wall"] = len(done) / res["timed_s"]
        m["cpu_s_per_op"] = sum(o["cpu_s"] for o in ops) / len(done)
    busy = sum(max(0.0, o.get("box_busy_s", 0.0)) for o in ops)
    steal = sum(max(0.0, o.get("box_steal_s", 0.0)) for o in ops)
    m["steal_frac"] = steal / (busy + steal) if busy + steal > 0 else 0.0
    m["failed_frac"] = (attempted - len(done)) / attempted
    if res["workload"] == "retrieval_serve" and \
            res.get("recall_at_10") is not None:
        m["recall_at_10"] = res["recall_at_10"]
    return m, counts


def per_layer(res, gen_s):
    """Per-layer metrics of a traced run. Times and counts of the timed ops
    are per op; pipeline call times are per call; set-up times are per
    set-up repetition."""
    wl = res["workload"]
    ops = res["ops"]
    n_ops = max(1, len(ops))
    spans = res["spans"]
    timed = [s for s in spans if s["op"] > 0]
    m = {}

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def per_call(name, pool=timed):
        xs = [dur(s) for s in pool if s["name"] == name]
        return sum(xs) / len(xs) if xs else 0.0

    def total(key, pool=timed, name=None):
        return sum(s.get(key, 0) for s in pool
                   if name is None or s["name"] == name)

    m["queries.construct_s"] = sum(
        dur(s) for s in timed if s["name"] == "queries.construct") / n_ops
    m["queries.construct_jobs"] = total("jobs", name="queries.construct") \
        / n_ops
    by_op = {}
    for s in timed:
        by_op.setdefault(s["op"], []).extend(s.get("job_ms", []))
    m["spark.action_s"] = sum(_union_ms(v) for v in by_op.values()) \
        / 1000.0 / n_ops
    for name, key, scale in (
            ("spark.jobs", "jobs", 1), ("spark.stages", "stages", 1),
            ("spark.tasks", "tasks", 1),
            ("spark.task_wait_s", "wait_ms", 1e-3),
            ("spark.executor_cpu_s", "cpu_ns", 1e-9),
            ("spark.executor_run_s", "run_ms", 1e-3),
            ("spark.shuffle_read_bytes", "shuffle_read", 1),
            ("spark.shuffle_write_bytes", "shuffle_write", 1),
            ("spark.spill_bytes", "spill", 1), ("spark.gc_s", "gc_ms", 1e-3),
            ("spark.failed_tasks", "failed_tasks", 1),
            ("pipeline.bytes_written", "bytes_out", 1)):
        m[name] = total(key) * scale / n_ops
    tasks = total("tasks")
    m["spark.empty_task_frac"] = total("empty_tasks") / tasks if tasks else 0.0
    if wl == "retrieval_serve":
        m["pipeline.adc_probe_s"] = per_call("pipeline.adc_probe")
        m["pipeline.bm25_probe_s"] = per_call("pipeline.bm25_probe")
        setup_spans = [s for s in spans if s["op"] == 0]
        m["pipeline.index_build_s"] = sum(
            dur(s) for s in setup_spans
            if s["name"] == "pipeline.index_build") / len(res["setup_reps_s"])
        m["pipeline.tune_s"] = per_call("pipeline.tune", setup_spans)
        m["sources.sidecar_read_s"] = per_call("sources.sidecar_read",
                                               setup_spans)
        m["sources.sidecar_rows"] = statistics.mean(res["sidecar_rows"] or [0])
        m["sources.input_gen_s"] = statistics.median(gen_s)
    m["jvm.heap_peak_mb"] = res["jvm_heap_peak_mb"]
    m["jvm.gc_s"] = sum(o["gc_s"] for o in ops) / n_ops
    m["box.steal_s"] = res["box_steal_s"]
    m["box.load1_max"] = res["box_load1_max"]
    for k in res["kernels"]:
        m[f"functions.{k['name']}.ns_per_row"] = k["ns_per_row"]
    if wl == "dataflow":
        passes = res["passes"]
        for mod in DATAFLOW_MODULES:
            m[f"{mod}.op_s"] = sum(o["s"] for o in ops
                                   if o["module"] == mod) / passes
    else:
        m["pipeline.op_s"] = sum(o["s"] for o in ops) / n_ops
    return m


def self_times(res):
    """Self time per span name over the timed ops, per op: each span's
    duration minus the part its child spans cover (children of one span
    run one after another on the client thread, so they do not overlap)."""
    timed = [s for s in res["spans"] if s["op"] > 0]
    child = {}
    for s in timed:
        child[s["parent"]] = child.get(s["parent"], 0) + \
            s["end_ns"] - s["start_ns"]
    out = {}
    for s in timed:
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[s["name"]] = out.get(s["name"], 0) + own / 1e9
    n_ops = max(1, len(res["ops"]))
    return {k: v / n_ops for k, v in sorted(out.items())}


# ------------------------------------------------------------- self-checks

def _synthetic(workload, errors):
    """A result shaped like the JVM's, with `errors` failed ops among 4."""
    ops = [{"n": i + 1, "kind": "k", "s": 0.1 * (i + 1), "cpu_s": 0.2,
            "gc_s": 0.01,
            "module": "queries" if workload == "dataflow" else "pipeline",
            "error": "boom" if i < errors else None} for i in range(4)]
    span = {"id": 1, "name": "queries.construct", "parent": 0, "op": 1,
            "start_ns": 0, "end_ns": 10 ** 8, "jobs": 1, "stages": 1,
            "tasks": 2, "empty_tasks": 1, "failed_tasks": 0, "cpu_ns": 10,
            "run_ms": 1, "gc_ms": 0, "wait_ms": 1, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "bytes_out": 0,
            "job_ms": [[0, 5], [3, 8], [10, 11]]}
    return {"workload": workload, "ops": ops, "timed_s": 1.0,
            "session_ready_epoch_ms": 2000, "launch_epoch_ms": 1000,
            "setup_reps_s": [3.0, 1.0, 2.0], "setup_once_s": 0.25,
            "recall_at_10": 0.9, "passes": 1, "sidecar_rows": [4],
            "jvm_heap_peak_mb": 1.0, "box_steal_s": 0.0,
            "box_load1_max": 1.0, "spans": [span],
            "kernels": [{"name": k, "ns_per_row": 1.0} for k in KERNELS]}


def self_check(declared_e2e, declared_layer):
    """Checks of the metric math and of the declared metric sets; raises
    AssertionError on the first failure."""
    # linearly interpolated percentiles, with the samples above each
    xs = list(range(1, 101))
    assert percentile(xs, 50) == (50.5, 50)
    assert abs(percentile(xs, 90)[0] - 90.1) < 1e-9
    assert percentile(xs, 90)[1] == 10
    assert percentile([7.0], 90) == (7.0, 0)
    assert percentile([3, 1, 2], 50) == (2, 1)
    assert percentile([1, 2, 3, 4], 50) == (2.5, 2)
    assert _union_ms([[0, 5], [3, 8], [10, 11]]) == 9
    # stolen time comes off in proportion; none stolen or none read: wall
    assert unstolen_s({"s": 2.0, "box_busy_s": 3.0, "box_steal_s": 1.0}) \
        == 1.5
    assert unstolen_s({"s": 2.0, "box_busy_s": 3.0, "box_steal_s": 0.0}) \
        == 2.0
    assert unstolen_s({"s": 2.0, "box_busy_s": -1, "box_steal_s": -1}) == 2.0
    names = list(END_TO_END) + list(PER_LAYER) + declared_e2e + declared_layer
    bad = [n for n in names if not NAME_RE.match(n)]
    assert not bad, f"bad metric names {bad}"
    for wl in WORKLOADS:
        e2e, counts = end_to_end(_synthetic(wl, 1), [0.5, 0.25, 1.0])
        assert set(e2e) == set(applies(END_TO_END, wl)), (wl, sorted(e2e))
        assert set(declared_e2e) <= set(e2e), (wl, declared_e2e)
        # failed_frac counts attempted ops: 1 failed of 4 attempted
        assert e2e["failed_frac"] == 0.25, e2e["failed_frac"]
        # 3 completed ops (0.2, 0.3, 0.4 s): median 0.3, one above it
        assert counts["op_p50_s"] == (3, 1), counts
        assert abs(e2e["setup_s"] - (0.5 + 1.0 + 2.0 + 0.25)) < 1e-12
        assert abs(e2e["cpu_s_per_op"] - 0.8 / 3) < 1e-12
        assert e2e["op_p50_s"] == e2e["op_p50_wall_s"]
        assert abs(e2e["op_p50_s"] - 0.3) < 1e-12
        assert e2e["steal_frac"] == 0.0
        # a quarter of the box's CPU stolen over every op
        stolen = _synthetic(wl, 0)
        for o in stolen["ops"]:
            o["box_busy_s"], o["box_steal_s"] = 3.0, 1.0
        e2s = end_to_end(stolen, [])[0]
        assert abs(e2s["op_p50_s"] - 0.75 * e2s["op_p50_wall_s"]) < 1e-12
        assert abs(e2s["ops_per_s"] * 0.75 - e2s["ops_per_s_wall"]) < 1e-12
        assert e2s["steal_frac"] == 0.25
        if wl == "dataflow":
            # no generated inputs: set-up is launch + median rep + once
            assert abs(end_to_end(_synthetic(wl, 0), [])[0]["setup_s"]
                       - (1.0 + 2.0 + 0.25)) < 1e-12
        layer = per_layer(_synthetic(wl, 0), [0.5])
        assert set(layer) == set(applies(PER_LAYER, wl)), \
            (wl, sorted(set(applies(PER_LAYER, wl)) ^ set(layer)))
        assert set(declared_layer) <= set(layer), (wl, declared_layer)
        assert abs(layer["spark.action_s"] - 0.009 / 4) < 1e-12
    # self time: a 10 s parent with children of 3 s and 4 s keeps 3 s
    nested = {"ops": [{}], "spans": [
        {"id": 1, "name": "op", "parent": 0, "op": 1, "start_ns": 0,
         "end_ns": 10 * 10 ** 9},
        {"id": 2, "name": "a", "parent": 1, "op": 1, "start_ns": 0,
         "end_ns": 3 * 10 ** 9},
        {"id": 3, "name": "a", "parent": 1, "op": 1, "start_ns": 5 * 10 ** 9,
         "end_ns": 9 * 10 ** 9}]}
    assert self_times(nested) == {"a": 7.0, "op": 3.0}, self_times(nested)
    for n in declared_e2e:
        assert n in END_TO_END, n
    for n in declared_layer:
        assert n in PER_LAYER, n

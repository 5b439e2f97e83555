"""Pure functions that turn a run record into metrics.

A run record is the JSON the JVM side (`graft.perfbench.PerfMain`) writes:
spans from the benchmark's own calls into the engine, and, in a traced run,
the raw job, task and streaming-progress events Spark posted on its
context bus. Times are epoch milliseconds.
"""
import math
import statistics

# Task columns, as BusRecorder.onTaskEnd writes them.
(T_FINISH, T_RUN, T_CPU, T_DESER, T_GC, T_SHUF_W, T_SHUF_R, T_FETCH_WAIT,
 T_SPILL, T_IN_BYTES, T_IN_RECORDS) = range(11)

MB = 1e6


class TooFewSamples(ValueError):
    """A percentile was asked of fewer samples than it needs."""


def percentile(values, q, beyond=10):
    """Nearest-rank percentile `q` (0 < q < 1) of `values`, with the count
    of samples above it. It is only reported when at least `beyond`
    samples lie above it, so a p90 needs 100 samples and a p99 1000.

    Returns (value, n, n_beyond)."""
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(q * n))
    if n - rank < beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it, "
            f"needs {beyond}")
    return xs[rank - 1], n, n - rank


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if e > start and s < end]


def self_times(spans):
    """Self time of each span id: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans}


def dur_s(span):
    return (span["end"] - span["start"]) / 1e3


def median(xs):
    return statistics.median(xs) if xs else 0.0


def within(t, windows):
    return any(s <= t <= e for s, e in windows)


def tasks_in(tasks, windows):
    return [t for t in tasks if within(t[T_FINISH], windows)]


def jobs_in(jobs, windows):
    return [j for j in jobs if within(j["start"], windows)]


def executor_metrics(tasks, jobs, cores, per=1.0):
    """Executor, shuffle and source counters of a set of tasks, and the
    scheduler counts of a set of jobs, each divided by `per`."""
    def tot(col):
        return sum(t[col] for t in tasks) / per
    job_span = union_length([(j["start"], j["end"]) for j in jobs]) / 1e3
    run = sum(t[T_RUN] for t in tasks)
    return {
        "scheduler.jobs": len(jobs) / per,
        "scheduler.stages": sum(j["stages"] for j in jobs) / per,
        "scheduler.tasks": len(tasks) / per,
        "executor.task_run_s": tot(T_RUN),
        "executor.task_cpu_s": tot(T_CPU),
        "executor.deser_s": tot(T_DESER),
        "executor.gc_s": tot(T_GC),
        "executor.slot_busy_frac":
            run / (job_span * cores) if job_span > 0 else 0.0,
        "shuffle.write_mb": tot(T_SHUF_W) / MB,
        "shuffle.read_mb": tot(T_SHUF_R) / MB,
        "shuffle.fetch_wait_s": tot(T_FETCH_WAIT),
        "shuffle.spill_mb": tot(T_SPILL) / MB,
        "sources.read_mb": tot(T_IN_BYTES) / MB,
        "sources.records_read": tot(T_IN_RECORDS),
    }


def action_split(actions, jobs):
    """Split action wall time into the time before its first job
    (analysis, optimisation, planning, codegen), the union of its job
    spans, and the driver gap that is neither. Seconds, summed."""
    wall = pre = gap = 0.0
    for a in actions:
        inside = clip([(j["start"], j["end"]) for j in jobs
                       if a["start"] <= j["start"] <= a["end"]],
                      a["start"], a["end"])
        w = a["end"] - a["start"]
        first = min((s for s, _ in inside), default=a["end"])
        wall += w
        pre += first - a["start"]
        gap += w - (first - a["start"]) - union_length(inside)
    return wall / 1e3, pre / 1e3, gap / 1e3


def by_kind(spans, kind):
    return [s for s in spans if s["kind"] == kind]


def children_of(spans, parent_ids, kind=None):
    ids = set(parent_ids)
    return [s for s in spans if s["parent"] in ids
            and (kind is None or s["kind"] == kind)]


def first_setup(spans):
    return min(by_kind(spans, "setup"), key=lambda s: s["start"])


def setup_metrics(record):
    """setup_s runs from JVM start to the end of the first set-up: JVM and
    class loading, session, warm-up query and prepays. Its parts are
    taken from that set-up; the later set-ups, in the warm JVM, give the
    re-setup time setup.warm_s."""
    spans = record["spans"]
    first = first_setup(spans)
    parts = {s["kind"]: dur_s(s) for s in children_of(spans, [first["id"]])
             if s["kind"] in ("session", "warmup")}
    return {
        "setup_s": (first["end"] - record["jvm_start"]) / 1e3,
        "setup.warm_s": median([dur_s(s) for s in by_kind(spans, "setup")
                                if s is not first]),
        "setup.session_s": parts["session"],
        "setup.warmup_s": parts["warmup"],
    }


# Metric names and units. Every workload reports every name: a layer a
# workload does not exercise reads 0 there.
END_TO_END = {
    "setup_s": "s",
    "first_result_s": "s",
    "lat_mean_s": "s",
    "lat_tail_s": "s",
    "ops_per_s": "1/s",
}
MODULES = ["Functions", "Aggregates", "Windows", "SetOps", "FilterProject",
           "Analytics", "LlmText", "LlmVector"]
SUBSTRATES = ["ps", "ngram_pairs"]
PER_LAYER = dict(
    [("registry.build_s", "s"), ("registry.build_cold_s", "s")]
    + [(f"module.{m}.wall_s", "s") for m in MODULES]
    + [("action.wall_s", "s"), ("action.pre_job_s", "s"),
       ("action.driver_gap_s", "s"),
       ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
       ("scheduler.tasks", "count"),
       ("executor.task_run_s", "s"), ("executor.task_cpu_s", "s"),
       ("executor.deser_s", "s"), ("executor.gc_s", "s"),
       ("executor.slot_busy_frac", "ratio"),
       ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
       ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
       ("sources.read_mb", "MB"), ("sources.records_read", "count"),
       ("setup.warm_s", "s"), ("setup.session_s", "s"),
       ("setup.warmup_s", "s")]
    + [(f"substrate.{n}_s", "s") for n in SUBSTRATES]
    + [("substrate.shuffle_mb", "MB"),
       ("streaming.queries_started", "count"), ("streaming.batches", "count"),
       ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
       ("streaming.plan_s", "s"), ("streaming.wal_s", "s"),
       ("streaming.commit_log_s", "s"), ("streaming.offsets_s", "s"),
       ("streaming.batch_p50_s", "s"), ("streaming.batch_max_s", "s"),
       ("state.rows", "count"), ("state.mem_mb", "MB"),
       ("state.commit_s", "s"), ("state.rows_dropped_late", "count"),
       ("query.start_s", "s"), ("query.stop_s", "s"),
       ("source.backlog_rows", "count"),
       ("host.steal_pct", "%"), ("host.load1", "load"),
       ("trace.overhead_s", "s"), ("trace.spans", "count")])
UNITS = {**END_TO_END, **PER_LAYER}

# Tail percentile of each workload's latency: the highest of the usual
# percentiles that a run's sample count supports (≥ 10 samples beyond).
TAIL_Q = {"batch": 0.75, "stream_join": 0.99}


def is_stream(record):
    return record["workload"] == "stream_join"


def failed_keys(record):
    return {(str(f["pass"]), f["name"]) for f in record["failures"]}


def passes(record):
    return sorted(by_kind(record["spans"], "pass"), key=lambda s: s["start"])


def measured_passes(record):
    """The warm passes after the unmeasured warm-up ones."""
    return passes(record)[1 + record["warmup_passes"]:]


def pass_no(span):
    return span["req"].rsplit("/", 1)[-1]


def row_name(query_span):
    return query_span["name"].split("/", 1)[1]


def ok_queries(record, pass_spans, rows):
    """Query spans of `rows` in the given passes that did not throw."""
    bad = failed_keys(record)
    ids = {p["id"]: pass_no(p) for p in pass_spans}
    return [q for q in children_of(record["spans"], ids, "query")
            if row_name(q) in rows
            and (ids[q["parent"]], row_name(q)) not in bad]


def stream_latencies(record, lo=None, hi=None):
    st = record["stream"]
    lo = st["window"][0] if lo is None else lo
    hi = st["window"][1] if hi is None else hi
    return [x for b in st["latencies"] if lo <= b["end"] <= hi
            for x in b["lat"]]


def progress_end(p):
    return p["start"] + p["duration_ms"].get("triggerExecution", 0)


def offset_of(p):
    return float(p["end_offsets"][0])


def window_progress(record):
    lo, hi = record["stream"]["window"]
    return [p for p in record["stream"]["progress"]
            if lo <= progress_end(p) <= hi]


def sustained_rate(record):
    """Generated events processed per second, from the rate source's
    offsets (whole seconds of its clock), between the last batch that
    ended before the window and the last one that ended inside it. The
    self-join reads each event twice, so numInputRows would double it."""
    st = record["stream"]
    lo, hi = st["window"]
    done = sorted((progress_end(p), offset_of(p)) for p in st["progress"]
                  if p["end_offsets"])
    before = [x for x in done if x[0] < lo]
    inside = [x for x in done if lo <= x[0] <= hi]
    if not inside:
        return 0.0
    t0, o0 = before[-1] if before else inside[0]
    t1, o1 = inside[-1]
    return (o1 - o0) * st["rate"] / ((t1 - t0) / 1e3) if t1 > t0 else 0.0


def stream_first_result(record):
    """Engine time to the first join result: the start() call plus the
    durations of the micro-batches up to and including the first one that
    emitted a pair. Waits for the next trigger are left out, so the figure
    is not quantised by the trigger interval."""
    st = record["stream"]
    first = st["first_result_batch"]
    if first is None:
        return 0.0
    return dur_s(by_kind(record["spans"], "query_start")[0]) + sum(
        p["duration_ms"].get("triggerExecution", 0) / 1e3
        for p in st["progress"] if p["batch"] <= first)


def end_to_end(record):
    m = {"setup_s": setup_metrics(record)["setup_s"]}
    q = TAIL_Q[record["workload"]]
    if is_stream(record):
        lats = stream_latencies(record)
        m["first_result_s"] = stream_first_result(record)
        m["ops_per_s"] = sustained_rate(record)
    else:
        # Latency percentiles cover the tail rows alone: mixed with the few
        # heavy rows, a percentile would land on the boundary between the
        # two groups. The heavy rows weigh in the pass times, and so in
        # first_result_s and ops_per_s.
        warm = measured_passes(record)
        lats = [dur_s(s) for s in ok_queries(record, warm,
                                             set(record["tail_rows"]))]
        done = ok_queries(record, warm, set(record["rows"]))
        m["first_result_s"] = dur_s(passes(record)[0])
        m["ops_per_s"] = len(done) / sum(dur_s(p) for p in warm)
    m["lat_mean_s"] = statistics.fmean(lats)
    m["lat_tail_s"] = percentile(lats, q)[0]
    return {k: m[k] for k in END_TO_END}


def per_layer(record):
    m = dict.fromkeys(PER_LAYER, 0.0)
    spans = record["spans"]
    bus = record["bus"]
    cores = record["cpus"]
    m.update({k: v for k, v in setup_metrics(record).items() if k in m})
    prepays = children_of(spans, [first_setup(spans)["id"]], "prepay")
    for p in prepays:
        m[f"substrate.{p['name']}_s"] = dur_s(p)
    prepay_windows = [(s["start"], s["end"]) for s in prepays]
    m["substrate.shuffle_mb"] = sum(
        t[T_SHUF_W] for t in tasks_in(bus["tasks"], prepay_windows)) / MB
    m["streaming.queries_started"] = bus["queries_started"]
    m["trace.spans"] = len(spans)
    m["host.steal_pct"] = record["host"]["steal_pct"]
    m["host.load1"] = record["host"]["load1"]
    if is_stream(record):
        m.update(stream_layers(record))
    else:
        m.update(batch_layers(record, cores))
    return m


def batch_layers(record, cores):
    spans, bus = record["spans"], record["bus"]
    ps = passes(record)
    traced = [p for p in measured_passes(record) if p["name"] == "traced"]
    untraced = [p for p in measured_passes(record)
                if p["name"] == "untraced"]
    per = len(traced)
    windows = [(p["start"], p["end"]) for p in traced]
    jobs = jobs_in(bus["jobs"], windows)
    m = executor_metrics(tasks_in(bus["tasks"], windows), jobs, cores, per)
    queries = children_of(spans, [p["id"] for p in traced], "query")
    qids = [q["id"] for q in queries]
    builds = children_of(spans, qids, "build")
    actions = children_of(spans, qids, "action")
    m["registry.build_s"] = sum(dur_s(b) for b in builds) / per
    cold = children_of(spans, [q["id"] for q in children_of(
        spans, [ps[0]["id"]], "query")], "build")
    m["registry.build_cold_s"] = sum(dur_s(b) for b in cold)
    for mod in MODULES:
        m[f"module.{mod}.wall_s"] = sum(
            dur_s(q) for q in queries
            if q["name"].split("/", 1)[0] == mod) / per
    wall, pre, gap = action_split(actions, bus["jobs"])
    m["action.wall_s"] = wall / per
    m["action.pre_job_s"] = pre / per
    m["action.driver_gap_s"] = gap / per
    m["trace.overhead_s"] = (median([dur_s(p) for p in traced])
                             - median([dur_s(p) for p in untraced]))
    return m


def stream_layers(record):
    spans, bus, st = record["spans"], record["bus"], record["stream"]
    streams = {s["name"]: s for s in by_kind(spans, "stream")}
    tr = streams["second_half"]
    windows = [(tr["start"], tr["end"])]
    m = executor_metrics(tasks_in(bus["tasks"], windows),
                         jobs_in(bus["jobs"], windows), record["cpus"])
    prog = window_progress(record)

    def mean_phase(*keys):
        return statistics.fmean(
            [sum(p["duration_ms"].get(k, 0) for k in keys) / 1e3
             for p in prog]) if prog else 0.0
    trig = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in prog]
    m.update({
        "streaming.batches": len(prog),
        "streaming.trigger_s": mean_phase("triggerExecution"),
        "streaming.add_batch_s": mean_phase("addBatch"),
        "streaming.plan_s": mean_phase("queryPlanning"),
        "streaming.wal_s": mean_phase("walCommit"),
        "streaming.commit_log_s": mean_phase("commitOffsets"),
        "streaming.offsets_s": mean_phase("latestOffset", "getBatch"),
        "streaming.batch_p50_s": median(trig),
        "streaming.batch_max_s": max(trig, default=0.0),
        "state.rows": max((p["state_rows"] for p in prog), default=0),
        "state.mem_mb": max((p["state_mem"] for p in prog), default=0) / MB,
        "state.commit_s": statistics.fmean(
            [p["state_commit_ms"] / 1e3 for p in prog]) if prog else 0.0,
        "state.rows_dropped_late": sum(p["state_dropped_late"] for p in prog),
        "query.start_s": dur_s(by_kind(spans, "query_start")[0]),
        "query.stop_s": dur_s(by_kind(spans, "query_stop")[0]),
        "source.backlog_rows": statistics.fmean(
            [((progress_end(p) - st["rate_start"]) / 1e3 - offset_of(p))
             * st["rate"] for p in prog]) if prog else 0.0,
    })
    un = streams["first_half"]
    m["trace.overhead_s"] = (
        median(stream_latencies(record, tr["start"], tr["end"]))
        - median(stream_latencies(record, un["start"], un["end"])))
    return m


def stream_check(record):
    """The emitted pairs, per click, over the processed offset prefix
    against the batch twin. Returns (attempted, failed, reasons)."""
    st = record["stream"]
    n, bad = st["clicks_checked"], st["mismatched"]
    if n == 0:
        return 1, 1, {"stream_join": "no clicks were processed"}
    reasons = {"stream_join": f"{bad} per-click rows differ from the twin"}
    return n, min(bad, n), reasons if bad else {}


def trace_dump(record):
    """Spans with their self times, and each Spark job linked to the
    innermost span it started in."""
    spans = record["spans"]
    selfs = self_times(spans)
    depth = {}
    for s in sorted(spans, key=lambda s: s["start"]):
        depth[s["id"]] = depth.get(s["parent"], -1) + 1
    jobs = []
    for j in (record["bus"] or {}).get("jobs", []):
        holders = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        inner = max(holders, key=lambda s: depth[s["id"]], default=None)
        jobs.append({**j, "span": inner["id"] if inner else None,
                     "req": inner["req"] if inner else None})
    return {
        "workload": record["workload"], "seed": record["seed"],
        "spans": [{**s, "self_ms": selfs[s["id"]]} for s in spans],
        "jobs": jobs,
    }


def result(correct, attempted, failed, metrics):
    """The benchmark's output object: the last line of stdout."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": UNITS[k]}
                    for k, v in metrics.items()},
    }

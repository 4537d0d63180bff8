"""Metrics from a run record: end-to-end metrics of an untraced run and
per-layer metrics of a traced one.

Percentiles interpolate linearly between the two samples nearest rank
p*(n-1), counted from 0 (numpy's default rule, Python's "inclusive"
quantiles). Nearest rank would jump from one cluster of keys to the next
when a single key's time crosses its neighbour's. Batch percentiles run
over every key execution of the warm passes (keys x warm passes); serving
percentiles over the requests of the open-loop load.

`warm_s` is the sum, over the keys of a pass (the statement classes of a
sequence), of each one's median time across the warm passes (sequences):
a stall that hits one pass of one key moves no median.

An operation that failed counts with the time it took; one that passed its
deadline counts with the deadline (its capped time).
"""
import bisect
import math
import statistics

MODULES = ["Relational", "AsOf", "Dedup", "Similarity", "TextAnalysis",
           "Multimodal", "Pipeline", "Sampling", "PqIndex", "Pca",
           "SqlQueries", "StreamQueries"]
SERVER_CLASSES = ["point", "eq", "metric", "knn", "ann", "agg", "insert", "own_count"]
READ_CLASSES = SERVER_CLASSES[:6]
PASSES = ("cold", "warm")


def percentile(xs, p):
    """Linearly interpolated percentile; p in [0, 1]."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    r = p * (len(s) - 1)
    lo = math.floor(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_ms(op):
    """Time an operation costs: end minus start (a passed deadline is
    already capped by the harness); from the due time for a scheduled
    request."""
    start = op.get("due_ms", op["start_ms"]) if op.get("phase") == "load" else op["start_ms"]
    return op["end_ms"] - start


def self_times(spans):
    """Self time of each span: its duration minus the part of it covered by
    its children (overlapping children are merged, and clipped to the
    parent). Returns {span id: self ms}."""
    kids = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


# ---------------------------------------------------------------- end to end

def warm_medians(res):
    """{key: median time across the warm passes} of a batch run, or
    {class: median latency across the warm sequences} of a serving run."""
    batch = res["kind"] == "batch"
    times = {}
    for o in res["ops"]:
        if (o["pass"] >= 2) if batch else (o["phase"] == "warm"):
            times.setdefault(o["key"] if batch else o["class"], []).append(op_ms(o))
    return {k: median(v) for k, v in times.items()}


def end_to_end(res):
    ops = res["ops"]
    m = {"setup_s": (median(res["setup_s"]), "s")}
    if res["kind"] == "batch":
        cold = [op_ms(o) for o in ops if o["pass"] == 1]
        lat = [op_ms(o) for o in ops if o["pass"] >= 2]
    else:
        cold = [op_ms(o) for o in ops if o["phase"] == "cold"]
        lat = [op_ms(o) for o in ops if o["phase"] == "load"]
    m["cold_s"] = (sum(cold) / 1e3, "s")
    m["warm_s"] = (sum(warm_medians(res).values()) / 1e3, "s")
    m["p50_ms"] = (percentile(lat, 0.5), "ms")
    m["p90_ms"] = (percentile(lat, 0.9), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# ----------------------------------------------------------------- per layer

def _owner(t, windows, starts):
    """The window (operation or phase) holding time t; windows do not overlap."""
    i = bisect.bisect_right(starts, t) - 1
    if i >= 0 and windows[i]["start_ms"] <= t <= windows[i]["end_ms"]:
        return windows[i]
    return None


def per_layer(res, artifacts, untraced_warm_s):
    """Per-layer metrics of a traced run and the spans they come from.
    `untraced_warm_s` is `warm_s` of an untraced run at the same seed."""
    ops = res["ops"]
    cpus = res["cpus"]
    tr = res.get("trace", {"jobs": [], "queries": [], "progress": []})
    batch = res["kind"] == "batch"
    if batch:
        timed = ops
        windows = sorted(timed, key=lambda o: o["start_ms"])
        phase_of = lambda o: "cold" if o["pass"] == 1 else "warm"
        # warm sums are reported per pass
        n_passes = {"cold": 1, "warm": max(1, len({o["pass"] for o in ops}) - 1)}
    else:
        # requests overlap, so engine events are attributed to a phase only:
        # the cold round ("cold") or the open-loop load ("warm")
        timed = [o for o in ops if o["phase"] in ("cold", "load")]
        cold = res["rounds"][0]
        windows = [{"id": "cold", "phase": "cold", "start_ms": cold["start_ms"],
                    "end_ms": cold["end_ms"]},
                   {"id": "load", "phase": "load", "start_ms": res["load"]["start_ms"],
                    "end_ms": res["load"]["end_ms"]}]
        phase_of = lambda o: "cold" if o["phase"] == "cold" else "warm"
        n_passes = {"cold": 1, "warm": 1}
    starts = [o["start_ms"] for o in windows]
    by_id = {o["id"]: o for o in ops + windows}

    spans, sid = [], [0]

    def span(name, a, b, parent, op):
        sid[0] += 1
        spans.append({"id": sid[0], "name": name, "start_ms": a, "end_ms": b,
                      "parent": parent, "op": op})
        return sid[0]

    op_span, sub = {o["id"]: 0 for o in windows}, {o["id"]: [] for o in windows}
    for o in timed:
        if batch:
            op_span[o["id"]] = span("op", o["start_ms"], o["end_ms"], 0, o["id"])
            sub[o["id"]] = [
                (span("entry.build", o["start_ms"], o["built_ms"], op_span[o["id"]], o["id"]),
                 o["start_ms"], o["built_ms"]),
                (span("entry.action", o["built_ms"], o["end_ms"], op_span[o["id"]], o["id"]),
                 o["built_ms"], o["end_ms"])]
        else:
            span("request", o["start_ms"], o["end_ms"], 0, o["id"])

    def parent_of(o, t):
        for s, a, b in sub[o["id"]]:
            if a <= t <= b:
                return s
        return op_span[o["id"]]

    acc = {p: {} for p in PASSES}

    def add(p, k, v):
        acc[p][k] = acc[p].get(k, 0.0) + v

    # Spark jobs: by job group, else by time window
    for j in tr["jobs"]:
        g = j["group"]
        o = by_id.get(g[3:]) if g.startswith("pb:") else _owner(j["start_ms"], windows, starts)
        if o is None or o["id"] not in op_span:
            continue
        p = phase_of(o)
        span("spark.job", j["start_ms"], j["end_ms"], parent_of(o, j["start_ms"]), o["id"])
        add(p, "spark.jobs", 1)
        add(p, "spark.job_wall_s", (j["end_ms"] - j["start_ms"]) / 1e3)
        for st in j["stages"]:
            add(p, "spark.stages", 1)
            add(p, "spark.tasks", st["tasks"])
            add(p, "spark.failed_tasks", st["failed_tasks"])
            add(p, "spark.task_s", st["task_ms"] / 1e3)
            add(p, "spark.scan_mb", st["input_bytes"] / 2**20)
            add(p, "spark.shuffle_write_mb", st["shuffle_write"] / 2**20)
            add(p, "spark.shuffle_read_mb", st["shuffle_read"] / 2**20)
            add(p, "spark.fetch_wait_s", st["fetch_wait_ms"] / 1e3)
            add(p, "spark.spill_mb", st["spill_bytes"] / 2**20)
    # planning phases of every executed query
    engine_ms = []
    load = res.get("load")
    for q in tr["queries"]:
        if load and load["start_ms"] <= q["end_ms"] <= load["end_ms"] + 1:
            engine_ms.append(q["duration_ms"])
        for ph, (a, b) in q["phases"].items():
            o = _owner(a, windows, starts)
            if o is None:
                continue
            span(f"plan.{ph}", a, b, parent_of(o, a), o["id"])
            add(phase_of(o), f"plan.{ph}_s", (b - a) / 1e3)
    # streaming micro-batches
    batch_ms = {p: [] for p in PASSES}
    for pr in tr["progress"]:
        o = _owner(pr["ts_ms"], windows, starts)
        if o is None:
            continue
        p, d = phase_of(o), pr["durations"]
        batch_ms[p].append(d.get("triggerExecution", 0))
        add(p, "stream.batches", 1)
        add(p, "stream.add_batch_s", d.get("addBatch", 0) / 1e3)
        add(p, "stream.planning_s", d.get("queryPlanning", 0) / 1e3)
        add(p, "stream.offsets_s", (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3)
        add(p, "stream.log_commit_s", (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
        add(p, "stream.state_rows", pr["state_rows"])
        add(p, "stream.state_mb", pr["state_bytes"] / 2**20)
    for p in PASSES:
        add(p, "stream.batch_ms_p50", median(batch_ms[p]))

    # harness spans and per-module time
    for o in timed:
        p = phase_of(o)
        if batch:
            add(p, "entry.build_s", (o["built_ms"] - o["start_ms"]) / 1e3)
            add(p, "entry.action_s", (o["end_ms"] - o["built_ms"]) / 1e3)
            add(p, f"mod.{res['module'].get(o['key'], '')}_s", op_ms(o) / 1e3)
            if res["module"].get(o["key"]) == "SqlQueries":
                add(p, "sql.build_s", (o["built_ms"] - o["start_ms"]) / 1e3)
    # self time of the layers that have children (an op's time is all in
    # its build and action; jobs and requests have no children)
    st = self_times(spans)
    for s in spans:
        layer = "plan" if s["name"].startswith("plan.") else s["name"]
        if layer in ("entry.build", "entry.action", "plan"):
            add(phase_of(by_id[s["op"]]), f"self.{layer}_s", st[s["id"]] / 1e3)

    m = {}
    counters = ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
                "stream.batches", "stream.state_rows")
    names = (["entry.build_s", "entry.action_s", "plan.analysis_s", "plan.optimization_s",
              "plan.planning_s", "spark.task_s", "spark.job_wall_s", "spark.slot_use",
              "spark.driver_s", "spark.scan_mb", "spark.shuffle_write_mb",
              "spark.shuffle_read_mb", "spark.fetch_wait_s", "spark.spill_mb",
              "stream.batch_ms_p50", "stream.add_batch_s", "stream.planning_s",
              "stream.offsets_s", "stream.log_commit_s", "stream.state_mb",
              "sql.build_s", "self.entry.build_s", "self.entry.action_s", "self.plan_s"]
             + list(counters) + [f"mod.{x}_s" for x in MODULES])
    for p in PASSES:
        a = acc[p]
        k = n_passes[p]
        a["spark.slot_use"] = (a.get("spark.task_s", 0.0) / (a["spark.job_wall_s"] * cpus)
                               if a.get("spark.job_wall_s") else 0.0)
        # the action's time outside its own jobs and planning: its self time
        a["spark.driver_s"] = a.get("self.entry.action_s", 0.0)
        for n in names:
            v = a.get(n, 0.0)
            if n not in ("spark.slot_use", "stream.batch_ms_p50"):
                v /= k          # per pass
            m[f"{n}.{p}"] = (v, "count" if n in counters else
                             "ratio" if n == "spark.slot_use" else
                             "ms" if n.endswith("_ms_p50") else
                             "MB" if n.endswith("_mb") else "s")

    # artifacts and the session memo
    memo = res.get("memo", {})
    if batch:
        cold = {o["key"]: op_ms(o) for o in ops if o["pass"] == 1}
        warm = warm_medians(res)
        m["memo.build_s"] = (sum(cold[k] - warm.get(k, cold[k]) for k in cold) / 1e3, "s")
    else:
        m["memo.build_s"] = (0.0, "s")
    for p in PASSES:
        m[f"memo.cached_mb.{p}"] = (memo.get(p, {}).get("mb", 0.0), "MB")
        m[f"memo.cached_rdds.{p}"] = (memo.get(p, {}).get("rdds", 0), "count")
    m["sources.artifact_files"] = (sum(f for f, _ in artifacts.values()), "count")
    m["sources.artifact_mb"] = (sum(b for _, b in artifacts.values()) / 2**20, "MB")
    m["sources.leaked_mb"] = (artifacts.get("tmp", (0, 0))[1] / 2**20, "MB")

    # serving
    lo = [o for o in ops if o.get("phase") == "load"]
    lat = [op_ms(o) for o in lo]
    for c in SERVER_CLASSES:
        xs = [op_ms(o) for o in ops if o.get("phase") in ("cold", "warm", "load")
              and o["class"] == c]
        m[f"server.{c}.p50_ms"] = (median(xs), "ms")
    lower = res.get("lower_ms", {})
    for c in READ_CLASSES:
        m[f"sql.lower_ms.{c}"] = (median(lower.get(c, [])), "ms")
    eng = sum(engine_ms) / len(lo) if lo else 0.0
    m["server.engine_ms"] = (sum(engine_ms) / len(engine_ms) if engine_ms else 0.0, "ms")
    m["server.outside_engine_ms"] = (max(0.0, sum(lat) / len(lat) - eng) if lat else 0.0, "ms")
    m["server.inflight_max"] = (load["inflight_max"] if load else 0, "count")
    m["server.req_p99_ms"] = (percentile(lat, 0.99) if lat else 0.0, "ms")
    m["gen.late_p99_ms"] = (percentile(load["late_ms"], 0.99) if load and load["late_ms"] else 0.0, "ms")

    # the run as a whole
    m["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    m["jvm.gc_s"] = (res["jvm"]["gc_s"], "s")
    m["jvm.heap_peak_mb"] = (res["jvm"]["heap_peak_mb"], "MB")
    m["run.failed_frac"] = (sum(not o["ok"] for o in ops) / max(1, len(ops)), "ratio")
    # traced minus untraced warm time (one warm pass, or the warm round)
    m["trace.overhead_s"] = (end_to_end(res)["warm_s"]["value"] - untraced_warm_s, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, spans

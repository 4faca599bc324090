"""Metric arithmetic for the benchmark: order statistics, the span tree
and the per-layer totals computed from a traced run."""
import statistics

END_TO_END = ["setup_s", "makespan_s", "first_pass_s", "query_p50_s", "query_tail_s",
              "write_p50_s", "write_tail_s", "cpu_s", "rss_peak_mb", "write_amp",
              "space_amp"]

PER_LAYER = [
    "session.start_s", "session.warmup_s", "tables.load_s",
    "operators.construct_s", "operators.construct_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "plans.exchanges", "plans.sort_merge_joins", "plans.broadcast_joins", "plans.cached_scans",
    "exec.driver_gap_s", "exec.scheduler_delay_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mem_mb", "exec.spill_disk_mb", "exec.input_mb", "exec.task_skew",
    "cache.build_s", "cache.mem_mb", "cache.disk_mb", "cache.hit_ratio",
    "cache.consumer_input_mb",
    "sources.write_s", "sources.commit_s", "sources.bytes_written_mb", "sources.files_written",
    "sources.live_mb", "sources.search_files_read", "sources.search_input_mb",
    "trace.makespan_s", "trace.tiling_error"]

UNITS = {"_s": "s", "_mb": "MB", "_amp": "ratio", "_ratio": "ratio"}


def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "ratio" if name in ("exec.task_skew", "trace.tiling_error") else "count"


PHASES = ("analysis", "optimization", "planning")


def tail(xs):
    """(value, percentile, n): the value at the highest percentile with at
    least ten samples beyond it — the 11th largest of n, the
    100·(n-10)/n-th percentile — once that is at or above the median
    (n >= 21); the sample maximum below that."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n >= 21:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dedupe_phases(spans):
    """One planning-phase span per op, query and phase: the runner and the
    query listener both report the tracker of a collected frame. The
    first report keeps its interval (the listener's may have been widened
    by a later phase on the same tracker) and gains the other's attrs."""
    first, out = {}, []
    for s in spans:
        key = (s["op"], s["attrs"].get("query"), s["name"]) if s["name"] in PHASES else None
        if key is not None and key[1] is not None and key in first:
            first[key]["attrs"] = {**s["attrs"], **first[key]["attrs"]}
            continue
        if key is not None:
            first[key] = s
        out.append(s)
    return out


def assign_parents(spans):
    """Give every span with parent -1 the innermost benchmark span of the
    same op whose interval contains its midpoint (the op span if none),
    and clip it to that parent. Listener times are whole milliseconds, so
    the midpoint, not the start, decides between two adjacent benchmark
    spans; and a query's planning tracker keeps one interval per phase
    from its first start to its last end, which outruns the op when a
    memoized frame is planned again."""
    by_op = {}
    for s in spans:
        if s["parent"] >= 0 and s["name"] not in ("job", "stage"):
            by_op.setdefault(s["op"], []).append(s)
    for s in spans:
        if s["parent"] >= 0:
            continue
        mid = (s["t0"] + s["t1"]) / 2
        own = by_op.get(s["op"], [])
        inside = [c for c in own if c["t0"] <= mid < c["t1"]]
        best = min(inside, key=lambda c: c["t1"] - c["t0"], default=None) or \
            next((c for c in own if c["layer"] == "op"), None)
        if best is None:
            s["parent"] = 0
            continue
        s["parent"] = best["id"]
        s["t0"] = min(max(s["t0"], best["t0"]), best["t1"])
        s["t1"] = max(min(s["t1"], best["t1"]), s["t0"])
    return spans


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    covered, cur0, cur1 = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur1 is None or a > cur1:
            if cur1 is not None:
                covered += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        covered += cur1 - cur0
    return covered


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """{span id: duration minus the union of its children's intervals,
    each child clipped to the parent}."""
    kids = children(spans)
    return {s["id"]: max(0.0, (s["t1"] - s["t0"]) - union_length(
        (max(c["t0"], s["t0"]), min(c["t1"], s["t1"])) for c in kids.get(s["id"], [])))
        for s in spans}


def op_components(spans, st):
    """{op id: {component: seconds}}: the self time of every benchmark span
    under the op (keyed by its name; the op's own as "unattributed"),
    planning phases keyed by phase name, and "jobs". A span's children
    are counted once: a phase or job counts only the part of its interval
    no earlier sibling covers (benchmark spans, then phases, then jobs),
    so the components of an op add up to its wall time. Stages are inside
    jobs and not counted again."""
    def rank(k):
        return 2 if k["name"] == "job" else 1 if k["name"] in PHASES else 0
    kids = children(spans)
    comps = {}
    for s in spans:
        if rank(s) or s["name"] == "stage":
            continue
        c = comps.setdefault(s["op"], {})
        key = "unattributed" if s["layer"] == "op" else s["name"]
        c[key] = c.get(key, 0.0) + st[s["id"]]
        covered = []
        for k in sorted(kids.get(s["id"], []), key=rank):
            before = union_length(covered)
            covered.append((max(k["t0"], s["t0"]), min(k["t1"], s["t1"])))
            if rank(k):
                name = "jobs" if k["name"] == "job" else k["name"]
                c[name] = c.get(name, 0.0) + union_length(covered) - before
    return comps


def per_layer(res):
    """Per-layer totals over a traced run's result."""
    spans = assign_parents(dedupe_phases([dict(s) for s in res["spans"]]))
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    facts = res["facts"]
    ops = {o["id"]: o for o in res["ops"]}

    def total(pred, f):
        return sum(f(s) for s in spans if pred(s))

    def named(name, layer=None):
        return lambda s: s["name"] == name and (layer is None or s["layer"] == layer)

    def dur(s):
        return s["t1"] - s["t0"]

    stages = [s for s in spans if s["name"] == "stage"]
    jobs = [s for s in spans if s["name"] == "job"]
    planning = [s for s in spans if s["name"] == "planning"]

    def stage_sum(key, op_ids=None):
        return sum(s["attrs"].get(key, 0.0) for s in stages if op_ids is None or s["op"] in op_ids)

    reads = [o for o in res["ops"] if o["kind"] == "read"]
    hit_ops = {p["op"] for p in planning if p["attrs"].get("cached_scans", 0) > 0}
    search_ops = {o["id"] for o in res["ops"] if o["name"].endswith("_search")}
    skews = [s["attrs"]["skew"] for s in stages if s["attrs"].get("tasks", 0) >= 2]
    # tiling: per op, how far its layer components fall short of its wall time
    comps = op_components(spans, st)
    tiling = 0.0
    for s in spans:
        if s["layer"] == "op" and dur(s) > 0:
            named_sum = sum(v for k, v in comps[s["op"]].items() if k != "unattributed")
            tiling = max(tiling, abs(dur(s) - named_sum) / dur(s))
    m = {
        "session.start_s": res["setup"]["session_start_s"],
        "session.warmup_s": res["setup"]["warmup_s"],
        "tables.load_s": total(named("load", "tables"), dur),
        "operators.construct_s": total(named("construct", "operators"), lambda s: st[s["id"]]),
        "operators.construct_jobs": float(sum(
            1 for j in jobs if by_id.get(j["parent"], {}).get("name") == "construct")),
        "plans.analysis_s": total(named("analysis", "plans"), dur),
        "plans.optimization_s": total(named("optimization", "plans"), dur),
        "plans.planning_s": total(named("planning", "plans"), dur),
        "exec.driver_gap_s": total(named("exec", "exec"), lambda s: st[s["id"]]),
        "exec.scheduler_delay_s": stage_sum("sched_delay_s"),
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": stage_sum("tasks"),
        "exec.task_cpu_s": stage_sum("task_cpu_s"),
        "exec.gc_s": stage_sum("gc_s"),
        "exec.shuffle_write_mb": stage_sum("shuffle_write_mb"),
        "exec.shuffle_read_mb": stage_sum("shuffle_read_mb"),
        "exec.spill_mem_mb": stage_sum("spill_mem_mb"),
        "exec.spill_disk_mb": stage_sum("spill_disk_mb"),
        "exec.input_mb": stage_sum("input_mb"),
        "exec.task_skew": median(skews) if skews else 1.0,
        "cache.build_s": total(named("build", "cache"), dur),
        "cache.mem_mb": facts.get("cache_mem_mb", 0.0),
        "cache.disk_mb": facts.get("cache_disk_mb", 0.0),
        "cache.hit_ratio": len([o for o in reads if o["id"] in hit_ops]) / len(reads) if reads else 0.0,
        "cache.consumer_input_mb": stage_sum("input_mb", hit_ops),
        "sources.write_s": total(named("write", "sources"), dur),
        "sources.commit_s": total(named("write", "sources"), lambda s: st[s["id"]]),
        "sources.bytes_written_mb": res["bytes_written"] / 1048576.0,
        "sources.files_written": float(res["files_written"]),
        "sources.live_mb": facts.get("live_bytes", 0) / 1048576.0,
        "sources.search_files_read": sum(p["attrs"].get("files_read", 0.0)
                                         for p in planning if p["op"] in search_ops),
        "sources.search_input_mb": stage_sum("input_mb", search_ops),
        "trace.makespan_s": res["makespan_s"],
        "trace.tiling_error": tiling,
    }
    for key in ("exchanges", "sort_merge_joins", "broadcast_joins", "cached_scans"):
        m["plans." + key] = sum(p["attrs"].get(key, 0.0) for p in planning)
    assert sorted(m) == sorted(PER_LAYER), sorted(set(m) ^ set(PER_LAYER))
    trace = [{"op": o, "name": ops[o]["name"], "pass": ops[o]["pass"],
              "wall_s": ops[o]["t1"] - ops[o]["t0"], "components": comps.get(o, {})} for o in ops]
    return m, {"spans": [dict(s, self_s=st[s["id"]]) for s in spans], "ops": trace}


def end_to_end(res, setup_s, measured_from=1):
    """End-to-end metrics of an untraced run, plus the tail details. The
    latency metrics take the ops of passes `measured_from` (>= 1) and
    later: the warm passes before them are warm-up, counted in makespan_s
    and cpu_s only."""
    ops = res["ops"]
    cold = [o for o in ops if o["pass"] == 0]
    warm_reads = [o["t1"] - o["t0"] for o in ops if o["pass"] >= measured_from and o["kind"] == "read"]
    warm_writes = [o["t1"] - o["t0"] for o in ops if o["pass"] >= measured_from and o["kind"] == "write"]
    facts = res["facts"]
    qt, qp, qn = tail(warm_reads)
    wt, wp, wn = tail(warm_writes)
    m = {
        "setup_s": setup_s,
        "makespan_s": res["makespan_s"],
        "first_pass_s": max(o["t1"] for o in cold) - min(o["t0"] for o in cold),
        "query_p50_s": median(warm_reads),
        "query_tail_s": qt,
        "write_p50_s": median(warm_writes),
        "write_tail_s": wt,
        "cpu_s": res["cpu_s"],
        "rss_peak_mb": res["rss_peak_mb"],
        "write_amp": res["bytes_written"] / res["applied_bytes"] if res["applied_bytes"] else 0.0,
        "space_amp": facts["live_bytes"] / facts["fresh_bytes"] if facts.get("fresh_bytes") else 0.0,
    }
    detail = {"query_tail": {"percentile": qp, "samples": qn},
              "write_tail": {"percentile": wp, "samples": wn}}
    return m, detail

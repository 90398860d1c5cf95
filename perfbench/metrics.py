"""Turns the raw samples one benchmark run writes into metrics.

Pure functions of the raw JSON, so the arithmetic (percentiles, interval
unions, span self times, the per-operation accounting) is tested on
synthetic inputs by test_metrics.py.
"""
import statistics

CORES = 4
# Largest gap, in seconds, allowed between an operation's wall and the sum
# of its top-level phases (construct + action), and for the job time that
# lies outside the operation. Spark stamps job events with millisecond
# clocks, so 10 ms covers both ends.
TOLERANCE_S = 0.010
TAIL_PERCENTILES = (90, 99, 99.9)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def timing_summary(xs):
    """The median and the highest of TAIL_PERCENTILES that has at least ten
    samples strictly beyond it, with the sample count: {"n", "p50",
    optionally "p90" / "p99" / "p99.9"}.
    """
    out = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = percentile(xs, 50)
    for p in reversed(TAIL_PERCENTILES):
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= 10:
            out["p%g" % p] = v
            break
    return out


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. `spans` are dicts with id, parent, start, end.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def op_spans(op, events):
    """The span tree of one traced operation, in seconds.

    op -> phases (queries.construct, action, engine.run, sources.*);
    phase -> sql.<phase> (by start time) and scheduler.job (by the phase id
    each job carries); job -> scheduler.stage.
    """
    sec = 1e-3
    spans = [{"id": "op", "parent": None, "name": "op",
              "start": op["start_ms"] * sec, "end": op["end_ms"] * sec}]
    phases = op["phases"]
    for ph in phases:
        spans.append({"id": "ph%d" % ph["id"], "parent": "op", "name": ph["name"],
                      "start": ph["start_ms"] * sec, "end": ph["end_ms"] * sec})

    def phase_at(t_ms):
        for ph in phases:
            if ph["start_ms"] - 1 <= t_ms <= ph["end_ms"] + 1:
                return "ph%d" % ph["id"]
        return None

    ids = {ph["id"] for ph in phases}
    for i, plan in enumerate(events["plans"]):
        for name, t in plan["phases"].items():
            parent = phase_at(t["start_ms"])
            if parent is not None:
                spans.append({"id": "sql%d.%s" % (i, name), "parent": parent,
                              "name": "sql." + name, "start": t["start_ms"] * sec,
                              "end": t["end_ms"] * sec})
    jobs = [j for j in events["jobs"] if j["phase"] in ids]
    for j in jobs:
        spans.append({"id": "job%d" % j["job"], "parent": "ph%d" % j["phase"],
                      "name": "scheduler.job", "start": j["start_ms"] * sec,
                      "end": j["end_ms"] * sec})
    for st in events["stages"]:
        owner = [j for j in jobs if st["stage"] in j["stages"]
                 and j["start_ms"] <= st["submit_ms"] + 1]
        if owner:
            j = max(owner, key=lambda j: j["start_ms"])
            spans.append({"id": "stage%d.%d" % (st["stage"], st["attempt"]),
                          "parent": "job%d" % j["job"], "name": "scheduler.stage",
                          "start": st["submit_ms"] * sec, "end": st["end_ms"] * sec})
    return spans


def op_accounting(op, spans):
    """The queries/scheduler split of one operation: how far the sum of its
    phases misses its wall (phase_err), and how much of its jobs' time lies
    outside it (job_err)."""
    wall = (op["end_ms"] - op["start_ms"]) / 1e3
    phases_s = sum(s["end"] - s["start"] for s in spans if s["parent"] == "op")
    jobs = [(s["start"], s["end"]) for s in spans if s["name"] == "scheduler.job"]
    op_s, op_e = spans[0]["start"], spans[0]["end"]
    job_wall = union_length(jobs, op_s, op_e)
    outside = union_length(jobs) - job_wall
    return {"wall": wall, "phases": phases_s, "job_wall": job_wall,
            "driver_gap": wall - job_wall,
            "phase_err": abs(wall - phases_s), "job_err": outside}


def pass_walls(passes):
    return [sum((o["end_ms"] - o["start_ms"]) / 1e3 for o in p["ops"]) for p in passes]


def sum_of_op_medians(passes, value):
    """A pass's cost as the sum, over its operations, of each operation's
    median `value` across `passes`. A burst of load from outside the
    program that lands on one operation in one pass then moves nothing,
    where a median of pass totals needs a whole pass without one."""
    by_name = {}
    for p in passes:
        for o in p["ops"]:
            by_name.setdefault(o["name"], []).append(value(o))
    return sum(median(xs) for xs in by_name.values())


def end_to_end(raw):
    """End-to-end metrics from the untraced timed passes. The first set-up
    also pays the JVM's cold start; `setup_s` is the median of the others."""
    timed = [p for p in raw["passes"] if not p["traced"]]
    ops = [o for p in timed for o in p["ops"]]
    secs = lambda o: (o["end_ms"] - o["start_ms"]) / 1e3
    m = {
        "setup_s": (median(raw["setup_s"][1:]), "s"),
        "wall_s": (median(pass_walls(timed)), "s"),
        "thread_cpu_s": (sum_of_op_medians(timed, lambda o: o["thread_cpu_s"]), "s"),
        "alloc_mb": (sum_of_op_medians(timed, lambda o: o["alloc_mb"]), "MB"),
        "live_heap_mb": (median([p["heap_after_mb"] for p in timed]), "MB"),
    }
    extra = {"setup_cold_s": (raw["setup_s"][0], "s"), "passes": (len(timed), "count"),
             "peak_rss_mb": (raw["peak_rss_mb"], "MB")}
    for kind, label in ((None, "op"), ("commit", "write"), ("read", "read")):
        xs = [secs(o) for o in ops if kind is None or o["kind"] == kind]
        if xs:
            for k, v in timing_summary(xs).items():
                extra["%s_%s" % (label, k) if k == "n" else "%s_%s_s" % (label, k)] = \
                    (v, "count" if k == "n" else "s")
    commits = [o for o in ops if o["kind"] == "commit"]
    if commits:
        written = sum(o["extra"]["bytes_written"] for o in commits)
        user = sum(o["extra"]["user_bytes"] for o in commits)
        extra["bytes_written_per_user_byte"] = (written / user if user else 0.0, "ratio")
    return m, extra


def traced_layers(raw):
    """Per-layer metrics: medians over traced passes of per-pass totals,
    except per-call latencies (engine.run_s.*, sources.*_s.*), which are
    medians over calls. Returns (metrics, operations whose split misses
    their wall by more than TOLERANCE_S)."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    per_pass, calls, problems = [], {}, []
    for p in traced:
        ev = p["events"]
        v = dict.fromkeys([
            "queries.construct_s", "queries.construct_jobs", "sql.plans",
            "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
            "scheduler.job_wall_s", "scheduler.driver_gap_s",
            "scheduler.unattributed_jobs", "engine.groups_out",
            "sql.analysis_s", "sql.optimization_s", "sql.planning_s",
            "sources.bytes_written", "sources.files_written", "sources.live_files",
            "self.construct_s", "self.action_s", "self.job_s"], 0.0)
        kept = live = 0
        plans = set()
        for op in p["ops"]:
            spans = op_spans(op, ev)
            acc = op_accounting(op, spans)
            if acc["phase_err"] > TOLERANCE_S or acc["job_err"] > TOLERANCE_S:
                problems.append("%s: wall %.4f s, phases %.4f s, jobs outside the "
                                "operation %.4f s" % (op["name"], acc["wall"],
                                                      acc["phases"], acc["job_err"]))
            v["scheduler.job_wall_s"] += acc["job_wall"]
            v["scheduler.driver_gap_s"] += acc["driver_gap"]
            st = self_times(spans)
            for s in spans:
                dur = s["end"] - s["start"]
                n = s["name"]
                if n.startswith("sql."):
                    v[n + "_s"] += dur
                    plans.add(s["id"].split(".")[0])
                elif n == "scheduler.stage":
                    v["scheduler.stages"] += 1
                elif n == "queries.construct":
                    v["queries.construct_s"] += dur
                    v["self.construct_s"] += st[s["id"]]
                elif n == "action":
                    v["self.action_s"] += st[s["id"]]
                elif n == "scheduler.job":
                    v["self.job_s"] += st[s["id"]]
                    parent = next(x for x in spans if x["id"] == s["parent"])
                    if parent["name"] == "queries.construct":
                        v["queries.construct_jobs"] += 1
                if n == "engine.run" or n.startswith("sources."):
                    key = ("engine.run_s." + op["name"][3:] if n == "engine.run"
                           else n.replace("sources.commit.", "sources.commit_s.")
                           .replace("sources.read.", "sources.read_s."))
                    calls.setdefault(key, []).append(dur)
            x = op["extra"]
            v["engine.groups_out"] += x.get("groups_out", 0)
            v["sources.bytes_written"] += x.get("bytes_written", 0)
            v["sources.files_written"] += x.get("files_written", 0)
            if "live_files" in x:
                v["sources.live_files"] = x["live_files"]
            kept += x.get("files_kept", 0)
            live += x.get("files_live", 0)
        v["sources.files_kept_ratio"] = kept / live if live else 0.0
        phase_ids = {ph["id"] for op in p["ops"] for ph in op["phases"]}
        v["scheduler.unattributed_jobs"] = sum(1 for j in ev["jobs"]
                                               if j["phase"] not in phase_ids)
        v["scheduler.jobs"] = len(ev["jobs"]) - v["scheduler.unattributed_jobs"]
        tasks = ev["tasks"]
        v["scheduler.tasks"] = sum(t["tasks"] for t in tasks)
        v["scheduler.tasks_per_job"] = (v["scheduler.tasks"] / v["scheduler.jobs"]
                                        if v["scheduler.jobs"] else 0.0)
        v["sql.plans"] = len(plans)
        mb = 1024.0 * 1024.0
        v["executor.task_run_s"] = sum(t["run_ms"] for t in tasks) / 1e3
        v["executor.task_cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
        v["executor.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1e3
        v["executor.shuffle_read_mb"] = sum(t["shuffle_read_bytes"] for t in tasks) / mb
        v["executor.shuffle_write_mb"] = sum(t["shuffle_write_bytes"] for t in tasks) / mb
        v["executor.spill_mb"] = sum(t["spill_bytes"] for t in tasks) / mb
        v["executor.peak_exec_mem_mb"] = max([t["peak_exec_mem_bytes"] for t in tasks] or [0]) / mb
        v["executor.failed_tasks"] = sum(t["failed"] for t in tasks)
        v["executor.busy_ratio"] = (v["executor.task_run_s"] / (v["scheduler.job_wall_s"] * CORES)
                                    if v["scheduler.job_wall_s"] else 0.0)
        v["jvm.gc_s"] = p["gc_s"]
        v["jvm.jit_s"] = sum(o["jit_s"] for o in p["ops"])
        v["jvm.classes_loaded"] = p["classes_loaded"]
        v["jvm.heap_after_pass_mb"] = p["heap_after_mb"]
        per_pass.append(v)
    out = {k: median([v[k] for v in per_pass]) for k in per_pass[0]} if per_pass else {}
    # The heap after the last traced pass shows drift across passes.
    if per_pass:
        out["jvm.heap_after_pass_mb"] = per_pass[-1]["jvm.heap_after_pass_mb"]
    for key in ("engine.run_s.wc", "engine.run_s.indexer",
                "sources.commit_s.merge", "sources.commit_s.delete_dv",
                "sources.commit_s.append", "sources.commit_s.optimize",
                "sources.read_s.point", "sources.read_s.range", "sources.read_s.scan"):
        out[key] = median(calls.get(key, []))
    traced_wall, untraced_wall = median(pass_walls(traced)), median(pass_walls(untraced))
    out["trace.wall_s"] = traced_wall
    out["trace.overhead_ratio"] = traced_wall / untraced_wall - 1 if untraced_wall else 0.0
    return out, problems

"""Per-layer analysis of a traced run.

The harness records raw Spark events (jobs, stages with summed task
metrics, Catalyst phases of every QueryExecution, streaming progress,
file-writer totals) next to its own spans (pass, query, construct,
write). This module attributes each event to the query it belongs to,
builds the span tree

    pass -> query -> construct | write
    write -> catalyst.<phase>;  construct | write -> job -> stage

and splits wall time into layer self times: every instant of a pass
goes to the deepest span active at that instant (a stage is deeper than
its job, a job deeper than a Catalyst phase, and so on). For a tree
without overlapping siblings that is exactly "span minus the part its
children cover", and the layers of a pass add up to its wall time.
"""
import statistics
from collections import Counter, defaultdict

MB = 1024.0 * 1024.0
# Depth order for the self-time split; entry and write never overlap.
RANK = {"bench": 0, "entry": 1, "write": 1, "catalyst": 2, "scheduler": 3, "exec": 4}
LAYERS = list(RANK)
PHASES = ("analysis", "optimization", "planning")
STAGE_SUMS = ("tasks", "empty_tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms", "delay_ms",
              "input_bytes", "input_rows", "spill_bytes", "shuffle_write_bytes",
              "shuffle_records", "shuffle_read_bytes", "fetch_wait_ms")
# Spark stamps events in whole milliseconds; harness spans are in
# microseconds. A Spark time may read up to this much early.
SLACK_US = 1000


def self_times(w0, w1, intervals):
    """Split [w0, w1] among layers; intervals are (start, end, layer)."""
    points = []
    for s, e, layer in intervals:
        s, e = max(s, w0), min(e, w1)
        if e > s:
            points += [(s, 1, layer), (e, -1, layer)]
    points.sort(key=lambda p: (p[0], p[1]))
    out = dict.fromkeys(LAYERS, 0)
    active = Counter()
    prev = w0
    for t, delta, layer in points:
        if t > prev:
            top = max((l for l, c in active.items() if c > 0), key=RANK.get, default="bench")
            out[top] += t - prev
            prev = t
        active[layer] += delta
    out["bench"] += max(0, w1 - prev)
    return {k: v / 1e6 for k, v in out.items()}


def _attribute(result):
    """Map every recorded event to its (pass, query); return per-query buckets."""
    rec = result["trace"]
    passes = [p for p in [result["cold"]] + result["steady"] if p["traced"]]
    queries = [(p, q) for p in passes for q in p["queries"]]
    by_id = {q["id"]: (p, q) for p, q in queries}

    def owner(t):
        for pq in queries:
            if pq[1]["start_us"] <= t <= pq[1]["end_us"]:
                return pq
        for pq in queries:
            if pq[1]["start_us"] - SLACK_US <= t <= pq[1]["end_us"]:
                return pq
        return None

    buckets = defaultdict(lambda: defaultdict(list))
    job_owner = {}
    for j in rec["jobs"]:
        # The harness's job group names the query; jobs a stream runs
        # carry the stream's own group and are placed by start time.
        o = by_id.get(j["group"]) or owner(j["start_us"])
        if o:
            job_owner[j["id"]] = o
            buckets[o[1]["id"]]["jobs"].append(j)
    listing = defaultdict(list)
    for j in rec["jobs"]:
        for sid in j["stages"]:
            listing[sid].append(j)
    for s in rec["stages"]:
        if s["start_us"] < 0:
            continue
        cands = [j for j in listing.get(s["id"], []) if j["start_us"] <= s["start_us"] + SLACK_US]
        if not cands:
            continue
        job = max(cands, key=lambda j: j["start_us"])
        s = dict(s, job=job["id"])
        o = job_owner.get(job["id"])
        if o:
            buckets[o[1]["id"]]["stages"].append(s)
    for ph in rec["phases"]:
        o = owner(ph["start_us"])
        # Only the timed write's QueryExecution counts as Catalyst
        # work here; plans run inside construct stay in entry.
        if o and ph["start_us"] >= o[1]["construct_end_us"] - SLACK_US:
            buckets[o[1]["id"]]["phases"].append(ph)
    for pr in rec["progress"]:
        o = owner(pr["at_us"])
        if o:
            buckets[o[1]["id"]]["progress"].append(pr)
    for w in rec["file_writes"]:
        o = owner(w["start_us"])
        if o:
            buckets[o[1]["id"]]["file_writes"].append(w)
    return passes, buckets


def _query_profile(q, b):
    """Spans, counts and self times of one query."""
    cend = q["construct_end_us"]
    spans = [
        {"name": "query", "parent": "pass", "start_us": q["start_us"], "end_us": q["end_us"]},
        {"name": "construct", "parent": "query", "start_us": q["start_us"], "end_us": cend},
        {"name": "write", "parent": "query", "start_us": cend, "end_us": q["end_us"]},
    ]
    intervals = [(q["start_us"], cend, "entry"), (cend, q["end_us"], "write")]
    for ph in b["phases"]:
        spans.append({"name": f"catalyst.{ph['name']}", "parent": "write",
                      "start_us": ph["start_us"], "end_us": ph["end_us"]})
        intervals.append((ph["start_us"], ph["end_us"], "catalyst"))
    construct_jobs = 0
    skipped = 0
    submitted = defaultdict(set)
    for s in b["stages"]:
        submitted[s["job"]].add(s["id"])
    for j in b["jobs"]:
        end = j["end_us"] if j["end_us"] >= 0 else q["end_us"]
        in_construct = 0 <= j["end_us"] <= cend
        construct_jobs += in_construct
        skipped += len(set(j["stages"]) - submitted[j["id"]])
        spans.append({"name": f"job:{j['id']}", "parent": "construct" if in_construct else "write",
                      "start_us": j["start_us"], "end_us": end})
        intervals.append((j["start_us"], end, "scheduler"))
    sums = Counter()
    peak_mem = 0
    for s in b["stages"]:
        end = s["end_us"] if s["end_us"] >= 0 else q["end_us"]
        spans.append({"name": f"stage:{s['id']}.{s['attempt']}", "parent": f"job:{s['job']}",
                      "start_us": s["start_us"], "end_us": end})
        intervals.append((s["start_us"], end, "exec"))
        for k in STAGE_SUMS:
            sums[k] += s[k]
        peak_mem = max(peak_mem, s["peak_mem_bytes"])
    phase_s = {p: sum(ph["end_us"] - ph["start_us"] for ph in b["phases"] if ph["name"] == p) / 1e6
               for p in PHASES}
    state = defaultdict(lambda: (0, 0))
    for pr in b["progress"]:
        r, m = state[pr["run"]]
        state[pr["run"]] = (max(r, pr["state_rows"]), max(m, pr["state_bytes"]))
    counts = {
        "entry.construct_s": (cend - q["start_us"]) / 1e6,
        "entry.construct_jobs": construct_jobs,
        **{f"catalyst.{p}_s": phase_s[p] for p in PHASES},
        "scheduler.jobs": len(b["jobs"]),
        "scheduler.stages": len(b["stages"]),
        "scheduler.stages_skipped": skipped,
        "scheduler.tasks": sums["tasks"],
        "scheduler.empty_tasks": sums["empty_tasks"],
        "scheduler.delay_s": sums["delay_ms"] / 1e3,
        "scheduler.task_failures": sums["task_failures"],
        "exec.run_s": sums["run_ms"] / 1e3,
        "exec.cpu_s": sums["cpu_ns"] / 1e9,
        "exec.gc_s": sums["gc_ms"] / 1e3,
        "exec.input_mb": sums["input_bytes"] / MB,
        "exec.input_rows": sums["input_rows"],
        "exec.peak_mem_mb": peak_mem / MB,
        "exec.spill_mb": sums["spill_bytes"] / MB,
        "shuffle.write_mb": sums["shuffle_write_bytes"] / MB,
        "shuffle.read_mb": sums["shuffle_read_bytes"] / MB,
        "shuffle.records": sums["shuffle_records"],
        "shuffle.fetch_wait_s": sums["fetch_wait_ms"] / 1e3,
        "cache.persisted_rdds": q["persisted_rdds"],
        "cache.stored_mb": q["stored_bytes"] / MB,
        "streaming.batches": len(b["progress"]),
        "streaming.trigger_s": sum(p["trigger_ms"] for p in b["progress"]) / 1e3,
        "streaming.planning_s": sum(p["planning_ms"] for p in b["progress"]) / 1e3,
        "streaming.commit_s": sum(p["commit_ms"] for p in b["progress"]) / 1e3,
        "streaming.state_rows": sum(r for r, _ in state.values()),
        "streaming.state_mb": sum(m for _, m in state.values()) / MB,
        "sink.written_mb": sum(w["bytes"] for w in b["file_writes"]) / MB,
        "sink.records_written": sum(w["rows"] for w in b["file_writes"]),
        "sink.files_written": sum(w["files"] for w in b["file_writes"]),
    }
    return spans, counts, intervals


# Counts that are a high-water mark within a pass rather than a sum.
PEAKS = {"exec.peak_mem_mb", "cache.persisted_rdds", "cache.stored_mb"}


def analyze(result, nproc):
    """(per-layer metrics, trace artifact) of a traced run."""
    passes, buckets = _attribute(result)
    artifact_passes = []
    per_pass = []
    for p in passes:
        intervals = [(p["start_us"], p["end_us"], "bench")]
        totals = Counter()
        peaks = Counter()
        qs = []
        for q in p["queries"]:
            spans, counts, q_intervals = _query_profile(q, buckets[q["id"]])
            intervals += q_intervals
            for k, v in counts.items():
                if k in PEAKS:
                    peaks[k] = max(peaks[k], v)
                else:
                    totals[k] += v
            qs.append({"id": q["id"], "name": q["name"], "latency_s": q["latency_s"],
                       "error": q["error"], "spans": spans, "counts": counts,
                       "self_s": self_times(q["start_us"], q["end_us"], q_intervals)})
        layer_s = self_times(p["start_us"], p["end_us"], intervals)
        metrics = dict(totals)
        metrics.update(peaks)
        metrics["scheduler.empty_task_frac"] = (
            totals["scheduler.empty_tasks"] / totals["scheduler.tasks"] if totals["scheduler.tasks"] else 0.0)
        metrics["exec.cpu_util"] = totals["exec.cpu_s"] / (p["wall_s"] * nproc)
        metrics.update({f"{layer}.self_s": v for layer, v in layer_s.items()})
        artifact_passes.append({"index": p["index"], "kind": "cold" if p["index"] == 0 else "steady",
                                "wall_s": p["wall_s"], "self_s": layer_s, "metrics": metrics,
                                "queries": qs})
        if p["index"] > 0:
            per_pass.append(metrics)

    summary = {k: statistics.fmean(m[k] for m in per_pass) for k in per_pass[0]} if per_pass else {}
    summary.pop("scheduler.empty_tasks", None)
    summary["tables.load_s"] = statistics.median(result["tables_load_s"])
    summary.update(result["cold_counters"])
    traced = [p["wall_s"] for p in result["steady"] if p["traced"]]
    untraced = [p["wall_s"] for p in result["steady"] if not p["traced"]]
    summary["trace_overhead_frac"] = statistics.median(traced) / statistics.median(untraced) - 1.0
    wall = statistics.fmean(m["bench.self_s"] + sum(m[f"{l}.self_s"] for l in LAYERS if l != "bench")
                            for m in per_pass)
    shares = {l: summary[f"{l}.self_s"] / wall for l in LAYERS}
    shares["fixed"] = sum(shares[l] for l in ("entry", "write", "catalyst", "scheduler"))
    artifact = {"workload": result["workload"], "host": result["host"],
                "untraced_pass_s": untraced, "traced_pass_s": traced,
                "summary": summary, "self_share": shares, "passes": artifact_passes}
    return summary, artifact

"""Metrics from one run's raw harness output: the end-to-end metrics of an
untraced run and the per-layer metrics of a traced run. Every workload
reports every metric; a layer a workload does not touch reports 0.

An operation is what the workload's client waits for: a query (olap16), a
DO_GET request (serve_dash) or a commit cycle (ingest_fresh). Per-layer
values are per traced operation unless named otherwise.
"""
from analysis import exec_overhead, innermost, median, percentile, rank, self_time, tail_percentile

BENCH_QUERIES = (
    "q6_filter_agg", "q1_agg", "q_agg_cube", "q3_join_agg", "q5_join_multi",
    "q_win_rank", "q_topk", "q_asof_join", "q_range_join", "q_dedup_minhash",
    "q_dedup_incremental", "q_sim_topk", "q_text_stats", "q_pipeline_corpus",
    "q_federated_join", "q_events_window")
RULES = ("LshJoinRewrite", "MvRewrite", "PreAggExpand", "EagerAggJoin",
         "RelationStats", "UnscaledDecimalSums")
LAYERS = ("op", "queries", "catalyst", "exec", "sources", "engine", "client",
          "streaming")
MB = 1048576.0
# Samples a run of the configured length yields: 16 queries in a warm pass,
# about 40 requests, 3 cycles after the cold pass. The tail percentile comes
# from these rather than from each run's own count, so it does not jump
# between runs; a sample too small for any percentile reports its maximum.
NOMINAL_SAMPLES = {"olap16": 16, "serve_dash": 40, "ingest_fresh": 3}


def dur(o, a="start", b="end"):
    return o[b] - o[a]


# ------------------------------------------------------------ end to end

def end_to_end(w, raw, ctx):
    if w == "olap16":
        warm = [o for o in raw["ops"] if o["phase"] == "warm"]
        passes = [p for p in raw["passes"] if p["phase"] == "warm"]
        cold = [p for p in raw["passes"] if p["phase"] == "cold"][0]
        lat = [dur(o) for o in warm]
        first = lat  # a noop-sink query shows nothing before it completes
        cold_s = dur(cold) / 1000
        thr = len(warm) / (sum(dur(p) for p in passes) / 1000)
        ctx["warm_pass_s"] = [dur(p) / 1000 for p in passes]
    elif w == "serve_dash":
        load = [o for o in raw["ops"] if o["phase"] == "load" and not o["error"]]
        lat = [dur(o) for o in load]
        first = [dur(o, "start", "first") for o in load]
        cold_s = raw["cold_pass_s"]
        s, e = raw["window"]
        thr = len(load) / ((e - s) / 1000)
    else:
        ops = sorted(raw["ops"], key=lambda o: o["cycle"])
        cold, warm = ops[:raw["cold_cycles"]], ops[raw["cold_cycles"]:]
        lat = [dur(o) for o in warm]
        first = [dur(o, "start", "fresh") for o in warm]
        cold_s = sum(dur(o) for o in cold) / 1000
        ctx["cold_cycle_ms"] = [{"write": dur(o, "start", "committed"),
                                 "fresh_read": dur(o, "committed", "fresh"),
                                 "refresh": dur(o, "fresh", "end")} for o in cold]
        thr = len(warm) / (sum(lat) / 1000)
        ctx["rows_per_s"] = thr * raw["batch_rows"]
        write = [dur(o, "start", "committed") for o in warm]
        ctx["write_ms"] = {"p50": median(write), "max": max(write)}
        ctx["fresh_read_p50_ms"] = median([dur(o, "committed", "fresh") for o in warm])
        ctx["mv_lag_p50_ms"] = median([dur(o, "committed", "end") for o in warm])
    p = tail_percentile(NOMINAL_SAMPLES[w]) or 100
    ctx["latency_samples"] = len(lat)
    ctx["latency_tail_percentile"] = p
    ctx["latency_samples_beyond_tail"] = len(lat) - rank(p, len(lat)) - 1
    return {
        "setup_s": (raw["setup_s"], "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "cold_pass_s": (cold_s, "s"),
        "throughput_ops": (thr, "1/s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_tail_ms": (percentile(lat, p), "ms"),
        "first_result_p50_ms": (median(first), "ms"),
    }


# ------------------------------------------------------------- per layer

def traced_ops(w, raw):
    phase = {"olap16": "warm", "serve_dash": "load"}.get(w)
    return [o for o in raw["ops"] if o["traced"] and (phase is None or o["phase"] == phase)]


def forest(raw, ops):
    """All spans of the traced operations: the harness's own spans plus
    Spark jobs, stages and planning phases, each attributed to the
    innermost harness span open when it started."""
    keep = {o["op"] for o in ops}
    spans = [s for s in raw["trace"]["spans"] if s["op"] in keep]
    # client-side decode spans never cause server work
    causes = [s for s in spans if s["layer"] != "client"]
    out = list(spans)
    next_id = max([s["id"] for s in raw["trace"]["spans"]] + [0]) + 1
    jobs, stage_job = [], {}
    for j in sorted(raw["trace"]["jobs"], key=lambda j: j["start"]):
        parent = innermost(causes, j["start"])
        if parent is None:
            continue
        span = {"id": next_id, "name": "exec.job", "layer": "exec", "start": j["start"],
                "end": j["end"], "parent": parent["id"], "op": parent["op"],
                "cause": parent["name"]}
        next_id += 1
        out.append(span)
        jobs.append(span)
        for st in j["stages"]:
            stage_job.setdefault(st, span)
    stages = []
    for st in raw["trace"]["stages"]:
        job = stage_job.get(st["id"])
        if job is None or st["submit"] < 0:
            continue
        span = dict(st, id=next_id, name="exec.stage", layer="exec", start=st["submit"],
                    parent=job["id"], op=job["op"])
        next_id += 1
        out.append(span)
        stages.append(span)
    qes = []
    for q in raw["trace"]["qes"]:
        starts = [p[0] for p in q["phases"].values()]
        parent = innermost(causes, min(starts)) if starts else None
        if parent is None:
            continue
        qes.append(dict(q, op=parent["op"]))
        for phase in ("analysis", "optimization", "planning"):
            if phase in q["phases"]:
                s, e = q["phases"][phase]
                out.append({"id": next_id, "name": f"catalyst.{phase}", "layer": "catalyst",
                            "start": s, "end": e, "parent": parent["id"], "op": parent["op"]})
                next_id += 1
    return out, jobs, stages, qes


def per_layer(w, raw):
    ops = traced_ops(w, raw)
    n = max(1, len(ops))
    spans, jobs, stages, qes = forest(raw, ops)
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    named = lambda name: [s for s in spans if s["name"] == name]  # noqa: E731
    builds = named("queries.build")
    put("queries.build_ms", sum(dur(s) for s in builds) / n, "ms")
    put("queries.build_jobs", sum(j["cause"] == "queries.build" for j in jobs) / n, "count")
    for q in BENCH_QUERIES:
        times = [dur(o) for o in ops if o.get("name") == q]
        put(f"queries.{q}_ms", median(times) if times else 0, "ms")

    for phase in ("analysis", "optimization", "planning"):
        put(f"catalyst.{phase}_ms",
            sum(dur(s) for s in named(f"catalyst.{phase}")) / n, "ms")
    for r in RULES:
        stats = [q["rules"][r] for q in qes if r in q["rules"]]
        calls = sum(s[1] for s in stats)
        put(f"plans.{r}_ms", sum(s[0] for s in stats) / n, "ms")
        put(f"plans.{r}_calls", calls / n, "count")
        put(f"plans.{r}_fire_ratio", sum(s[2] for s in stats) / calls if calls else 0, "ratio")

    def stage_sum(key):
        return sum(s.get(key, 0) for s in stages)

    put("exec.jobs", len(jobs) / n, "count")
    put("exec.stages", len(stages) / n, "count")
    put("exec.tasks", stage_sum("tasks") / n, "count")
    put("exec.max_stage_tasks", max([s["tasks"] for s in stages] + [0]), "count")
    put("exec.task_ms", stage_sum("run_ms") / n, "ms")
    put("exec.task_cpu_ms", stage_sum("cpu_ms") / n, "ms")
    put("exec.gc_ms", stage_sum("gc_ms") / n, "ms")
    put("exec.shuffle_read_mb", stage_sum("shuffle_read_b") / MB / n, "MB")
    put("exec.shuffle_write_mb", stage_sum("shuffle_write_b") / MB / n, "MB")
    put("exec.spill_mb", stage_sum("spill_b") / MB / n, "MB")
    overhead = 0.0
    for o in ops:
        oj = [(j["start"], j["end"]) for j in jobs if j["op"] == o["op"]]
        ost = [(s["end"], s["max_task_ms"]) for s in stages if s["op"] == o["op"]]
        overhead += exec_overhead(oj, ost)
    put("exec.overhead_ms", overhead / n, "ms")

    put("sources.input_mb", stage_sum("input_b") / MB / n, "MB")
    put("sources.input_rows", stage_sum("input_rows") / n, "count")
    metas = [o for o in ops if "meta_load_ms" in o]
    last = max(metas, key=lambda o: o["cycle"]) if metas else {}
    put("sources.meta_load_ms", median([o["meta_load_ms"] for o in metas]) if metas else 0, "ms")
    put("sources.manifests", last.get("manifests", 0), "count")
    put("sources.data_files", last.get("data_files", 0), "count")
    put("sources.bytes_per_row", last["table_bytes"] / last["rows"] if metas else 0, "B")
    cycles = [o for o in ops if "committed" in o]
    put("sources.append_p50_ms",
        median([dur(o, "start", "committed") for o in cycles]) if cycles else 0, "ms")
    put("sources.fresh_read_p50_ms",
        median([dur(o, "committed", "fresh") for o in cycles]) if cycles else 0, "ms")

    reqs = [o for o in ops if "status" in o]
    k = max(1, len(reqs))
    put("engine.status_ms", sum(dur(o, "start", "status") for o in reqs) / k, "ms")
    put("engine.first_batch_ms", sum(dur(o, "status", "first") for o in reqs) / k, "ms")
    put("engine.stream_ms", sum(dur(o, "first", "end") for o in reqs) / k, "ms")
    put("engine.jobs_per_req", len(jobs) / k if reqs else 0, "count")
    put("engine.mb_streamed", sum(o["bytes"] for o in reqs) / MB / k, "MB")
    put("engine.refused", sum(o["refused"] for o in reqs), "count")
    put("client.decode_ms", sum(o["decode_ms"] for o in reqs) / k, "ms")

    refreshes = named("streaming.refresh")
    put("streaming.refresh_ms", sum(dur(s) for s in refreshes) / n, "ms")
    put("streaming.refresh_jobs", sum(j["cause"] == "streaming.refresh" for j in jobs) / n,
        "count")
    put("streaming.mv_lag_p50_ms",
        median([dur(o, "committed", "end") for o in cycles]) if cycles else 0, "ms")

    put("jvm.driver_gc_ms", raw["driver_gc_ms"] / max(1, len(raw["ops"])), "ms")
    own = self_time(spans)
    for layer in LAYERS:
        put(f"self.{layer}_ms", own.get(layer, 0) / n, "ms")
    put("trace.spans", len(spans) / n, "count")
    put("trace.overhead_pct", overhead_pct(w, raw), "%")
    return m


def overhead_pct(w, raw):
    """Traced minus untraced end-to-end time, as a share of untraced."""
    if w == "olap16":
        timed = [p for p in raw["passes"] if p["phase"] == "warm"]
    elif w == "serve_dash":
        timed = [o for o in raw["ops"] if o["phase"] == "load"]
    else:
        timed = [o for o in raw["ops"] if o["cycle"] >= raw["cold_cycles"]]
    t = [dur(o) for o in timed if o["traced"]]
    u = [dur(o) for o in timed if not o["traced"]]
    if not t or not u:
        return 0.0
    return (median(t) - median(u)) / median(u) * 100

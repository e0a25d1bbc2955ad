"""Turns a run's raw record into its end-to-end and per-layer metrics,
runs the output checks, and prints the readable report."""
import math
import os
from collections import defaultdict

import pyarrow.parquet as pq

import check
import stats

END_TO_END = {  # name -> unit
    "setup_s": "s", "first_op_s": "s", "latency_p50_s": "s",
    "latency_p90_s": "s", "throughput_per_s": "1/s"}

# per-layer metric -> unit; every traced run reports all of them, 0 where
# the workload does not exercise the layer (README.md maps each one)
PER_LAYER = {
    "sessions.start_s": "s", "setup.stage_s": "s", "setup.warmup_s": "s",
    "tables.scan_bytes": "bytes", "tables.scan_rows": "count",
    "tables.scan_columns": "count", "tables.q1_scan_bytes": "bytes",
    "tables.q1_scan_columns": "count",
    "barrier.bytes": "bytes", "barrier.release_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.slot_busy_frac": "frac", "exec.idle_s": "s",
    "exec.retry_frac": "frac", "exec.spill_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "self.harness_s": "s", "self.operators_s": "s", "self.catalyst_s": "s",
    "self.exec_s": "s", "self.barrier_s": "s",
    "source.queue_wait_p50_s": "s", "source.queue_wait_p90_s": "s",
    "source.backlog_max_events": "count",
    "source.backlog_slope_low": "1/s", "source.backlog_slope_mid": "1/s",
    "source.backlog_slope_high": "1/s", "ladder.sustained_eps": "1/s",
    "generator.late_max_s": "s",
    "trigger.count": "count", "trigger.empty_frac": "frac",
    "trigger.rows": "count", "trigger.duration_p50_s": "s",
    "trigger.duration_p90_s": "s", "trigger.latestOffset_s": "s",
    "trigger.getBatch_s": "s", "trigger.queryPlanning_s": "s",
    "trigger.addBatch_s": "s", "trigger.walCommit_s": "s",
    "trigger.commitOffsets_s": "s", "trigger.other_s": "s",
    "dwd.split_write_s": "s", "dws.upsert_s": "s", "dws.upsert_jobs": "count",
    "dws.bytes_rewritten_per_row": "bytes", "dim.merge_s": "s",
    "dim.latency_p50_s": "s", "dim.backlog_files": "count",
    "state.rows": "count", "state.bytes": "bytes",
    "state.dropped_late": "count",
    "store.bytes": "bytes", "store.files": "count",
    "store.bytes_per_event": "bytes",
    "trace.overhead_s": "s", "trace.unattributed_frac": "frac",
    "baseline.local1_pass_s": "s", "baseline.local4_pass_s": "s",
    "run.samples": "count", "run.failed_frac": "frac",
    "run.other_busy_frac": "frac", "run.peak_rss_mb": "MiB",
}
PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets"]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _setup(rec, e2e, layer):
    setups = rec["setups"]
    e2e["setup_s"] = stats.median([s["total_s"] for s in setups])
    e2e["first_op_s"] = rec["first_op_s"]
    layer["sessions.start_s"] = stats.median([s["session_s"] for s in setups])
    layer["setup.stage_s"] = stats.median([s["stage_s"] for s in setups])
    layer["setup.warmup_s"] = rec["warmup_s"]
    layer["run.peak_rss_mb"] = rec["peak_rss_mb"]


def _spans(rec):
    return [dict(zip(("id", "name", "req", "parent", "start", "end"), s))
            for s in rec.get("spans", [])]


def _tasks(rec):
    keys = ("span", "stage", "launch", "finish", "run", "cpu", "gc", "in_b",
            "in_r", "sw", "sr", "fw", "spill", "out_b", "attempt", "ok")
    return [dict(zip(keys, t)) for t in rec.get("tasks", [])]


def _resolve_parents(spans):
    """Spans recorded with parent -2 (Catalyst's own phase timings) go
    under the smallest span of the same request that contains them."""
    for s in spans:
        if s["parent"] != -2:
            continue
        best = None
        for c in spans:
            if c is s or c["req"] != s["req"] or c["parent"] == -2:
                continue
            if c["start"] <= s["start"] + 1e-3 and s["end"] <= c["end"] + 1e-3:
                if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                    best = c
        s["parent"] = best["id"] if best else -1


# ---------------------------------------------------------------- batch

def batch(rec, fx, oracle_cache, cores, traced):
    verdicts, expected = check.check_batch(rec, fx, oracle_cache)
    samples = rec["samples"]
    timed = [s for s in samples if not s["traced"]]
    failed = sum(1 for v in verdicts.values() if v != "PASS")
    for s in samples:
        if s.get("error") or expected.get(s["name"]) != s["rows"]:
            failed += 1
    attempted = len(samples) + len(rec["warmup"])
    walls = [s["wall_s"] for s in timed]
    e2e, layer = {}, dict.fromkeys(PER_LAYER, 0.0)
    _setup(rec, e2e, layer)
    e2e["latency_p50_s"] = stats.hd_quantile(walls, 50)
    e2e["latency_p90_s"] = stats.hd_quantile(walls, 90)
    untraced_cycles = [c["wall_s"] for c in rec["cycles"] if not c["traced"]]
    e2e["throughput_per_s"] = len(timed) / sum(untraced_cycles)
    layer["run.samples"] = len(timed)
    out = {"workload": rec["workload"], "verdicts": verdicts,
           "attempted": attempted, "failed": failed,
           "samples": len(timed),
           "supported_percentile": stats.supported_percentile(len(timed)),
           "per_query_p50_s": {n: stats.median([s["wall_s"] for s in timed
                                                if s["name"] == n])
                               for n in sorted({s["name"] for s in timed})},
           # the same end-to-end figures for each mix on its own
           "per_mix": {m: {"latency_p50_s": stats.hd_quantile(w, 50),
                           "latency_p90_s": stats.hd_quantile(w, 90),
                           "throughput_per_s": len(w) / sum(w)}
                       for m in ("relational", "llm")
                       for w in [[s["wall_s"] for s in timed if s["mix"] == m]]
                       if w}}
    if traced:
        _batch_layers(rec, samples, layer, cores, out)
    layer["run.failed_frac"] = failed / attempted
    out["end_to_end"] = {k: (v, _unit(k)) for k, v in e2e.items()}
    out["per_layer"] = {k: (layer[k], PER_LAYER[k]) for k in PER_LAYER}
    return out


_footers = {}


def _column_bytes(path, columns):
    """Compressed bytes of the named top-level columns in a parquet file,
    from its footer: what a scan reading those columns fetches. (Task
    input metrics cannot say this here: on a local file system Spark
    counts only the footer reads.)"""
    path = path[len("file:"):] if path.startswith("file:") else path
    if path not in _footers:
        md = pq.ParquetFile(path).metadata
        sizes = {}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                top = c.path_in_schema.split(".")[0]
                sizes[top] = sizes.get(top, 0) + c.total_compressed_size
        _footers[path] = sizes
    return sum(_footers[path].get(c, 0) for c in columns)


def _batch_layers(rec, samples, layer, cores, out):
    spans = _spans(rec)
    _resolve_parents(spans)
    tasks = _tasks(rec)
    selfs = stats.self_times(spans)
    by_req = defaultdict(list)
    for s in spans:
        by_req[s["req"]].append(s)
    tasks_by_span = defaultdict(list)
    for t in tasks:
        tasks_by_span[t["span"]].append(t)
    jobs_by_span = defaultdict(int)
    for j in rec.get("job_spans", []):
        jobs_by_span[j] += 1
    stages_by_span = defaultdict(int)
    for st in rec.get("stage_spans", []):
        stages_by_span[st] += 1
    traced = [s for s in samples if s["traced"] and not s.get("error")]
    acc = defaultdict(list)
    per_query = defaultdict(lambda: defaultdict(list))
    wall_sum = unattributed = 0.0
    for smp in traced:
        ss = by_req[smp["req"]]
        root = next(s for s in ss if s["name"] == "query")
        ids = {str(s["id"]) for s in ss}
        qt = [t for i in ids for t in tasks_by_span[i]]
        dur = {n: sum(s["end"] - s["start"] for s in ss if s["name"] == n)
               for n in ("operators.build", "catalyst.plan", "exec.run",
                         "barrier.release", "catalyst.analysis",
                         "catalyst.optimization", "catalyst.planning")}
        slf = defaultdict(float)
        for s in ss:
            slf[s["name"]] += selfs[s["id"]]
        wall = root["end"] - root["start"]
        busy = stats.union_length([(t["launch"], t["finish"]) for t in qt],
                                  root["start"], root["end"])
        task_s = sum(t["run"] for t in qt)
        cols = [c for _, cs in smp.get("scans", []) for c in cs]
        v = {
            "tables.scan_bytes": sum(_column_bytes(f, cs)
                                     for fs, cs in smp.get("scans", [])
                                     for f in fs),
            "tables.scan_columns": len(cols),
            "tables.scan_rows": sum(t["in_r"] for t in qt),
            "barrier.bytes": smp.get("barrier_bytes", 0),
            "barrier.release_s": dur["barrier.release"],
            "operators.build_s": dur["operators.build"],
            "operators.build_jobs": sum(jobs_by_span[str(s["id"])] for s in ss
                                        if s["name"] == "operators.build"),
            "catalyst.analysis_s": dur["catalyst.analysis"],
            "catalyst.optimization_s": dur["catalyst.optimization"],
            "catalyst.planning_s": dur["catalyst.planning"],
            "exec.run_s": dur["exec.run"],
            "exec.jobs": sum(jobs_by_span[i] for i in ids),
            "exec.stages": sum(stages_by_span[i] for i in ids),
            "exec.tasks": len(qt),
            "exec.task_s": task_s,
            "exec.cpu_s": sum(t["cpu"] for t in qt),
            "exec.gc_s": sum(t["gc"] for t in qt),
            "exec.slot_busy_frac": task_s / (wall * cores),
            "exec.idle_s": wall - busy,
            "exec.retry_frac": (sum(1 for t in qt if t["attempt"] > 0
                                    or not t["ok"]) / len(qt)) if qt else 0.0,
            "exec.spill_bytes": sum(t["spill"] for t in qt),
            "shuffle.write_bytes": sum(t["sw"] for t in qt),
            "shuffle.read_bytes": sum(t["sr"] for t in qt),
            "shuffle.fetch_wait_s": sum(t["fw"] for t in qt),
            "self.harness_s": slf["query"],
            "self.operators_s": slf["operators.build"],
            "self.catalyst_s": (slf["catalyst.plan"] + slf["catalyst.analysis"]
                                + slf["catalyst.optimization"]
                                + slf["catalyst.planning"]),
            "self.exec_s": slf["exec.run"],
            "self.barrier_s": slf["barrier.release"],
        }
        wall_sum += wall
        unattributed += slf["query"]
        for k, x in v.items():
            acc[k].append(x)
            per_query[smp["name"]][k].append(x)
    for k, xs in acc.items():
        layer[k] = _mean(xs)
    q1 = per_query.get("q1_pricing_summary", {})
    for k in ("scan_bytes", "scan_columns"):
        layer[f"tables.q1_{k}"] = _mean(q1.get(f"tables.{k}", []))
    layer["trace.unattributed_frac"] = unattributed / wall_sum if wall_sum else 0.0
    cyc = rec["cycles"]
    on = [c["wall_s"] for c in cyc if c["traced"]]
    off = [c["wall_s"] for c in cyc if not c["traced"]]
    n = len(rec["samples"]) / max(len(cyc), 1)
    # per query execution: traced cycles against untraced ones
    layer["trace.overhead_s"] = (_mean(on) - _mean(off)) / n if on and off else 0.0
    layer["baseline.local1_pass_s"] = rec.get("local1_pass_s", 0.0)
    layer["baseline.local4_pass_s"] = stats.median(off) if off else 0.0
    out["per_query_layers"] = {q: {k: _mean(x) for k, x in m.items()}
                               for q, m in per_query.items()}
    # the self times of the layers must account for the wall time
    _self_time_check(out, layer["trace.unattributed_frac"])


def _self_time_check(out, unattributed_frac):
    """The layers' self times must account for the wall time (batch) or
    for triggerExecution (stream) to within 10%; a traced run that fails
    this is not correct."""
    ok = abs(unattributed_frac) <= 0.10
    out["self_time_check"] = {"unattributed_frac": unattributed_frac, "ok": ok}
    out["verdicts"]["trace.self_time"] = (
        "PASS" if ok else f"FAIL {unattributed_frac:.1%} of wall unattributed")


def _unit(k):
    return END_TO_END[k]


# --------------------------------------------------------------- stream

def stream(rec, fx, latency_limit, slope_tolerance, traced):
    verdicts, failed, late_pages = check.check_stream(
        rec, os.path.join(fx, "dim_snapshot.parquet"))
    gen = [__import__("json").loads(l) for l in open(rec["gen_log"])]
    ods = sorted((g for g in gen if g["kind"] == "ods"),
                 key=lambda g: g["published"])
    dims = sorted((g for g in gen if g["kind"] == "dim"),
                  key=lambda g: g["published"])
    prog = rec["progress"]
    trig = {q: sorted((p for p in prog if p["query"] == q),
                      key=lambda p: p["batch"]) for q in ("dwd", "dws", "dim")}
    commits = {q: {c["batch"]: c["end"] for c in rec["commits"]
                   if c["query"] == q} for q in ("dwd", "dws")}

    # per ODS file: its page events (created, late) and the DWD batch that
    # read it, by cumulative row counts (files are read whole, in order)
    pages = {}
    for g in ods:
        t = pq.read_table(os.path.join(rec["dirs"]["ods"], g["name"]),
                          columns=["event_type", "created_us", "late"])
        et = t.column("event_type").to_pylist()
        cr = t.column("created_us").to_pylist()
        lt = t.column("late").to_pylist()
        pages[g["name"]] = [(c / 1e6, l) for e, c, l in zip(et, cr, lt)
                            if e == "view"]
    aligned = True

    def assign(units, sizes, batches):
        """Maps consecutive units (files, batches) to the trigger that
        consumed them, by cumulative counts."""
        nonlocal aligned
        out, i, cum_u = {}, 0, 0
        cum_b = 0
        for b in batches:
            if b["rows"] == 0:
                continue
            cum_b += b["rows"]
            while i < len(units) and cum_u + sizes[i] <= cum_b:
                cum_u += sizes[i]
                out[units[i]] = b
                i += 1
            if cum_u != cum_b:
                aligned = False
        return out

    file_ids = [g["name"] for g in ods]
    file_to_dwd = assign(file_ids, [g["rows"] for g in ods], trig["dwd"])
    dwd_batches = [b["batch"] for b in trig["dwd"] if b["rows"] > 0]
    dwd_pages = defaultdict(int)
    for f, b in file_to_dwd.items():
        dwd_pages[b["batch"]] += len(pages[f])
    dwd_to_dws = assign(dwd_batches, [dwd_pages[b] for b in dwd_batches],
                        trig["dws"])

    def dws_commit_of_file(f):
        b = file_to_dwd.get(f)
        if b is None:
            return math.inf
        d = dwd_to_dws.get(b["batch"])
        return commits["dws"].get(d["batch"], math.inf) if d else math.inf

    # latency per on-time page event, by rung
    rungs = []
    lat_by_rung = defaultdict(list)
    for g in ods:
        c = dws_commit_of_file(g["name"])
        lat_by_rung[g["rung"]].extend(c - cr for cr, late in pages[g["name"]]
                                      if not late)
    files = [(g["published"], g["rows"], dws_commit_of_file(g["name"]))
             for g in ods]
    # source backlog: events published but not yet taken by a DWD trigger,
    # at its peaks just before each trigger starts
    dwd_start = {b["batch"]: b["start"] for b in trig["dwd"]}
    starts = sorted(t - 1e-6 for t in dwd_start.values())

    def taken(gs):
        return [(g["published"], g["rows"],
                 dwd_start[file_to_dwd[g["name"]]["batch"]]
                 if g["name"] in file_to_dwd else math.inf) for g in gs]
    backlog = stats.backlog_series(taken(ods), starts)
    order = [r for r in ("low", "mid", "high") if any(g["rung"] == r for g in ods)]
    for r in order:
        gs = [g for g in ods if g["rung"] == r]
        lo, hi = gs[0]["due"] - 0.25, gs[-1]["due"]
        # the rung's own events at its peaks
        pts = stats.backlog_series(taken(gs), stats.peak_times(starts, lo, hi))
        lats = lat_by_rung[r]
        p90 = stats.hd_quantile(lats, 90) if lats else math.inf
        sl = stats.backlog_slope(pts)
        eps = sum(g["rows"] for g in gs) / max(hi - lo, 1e-9)
        rungs.append({"rung": r, "offered_eps": eps, "backlog_slope": sl,
                      "peaks": len(pts),
                      # with too few peaks to measure growth, the growth
                      # from the rung's empty start through its peaks,
                      # which counts the first rise and so reads high
                      "backlog_growth_bound": (None if sl is not None else
                                               stats.slope([(lo, 0)] + pts)),
                      "latency_p50_s": (stats.hd_quantile(lats, 50)
                                        if lats else math.inf),
                      "latency_p90_s": p90, "samples": len(lats),
                      "sustained": stats.rung_sustained(
                          eps, sl, p90, latency_limit, slope_tolerance)})
    best = stats.sustained_rung(rungs)
    mid = lat_by_rung.get("mid", [])

    e2e, layer = {}, dict.fromkeys(PER_LAYER, 0.0)
    _setup(rec, e2e, layer)
    e2e["latency_p50_s"] = stats.hd_quantile(mid, 50)
    e2e["latency_p90_s"] = stats.hd_quantile(mid, 90)
    e2e["throughput_per_s"] = ladder_rate(ods, files)
    layer["ladder.sustained_eps"] = best["offered_eps"] if best else 0.0
    attempted = sum(g["rows"] for g in ods) + sum(g["rows"] for g in dims)
    layer["run.samples"] = len(mid)

    # per-layer: source, generator, triggers, stores
    waits = []
    for g in ods:
        b = file_to_dwd.get(g["name"])
        if b is not None:
            waits.append(dwd_start[b["batch"]] - g["published"])
    layer["source.queue_wait_p50_s"] = stats.median(waits) if waits else 0.0
    layer["source.queue_wait_p90_s"] = stats.percentile(waits, 90) if waits else 0.0
    layer["source.backlog_max_events"] = max((b for _, b in backlog), default=0)
    for r in rungs:
        layer[f"source.backlog_slope_{r['rung']}"] = (
            r["backlog_slope"] if r["backlog_slope"] is not None
            else r["backlog_growth_bound"])
    layer["generator.late_max_s"] = max(g["published"] - g["due"]
                                        for g in ods + dims)
    all_t = trig["dwd"] + trig["dws"] + trig["dim"]
    layer["trigger.count"] = len(all_t)
    layer["trigger.empty_frac"] = (sum(1 for p in all_t if p["rows"] == 0)
                                   / max(len(all_t), 1))
    layer["trigger.rows"] = _mean([p["rows"] for p in all_t if p["rows"] > 0])
    te = [p["durations"].get("triggerExecution", 0) / 1e3 for p in all_t]
    layer["trigger.duration_p50_s"] = stats.median(te) if te else 0.0
    layer["trigger.duration_p90_s"] = stats.percentile(te, 90) if te else 0.0
    for ph in PHASES:
        layer[f"trigger.{ph}_s"] = _mean([p["durations"].get(ph, 0) / 1e3
                                          for p in all_t])
    other = [(p["durations"].get("triggerExecution", 0)
              - sum(p["durations"].get(ph, 0) for ph in PHASES)) / 1e3
             for p in all_t]
    layer["trigger.other_s"] = _mean(other)
    dwd_c = [c for c in rec["commits"] if c["query"] == "dwd"]
    dws_c = [c for c in rec["commits"] if c["query"] == "dws"]
    layer["dwd.split_write_s"] = _mean([c["end"] - c["start"] for c in dwd_c])
    layer["dws.upsert_s"] = _mean([c["end"] - c["start"] for c in dws_c])
    dim_data = [p for p in trig["dim"] if p["rows"] > 0]
    layer["dim.merge_s"] = _mean([p["durations"].get("addBatch", 0) / 1e3
                                  for p in dim_data])
    dim_lat, dim_backlog = [], 0
    for i, g in enumerate(dims):
        if i < len(dim_data):
            p = dim_data[i]
            done = p["start"] + p["durations"].get("triggerExecution", 0) / 1e3
            dim_lat.append(done - g["due"])
    for g in dims:
        merged = sum(1 for p in dim_data
                     if p["start"] + p["durations"].get("triggerExecution", 0) / 1e3
                     <= g["published"])
        dim_backlog = max(dim_backlog,
                          sum(1 for h in dims if h["published"] <= g["published"])
                          - merged)
    layer["dim.latency_p50_s"] = stats.median(dim_lat) if dim_lat else 0.0
    layer["dim.backlog_files"] = dim_backlog
    st = [p for p in trig["dws"] if p["state_rows"] is not None]
    layer["state.rows"] = max((p["state_rows"] for p in st), default=0)
    layer["state.bytes"] = max((p["state_bytes"] for p in st), default=0)
    layer["state.dropped_late"] = sum(p["dropped_late"] or 0 for p in st)
    size = n_files = 0
    for key in ("dwd", "dws", "dim"):
        for d, _, fs in os.walk(rec["dirs"][key]):
            for f in fs:
                if f.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(d, f))
                    n_files += 1
    layer["store.bytes"] = size
    layer["store.files"] = n_files
    layer["store.bytes_per_event"] = size / max(attempted, 1)
    # every latency sample rests on this mapping of events to commits
    verdicts["latency.attribution"] = ("PASS" if aligned else
                                       "FAIL trigger row counts do not "
                                       "line up with whole published files")
    out = {"workload": rec["workload"], "verdicts": verdicts,
           "attempted": attempted, "failed": failed, "rungs": rungs,
           "sustained_rung": best["rung"] if best else None,
           "latency_limit_s": latency_limit, "aligned": aligned,
           "samples": len(mid),
           "supported_percentile": stats.supported_percentile(len(mid)),
           "late_page_events": late_pages}
    if traced:
        _stream_layers(rec, layer, all_t, out)
    layer["run.failed_frac"] = failed / max(attempted, 1)
    out["end_to_end"] = {k: (v, _unit(k)) for k, v in e2e.items()}
    out["per_layer"] = {k: (layer[k], PER_LAYER[k]) for k in PER_LAYER}
    return out


def ladder_rate(ods, files):
    """Events per second through the whole ladder: every ladder event over
    the time from the ladder's start to the DWS commit that held its last
    event. The high rung has to drain before that commit, so the
    figure falls as the per-event cost of the pipeline rises."""
    ladder = [f for g, f in zip(ods, files) if g["rung"] != "warm"]
    start = min(g["due"] for g in ods if g["rung"] != "warm") - 0.25
    end = max(done for _, _, done in ladder)
    return sum(rows for _, rows, _ in ladder) / (end - start)


def _stream_layers(rec, layer, all_t, out):
    spans = _spans(rec)
    tasks = _tasks(rec)
    jobs_by_span = defaultdict(int)
    for j in rec.get("job_spans", []):
        jobs_by_span[j] += 1
    ups = [s for s in spans if s["name"] == "dws.upsert"]
    ids = {str(s["id"]) for s in ups}
    layer["dws.upsert_jobs"] = (sum(jobs_by_span[i] for i in ids)
                                / max(len(ups), 1))
    dws_rows = sum(p["state_updated"] or 0 for p in rec["progress"]
                   if p["query"] == "dws")
    written = sum(t["out_b"] for t in tasks if t["span"] in ids)
    layer["dws.bytes_rewritten_per_row"] = written / max(dws_rows, 1)
    ex = tasks
    layer["exec.tasks"] = len(ex)
    layer["exec.task_s"] = sum(t["run"] for t in ex)
    layer["exec.cpu_s"] = sum(t["cpu"] for t in ex)
    layer["exec.gc_s"] = sum(t["gc"] for t in ex)
    layer["exec.jobs"] = len(rec.get("job_spans", []))
    layer["exec.stages"] = len(rec.get("stage_spans", []))
    layer["exec.spill_bytes"] = sum(t["spill"] for t in ex)
    layer["shuffle.write_bytes"] = sum(t["sw"] for t in ex)
    layer["shuffle.read_bytes"] = sum(t["sr"] for t in ex)
    layer["shuffle.fetch_wait_s"] = sum(t["fw"] for t in ex)
    layer["exec.retry_frac"] = (sum(1 for t in ex if t["attempt"] > 0
                                    or not t["ok"]) / len(ex)) if ex else 0.0
    wall = rec["measure_s"]
    layer["exec.slot_busy_frac"] = layer["exec.task_s"] / (wall * rec["cores"])
    t0 = min((t["launch"] for t in ex), default=0.0)
    layer["exec.idle_s"] = wall - stats.union_length(
        [(t["launch"], t["finish"]) for t in ex], t0, t0 + wall)
    layer["tables.scan_rows"] = sum(t["in_r"] for t in ex)
    # the tracing code's own time on the engine's threads: listener
    # handlers (a stream cannot alternate traced and untraced triggers)
    layer["trace.overhead_s"] = rec.get("listener_handler_s", 0.0)
    te = sum(p["durations"].get("triggerExecution", 0) for p in all_t)
    ph = sum(p["durations"].get(k, 0) for p in all_t for k in PHASES)
    gap = (te - ph) / te if te else 0.0
    layer["trace.unattributed_frac"] = gap
    _self_time_check(out, gap)


# --------------------------------------------------------------- report

def report(workload, res, log):
    run = res["run"]
    log(f"== {workload}  seed={run['seed']} trace={run['trace']} "
        f"sf={run['sf']} valid={run['valid']} engine {run['engine_wall_s']:.1f} s, "
        f"checks {run['check_wall_s']:.1f} s "
        f"(other processes busy {run['other_busy_frac']:.1%} of the host; "
        f"load1 {run['load1_before']:.2f} -> {run['load1_after']:.2f})")
    for k, (v, u) in res["end_to_end"].items():
        log(f"  {k:<28} {v:>14.6g} {u}")
    log(f"  {'failed':<28} {res['failed']:>14} of {res['attempted']} attempted")
    log(f"  samples={res['samples']} (highest percentile with ten beyond: "
        f"{res['supported_percentile']})")
    layer = {k: v for k, (v, _) in res["per_layer"].items()}
    e2e = {k: v for k, (v, _) in res["end_to_end"].items()}
    failed_frac = res["failed"] / max(res["attempted"], 1)
    if "rungs" in res:
        named = [("event_latency_p50_s", e2e["latency_p50_s"], "s"),
                 ("event_latency_p90_s", e2e["latency_p90_s"], "s"),
                 ("sustained_eps", layer["ladder.sustained_eps"], "1/s"),
                 ("disk_bytes_per_event", layer["store.bytes_per_event"], "bytes")]
    else:
        named = [("query_p50_s", e2e["latency_p50_s"], "s"),
                 ("query_p90_s", e2e["latency_p90_s"], "s"),
                 ("throughput_qps", e2e["throughput_per_s"], "1/s")]
    named += [("setup_s", e2e["setup_s"], "s"),
              ("peak_rss_mb", layer["run.peak_rss_mb"], "MiB"),
              ("failed_frac", failed_frac, "frac")]
    log("  " + "  ".join(f"{k}={v:.6g} {u}" for k, v, u in named))
    for m, v in res.get("per_mix", {}).items():
        log(f"  mix {m:<10} " + "  ".join(f"{k} {x:.4g}" for k, x in v.items()))
    if "rungs" in res:
        for r in res["rungs"]:
            log(f"  rung {r['rung']:<5} {r['offered_eps']:>9.0f} ev/s  "
                f"p50 {r['latency_p50_s']:.3f} s  p90 {r['latency_p90_s']:.3f} s  "
                f"{r['peaks']} peaks  "
                + (f"backlog slope {r['backlog_slope']:.0f} ev/s  "
                   f"sustained={r['sustained']}"
                   if r["backlog_slope"] is not None else
                   f"growth at most {r['backlog_growth_bound']:.0f} ev/s  "
                   "unclassified (too few peaks)"))
    for k, v in res["verdicts"].items():
        log(f"  check {k:<28} {v}")
    if run["trace"]:
        for k, (v, u) in res["per_layer"].items():
            log(f"  {k:<32} {v:>14.6g} {u}")
        if "self_time_check" in res:
            log(f"  self-time check: {res['self_time_check']}")

"""Turns the harness's spans into the benchmark's metrics.

End-to-end metrics come from operation spans and mean the same thing on
every workload, applied to that workload's operation (README.md has the
table). They are JVM CPU time: on a shared host the wall time of the
same run moves with the hypervisor's steal, so wall-clock figures
(load_s, visible_p50_s, page_p50_ms, query_total_s, ...) are recorded,
unbounded, in the run record. Per-layer metrics come from the listener metrics attributed to
the spans of a traced run; the flow-specific figures (load_s,
page_p90_ms, etl.normalize_s, stream.trigger_ms, registry.<q>.wall_s,
...) go into the run record's "detail" block.
"""
import json
import math
import os
import statistics

# Metric names and units are declared once, in BENCHMARK.json at the
# checkout root; the result line prints exactly these.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "BENCHMARK.json")) as _f:
    _DECL = json.load(_f)
END_TO_END = {d["name"]: d["unit"] for d in _DECL["end_to_end"]}
PER_LAYER = {d["name"]: d["unit"] for d in _DECL["per_layer"]}
NOT_MEASURED = {"setup", "warmup", "etl.probe", "etl.incremental"}


def pct(xs, q):
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def dur(s):
    return s["end_ms"] - s["start_ms"]


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return tot + (cur_b - cur_a if cur_b is not None else 0.0)


def ops_of(res):
    lo, hi = res["measure_start_ms"], res["measure_end_ms"]
    return [s for s in res["spans"] if s["parent"] == -1
            and s["name"] not in NOT_MEASURED
            and s["start_ms"] >= lo and s["end_ms"] <= hi]


def record(workload, res, cfg, verdict):
    spans = res["spans"]
    ops = ops_of(res)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    detail = {}
    if workload == "registry_heavy":
        per_q, cpu_q = {}, {}
        for o in ops:
            q = o["name"][len("registry."):]
            per_q.setdefault(q, []).append(dur(o))
            cpu_q.setdefault(q, []).append(o["cpu_ms"])
        meds = {q: statistics.median(v) for q, v in per_q.items()}
        cpu = {q: statistics.median(v) for q, v in cpu_q.items()}
        for q, m in sorted(meds.items()):
            detail[f"registry.{q}.wall_s"] = m / 1e3
        detail["query_total_s"] = sum(meds.values()) / 1e3
        detail["query_geomean_s"] = math.exp(statistics.fmean(
            math.log(m / 1e3) for m in meds.values()))
        detail["query_p50_ms"] = statistics.median(meds.values())
        detail["passes"] = len(res["passes"])
        detail["pass_s"] = statistics.median(
            p["wall_ms"] for p in res["passes"]) / 1e3
        op_cpu = statistics.median(cpu.values())
        pass_cpu = statistics.median(p["cpu_ms"] for p in res["passes"])
    else:
        files = [o for o in ops if o["name"] == "upload.file"]
        pages = [dur(o) for o in ops if o["name"] == "page"]
        # a cycle: one file landed and drained, then the dashboard pass
        # over the grown silver (a fresh read and its pages)
        cycles = [[o for o in ops if a["start_ms"] <= o["start_ms"] < b]
                  for a, b in zip(files, [f["start_ms"] for f in files[1:]]
                                  + [float("inf")])]
        # means over the window: within a run the CPU of successive
        # uploads falls as the JIT warms up, and where a compile lands
        # moves CPU between neighbouring ops, so the middle op of three
        # spreads more across seeds than their total does
        op_cpu = statistics.fmean(o["cpu_ms"] for o in files)
        pass_cpu = statistics.fmean(
            sum(o["cpu_ms"] for o in c if o["name"] != "upload.file")
            for c in cycles)
        detail["load_s"] = statistics.median(
            dur(s) for s in spans if s["name"] == "setup") / 1e3
        inc = [s for s in spans if s["name"] == "etl.incremental"]
        if inc:
            detail["incremental_load_s"] = dur(inc[-1]) / 1e3
        detail["files"] = len(files)
        detail["visible_p50_s"] = statistics.median(map(dur, files)) / 1e3
        detail["cycle_ms"] = statistics.median(
            c[-1]["end_ms"] - c[0]["start_ms"] for c in cycles)
        detail["ingest_rows_per_s"] = (
            cfg["file_rows"] * len(files) / (sum(map(dur, files)) / 1e3))
        detail["pages"] = len(pages)
        detail["page_p50_ms"] = statistics.median(pages)
        detail["page_p90_ms"] = pct(pages, 90)
    setups = [dur(s) / 1e3 for s in spans
              if s["parent"] == -1 and s["name"] == "setup"]
    attempted = len(ops)
    failed = min(attempted,
                 sum(1 for o in ops if not o["ok"]) + verdict["wrong_ops"])
    detail["failed_frac"] = failed / attempted
    detail["setup_wall_s"] = statistics.median(setups)
    m = {"op_cpu_ms": op_cpu, "pass_cpu_ms": pass_cpu,
         "setup_s": statistics.median(
             s["cpu_ms"] for s in spans
             if s["parent"] == -1 and s["name"] == "setup") / 1e3,
         "peak_heap_mb": res["peak_heap_mb"]}
    m.update(layers(res, ops, by_op, detail))
    flow_detail(res, ops, by_op, cfg, detail)
    return {"workload": workload,
            "correct": verdict["ok"] and failed == 0 and all(
                s["ok"] for s in spans if s["parent"] == -1),
            "attempted": attempted, "failed": failed, "metrics": m,
            "detail": detail, "checks": verdict["checks"],
            "errors": [s["err"] for s in spans if not s["ok"]][:5],
            "ops": [[s["name"], round(dur(s), 3), s["cpu_ms"], s["jit_ms"]]
                    for s in spans if s["parent"] == -1],
            "session_s": res["session_s"]}


def layers(res, ops, by_op, detail):
    """Per-layer metrics over the measured operations. Without tracing
    only the span-free ones are real, so the rest read 0."""
    n = len(ops)
    tot = {}
    wall = driver_only = busy = 0.0
    self_ms = {}
    for o in ops:
        members = by_op[o["op"]]
        for s in members:
            for k, v in s.get("m", {}).items():
                tot[k] = tot.get(k, 0.0) + v
            kids = sum(dur(c) for c in members if c["parent"] == s["id"])
            layer = "client" if s["parent"] == -1 else s["name"].split(".")[0]
            self_ms[layer] = self_ms.get(layer, 0.0) + dur(s) - kids
        w = dur(o)
        covered = union_ms([t for s in members for t in s.get("tasks", [])],
                           o["start_ms"], o["end_ms"])
        wall += w
        busy += covered
        driver_only += w - covered
    g = tot.get
    actions = g("actions", 0.0) or 1.0
    # useful output: rows written, plus rows shown on pages
    out_rows = g("records_written", 0.0) + sum(
        len(o["info"]["rows"]) for o in ops if o["name"] == "page")
    resolves = [dur(s) for s in res["spans"] if s["name"] == "tables.resolve"]
    m = {
        "plan.analysis_ms": g("plan_analysis_ms", 0.0) / actions,
        "plan.optimization_ms": g("plan_optimization_ms", 0.0) / actions,
        "plan.planning_ms": g("plan_planning_ms", 0.0) / actions,
        "plan.actions_per_op": g("actions", 0.0) / n,
        "exec.jobs_per_op": g("jobs", 0.0) / n,
        "exec.stages_per_op": g("stages", 0.0) / n,
        "exec.tasks_per_op": g("tasks", 0.0) / n,
        "exec.task_cpu_s": g("task_cpu_s", 0.0) / n,
        "exec.gc_s": g("gc_s", 0.0) / n,
        "exec.scheduler_delay_s": g("scheduler_delay_s", 0.0) / n,
        "exec.single_task_stage_s": g("single_task_stage_s", 0.0) / n,
        "exec.shuffle_mb": g("shuffle_mb", 0.0) / n,
        "exec.spill_mb": g("spill_mb", 0.0) / n,
        "exec.busy_frac": busy / wall if wall else 0.0,
        "exec.rows_read_per_row_out":
            g("records_read", 0.0) / out_rows if out_rows else 0.0,
        "driver.only_ms": driver_only / n,
        "tables.resolve_ms": statistics.median(resolves) if resolves else 0.0,
        "client.self_ms": self_ms.get("client", 0.0) / n,
        "jvm.jit_compile_ms": sum(o["jit_ms"] for o in ops) / n,
        "trace.overhead_pct": 100.0 * g("trace_flush_ms", 0.0) / wall,
    }
    detail["self_ms_per_op"] = {k: v / n for k, v in sorted(self_ms.items())}
    return m


def _span_ms(by_op, ops, name):
    """Median over ops of the summed duration of `name` spans."""
    vals = []
    for o in ops:
        v = sum(dur(s) for s in by_op[o["op"]] if s["name"] == name)
        if v:
            vals.append(v)
    return statistics.median(vals) if vals else 0.0


def _metric(by_op, ops, key, per=None):
    return sum(s.get("m", {}).get(key, 0.0) for o in ops
               for s in by_op[o["op"]] if per is None or s["name"] == per)


def flow_detail(res, ops, by_op, cfg, detail):
    """The named per-flow figures; the timing splits need a traced run,
    the counters are in every run."""
    spans = res["spans"]
    traced = any(s["parent"] != -1 for s in spans)
    pages = [o for o in ops if o["name"] == "page"]
    if pages and traced:
        detail["dashboard.count_ms"] = _span_ms(by_op, pages, "dashboard.query")
        detail["dashboard.topk_ms"] = _span_ms(by_op, pages, "dashboard.rows")
        detail["dashboard.jobs_per_page"] = (
            _metric(by_op, pages, "jobs") / len(pages))
        rows = sum(len(o["info"]["rows"]) for o in pages)
        detail["dashboard.rows_scanned_per_row_returned"] = (
            _metric(by_op, pages, "records_read") / rows if rows else 0.0)
    probes = [s for s in spans if s["parent"] == -1 and s["name"] == "etl.probe"
              and s["ok"]]
    if probes:
        info = probes[-1]["info"]
        for k, v in etl_counters(info, reload_rows(spans)).items():
            detail["etl." + k] = v
        detail["etl.observed"] = info["transform"]
        if traced:
            st = {k: _span_ms(by_op, probes[-1:], f"probe.{k}") / 1e3
                  for k in ("normalize", "tokenize", "dedup")}
            detail["etl.normalize_s"] = st["normalize"]
            detail["etl.tokenize_s"] = st["tokenize"] - st["normalize"]
            detail["etl.dedup_s"] = st["dedup"] - st["tokenize"]
            loads = [s for s in spans if s["parent"] == -1
                     and s["name"] == "setup"]
            detail["etl.write_s"] = (
                _span_ms(by_op, loads, "etl.write") / 1e3 - st["dedup"])
            detail["etl.bronze_rows_read_per_row"] = (
                _metric(by_op, loads, "records_read", "etl.write")
                / (len(loads) * info["rows_in"]))
    files = [o for o in ops if o["name"] == "upload.file"]
    if files and traced:
        b = _metric(by_op, files, "stream_batches") or 1.0
        detail["stream.trigger_ms"] = _metric(
            by_op, files, "stream_triggerExecution_ms") / b
        detail["stream.add_batch_ms"] = _metric(
            by_op, files, "stream_addBatch_ms") / b
        detail["stream.planning_ms"] = _metric(
            by_op, files, "stream_queryPlanning_ms") / b
        detail["stream.rows_read_per_row"] = _metric(
            by_op, files, "stream_input_rows") / (cfg["file_rows"] * len(files))
        opens = [o for o in ops if o["name"] == "silver.open"]
        if opens:
            detail["silver.files"] = len(opens[-1]["info"]["files"])


def reload_rows(spans):
    """Rows the last set-up reload reported (Etl.run's count)."""
    return [s for s in spans if s["name"] == "setup"][-1]["info"]["loaded"]


def etl_counters(info, loaded):
    """Run counters of one load: the probe's observations (bronze rows,
    quarantine rejects, transform rows with a url, rows dedupForLoad
    keeps) and the reload's own row count. Rows loaded and rows deduped
    come from separate loads, so in = loaded + rejected + dropped +
    deduped holds only if Etl.run counts what dedupForLoad keeps."""
    t = info["transform"]
    with_url = t["rows"] - t["null_url"]
    return {"rows_in": info["rows_in"],
            "rows_rejected_parse": info["rows_rejected_parse"],
            "rows_dropped_invalid":
                info["rows_in"] - info["rows_rejected_parse"] - with_url,
            "rows_deduped": with_url - info["dedup_rows"],
            "rows_loaded": loaded}


def summary(rec):
    """Human-readable lines printed before the result line."""
    yield (f"# {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
           f"correct={rec['correct']} attempted={rec['attempted']} "
           f"failed={rec['failed']} phases_s={rec['phases_s']} "
           f"contamination={rec['contamination']}")
    for c in rec["checks"]:
        yield f"# check {c}"
    for k, v in rec["detail"].items():
        if not isinstance(v, dict):
            yield f"# {k} = {v}"
    for e in rec["errors"]:
        yield f"# error {e}"

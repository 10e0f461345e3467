#!/usr/bin/env python3
"""Per-layer breakdown of a traced benchmark run.

    python3 perfbench/trace_summary.py .bench_build/traces/<workload>-s<seed>

A traced run (run.py --trace 1) leaves its spans, Spark job/stage
counts and Catalyst phases in a trace directory; this prints the
per-layer table from them: each layer's self time (span time minus the
child spans and Catalyst phases inside it), its Spark jobs, stages,
tasks and bytes, the tracing overhead (traced minus untraced latency of
the same work in the same run) and the share of end-to-end time no layer
accounts for.

Streaming triggers are not spanned by the harness: they come from
Spark's own per-trigger progress (`StreamingQueryProgress.durationMs`)
and are added as IngestPipeline spans, with each batch's sink write as
their child.
"""
import datetime
import glob
import json
import os
import shutil
import statistics
import sys

import checks

HERE = os.path.dirname(os.path.abspath(__file__))

LAYERS = ["IngestPipeline", "ParquetIndexSink", "Search", "Dsl", "Catalyst",
          "Exec", "Frames", "Dedup", "TextAnalysis", "Bpe", "Pq", "Curate", "Jvm"]
MODULES = ["Dedup", "TextAnalysis", "Bpe", "Pq", "Curate"]
PHASES = {"analysis": "analysis_s", "optimization": "optimization_s",
          "planning": "planning_s"}
STAGE_KEYS = ["input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "output_bytes"]
INGEST_PHASES = ("drain", "live")


def _lines(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def _p50(values):
    return statistics.median(values) if values else 0.0


def per_layer_names():
    """Every per-layer metric, in BENCHMARK.json order, with its unit.
    summarize() fills each by name, so a metric it computes that the file
    does not list fails loudly instead of going unreported."""
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


# ------------------------------------------------------------ collection

def collect(workload, out_dir, input_dir, trace_dir):
    """Copy what the summary needs out of a finished run's directory
    (which run.py deletes) into trace_dir."""
    shutil.rmtree(trace_dir, ignore_errors=True)
    os.makedirs(trace_dir)
    for f in glob.glob(os.path.join(out_dir, "*.jsonl")) + [os.path.join(out_dir, "result.json")]:
        shutil.copy(f, trace_dir)
    if workload != "ingest":
        return
    truth = checks.load_json(os.path.join(input_dir, "ingest", "truth.json"))
    con = checks.connect()
    extra = {}
    for ph in INGEST_PHASES:
        d = os.path.join(out_dir, ph)
        shutil.copy(os.path.join(d, "progress.jsonl"), os.path.join(trace_dir, f"{ph}_progress.jsonl"))
        rows = checks.parquet_rows(con, os.path.join(d, "index"), "SELECT count(*) FROM {src}")
        valid = sum(len(t["uuids"]) for t in truth[ph].values())
        out_bytes = sum(os.path.getsize(f) for sub in ("index", "dlq")
                        for f in glob.glob(os.path.join(d, sub, "**", "*.parquet"), recursive=True))
        extra[ph] = {"commits": checks.ingest_commits(os.path.join(d, "ckpt")),
                     "index_rows": rows[0][0] if rows else 0, "valid_records": valid,
                     "output_bytes": out_bytes}
    with open(os.path.join(trace_dir, "ingest_extra.json"), "w") as f:
        json.dump(extra, f)


# ------------------------------------------------------------ summary

def _ts_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def _progress_spans(trace_dir, res):
    """IngestPipeline trigger spans from Spark's per-trigger progress, for
    the batches whose sink write was traced."""
    spans, nid = [], -1
    for ph in INGEST_PHASES:
        traced = {w["epoch"] for w in res.get(ph, {}).get("writes", []) if w.get("traced", True)}
        for p in _lines(os.path.join(trace_dir, f"{ph}_progress.jsonl")):
            if p["batchId"] not in traced:
                continue
            d = p["durationMs"]
            t0 = _ts_ms(p["timestamp"])
            spans.append({"id": nid, "parent": 0, "name": "trigger",
                          "layer": "IngestPipeline", "req": f"{ph}:{p['batchId']}",
                          "dur_s": d.get("triggerExecution", 0) / 1e3,
                          "t0_ms": t0, "t1_ms": t0 + d.get("triggerExecution", 0)})
            nid -= 1
    return spans


def self_times(spans, phases):
    """Attach every span without a parent on its own thread to the
    shortest span of the same request that contains it, and every
    Catalyst phase to the shortest span that contains it; returns
    ({span id: self seconds}, {span id: {phase: s}}, unplaced phase s)."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] == 0:
            holders = [o for o in spans if o is not s and o["req"] == s["req"]
                       and o["t0_ms"] <= s["t0_ms"] and o["t1_ms"] >= s["t1_ms"]
                       and o["dur_s"] > s["dur_s"]]
            if holders:
                s["parent"] = min(holders, key=lambda o: o["dur_s"])["id"]
    self_s = {s["id"]: s["dur_s"] for s in spans}
    for s in spans:
        if s["parent"] in by_id:
            self_s[s["parent"]] -= s["dur_s"]
    ordered = sorted(spans, key=lambda s: s["t0_ms"])
    cat = {}
    unplaced = {}
    for ph in phases:
        dur = (ph["t1_ms"] - ph["t0_ms"]) / 1e3
        holders = [s for s in ordered if s["t0_ms"] <= ph["t0_ms"] and s["t1_ms"] >= ph["t1_ms"]]
        if not holders:
            unplaced[ph["phase"]] = unplaced.get(ph["phase"], 0.0) + dur
            continue
        h = min(holders, key=lambda s: s["dur_s"])
        take = min(dur, max(self_s[h["id"]], 0.0))
        self_s[h["id"]] -= take
        cat.setdefault(h["id"], {}).setdefault(ph["phase"], 0.0)
        cat[h["id"]][ph["phase"]] += take
    return self_s, cat, unplaced


def summarize(trace_dir):
    res = checks.load_json(os.path.join(trace_dir, "result.json"))
    spans = _lines(os.path.join(trace_dir, "spans.jsonl")) + _progress_spans(trace_dir, res)
    jobs = _lines(os.path.join(trace_dir, "jobs.jsonl"))
    stages = _lines(os.path.join(trace_dir, "stages.jsonl"))
    phases = [p for p in _lines(os.path.join(trace_dir, "phases.jsonl")) if p["phase"] in PHASES]
    by_id = {s["id"]: s for s in spans}
    self_s, cat, unplaced = self_times(spans, phases)

    def group_span(g):
        return by_id.get(int(g[3:])) if g.startswith("pb-") else None

    def root(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s

    # per span: jobs and stage metrics attributed through its job group
    span_jobs, span_stage = {}, {}
    for j in jobs:
        s = group_span(j["group"])
        if s:
            span_jobs[s["id"]] = span_jobs.get(s["id"], 0) + 1
    for st in stages:
        s = group_span(st["group"])
        key = s["id"] if s else None
        acc = span_stage.setdefault(key, {k: 0 for k in STAGE_KEYS + ["stages", "tasks", "run_ms"]})
        acc["stages"] += 1
        acc["tasks"] += st["tasks"]
        acc["run_ms"] += st["run_ms"]
        for k in STAGE_KEYS:
            acc[k] += st[k]

    # set-up and warm-up spans are kept for the record, not summed
    measured = [s for s in spans if not s["req"].startswith(("setup", "warm"))]
    measured_ids = {s["id"] for s in measured}
    layer = {name: {"self_s": 0.0, "spans": 0, "jobs": 0, "stages": 0, "tasks": 0,
                    **{k: 0 for k in STAGE_KEYS}} for name in LAYERS + ["bench"]}
    for s in measured:
        L = layer[s["layer"]]
        L["self_s"] += self_s[s["id"]]
        L["spans"] += 1
        L["jobs"] += span_jobs.get(s["id"], 0)
        st = span_stage.get(s["id"])
        if st:
            L["stages"] += st["stages"]
            L["tasks"] += st["tasks"]
            for k in STAGE_KEYS:
                L[k] += st[k]
        layer["Catalyst"]["self_s"] += sum(cat.get(s["id"], {}).values())

    metrics = {n: [0.0, u] for n, u in per_layer_names()}

    def put(name, value):
        metrics[name][0] = value

    # ops the per-op metrics divide by
    tops = [s for s in measured if s["layer"] == "bench" and s["parent"] not in by_id]
    if "live" in res:
        tops = [s for s in measured if s["name"] == "trigger"]
    n_ops = max(len(tops), 1)
    all_stage = [st for k, st in span_stage.items() if k is None or k in measured_ids]
    busy = sum(st["run_ms"] for st in all_stage) / 1e3
    window = sum(s["dur_s"] for s in tops)
    put("Exec.run_s", sum(self_s[s["id"]] for s in measured if s["layer"] == "Exec") / n_ops)
    put("Exec.jobs", sum(span_jobs.get(s["id"], 0) for s in measured) / n_ops)
    put("Exec.stages", sum(st["stages"] for st in all_stage) / n_ops)
    put("Exec.tasks", sum(st["tasks"] for st in all_stage) / n_ops)
    for k in STAGE_KEYS[:4]:
        put(f"Exec.{k}", sum(st[k] for st in all_stage) / n_ops)
    put("Exec.task_busy_s", busy / n_ops)
    put("Exec.core_util", busy / (window * os.cpu_count()) if window else 0.0)
    for ph, key in PHASES.items():
        put(f"Catalyst.{key}",
            sum(c.get(ph, 0.0) for sid, c in cat.items() if sid in measured_ids) / n_ops)
    fr = res.get("frames_peak", {})
    put("Frames.persisted_bytes_peak", fr.get("bytes", 0))
    put("Frames.persisted_frames", fr.get("frames", 0))
    put("Jvm.gc_s", res.get("gc_s", 0.0))
    put("Jvm.heap_peak_mb", res.get("heap_peak_mb", 0.0))
    bench_self = sum(self_s[s["id"]] for s in tops if s["layer"] == "bench")

    if "requests" in res:
        _serve(res, measured, self_s, span_jobs, cat, by_id, root, put)
        put("trace.unattributed_share", bench_self / window if window else 0.0)
    if "passes" in res:
        _curate(res, measured, span_jobs, span_stage, put)
        put("trace.unattributed_share", bench_self / window if window else 0.0)
    if "live" in res:
        _ingest(res, trace_dir, measured, span_jobs, put)

    table = _table(layer, metrics, unplaced, n_ops)
    return {"metrics": {k: (v, u) for k, (v, u) in metrics.items()}, "table": table}


def _serve(res, measured, self_s, span_jobs, cat, by_id, root, put):
    put("Search.build_index_s", _p50(res["build_index_s"]))
    put("Search.append_s_p50", _p50(res["append_s"]))
    put("Search.index_files_end", res["index_files_end"])
    appends = [s for s in measured if s["name"] == "Search.append"]
    put("Search.append_jobs", sum(span_jobs.get(s["id"], 0) for s in appends) / max(len(appends), 1))
    for kind, names in (("search", ("match", "bool", "filter")), ("aggs", ("aggs",))):
        reqs = [s for s in measured if s["layer"] == "bench" and s["name"] in names]
        ids = {s["id"] for s in reqs}
        builds = [s for s in measured if s["name"] == "Dsl.build" and s["parent"] in ids]
        put(f"Dsl.{kind}.build_s", _p50([s["dur_s"] for s in builds]))
        put(f"Dsl.{kind}.build_jobs", sum(span_jobs.get(s["id"], 0) for s in builds) / max(len(builds), 1))
        for ph, key in PHASES.items():
            per_req = {}
            for sid, c in cat.items():
                if sid in by_id and root(by_id[sid])["id"] in ids:
                    r = root(by_id[sid])["id"]
                    per_req[r] = per_req.get(r, 0.0) + c.get(ph, 0.0)
            put(f"Catalyst.{kind}.{key}", _p50([per_req.get(i, 0.0) for i in ids]))
    diffs = []
    for kind in {r["kind"] for r in res["requests"]}:
        lat = {True: [], False: []}
        for r in res["requests"]:
            if r["kind"] == kind:
                lat[r["traced"]].append(r["latency_s"])
        if lat[True] and lat[False]:
            diffs.append(_p50(lat[True]) - _p50(lat[False]))
    if diffs:
        put("trace.overhead_s", sum(diffs) / len(diffs))


def _curate(res, measured, span_jobs, span_stage, put):
    # the traced pass against the untraced pass after it (the first
    # pass, cold, only warms the JVM)
    walls = [p["wall_s"] for p in res["passes"]]
    if len(walls) == 3 and res["passes"][1]["traced"]:
        put("trace.overhead_s", walls[1] - walls[2])
    children = {}
    for s in measured:
        children.setdefault(s["parent"], []).append(s)
    keys = ("shuffle_write_bytes", "spill_bytes")
    acc = {m: dict(build_s=0.0, exec_s=0.0, jobs=0, **{k: 0 for k in keys}) for m in MODULES}
    for top in measured:
        kids = children.get(top["id"], []) if top["layer"] == "bench" else []
        mods = [k["layer"] for k in kids if k["layer"] in MODULES]
        if not mods:
            continue
        a = acc[mods[0]]
        for k in kids:
            a["build_s" if k["layer"] in MODULES else "exec_s"] += k["dur_s"]
            a["jobs"] += span_jobs.get(k["id"], 0)
            for key in keys:
                a[key] += span_stage.get(k["id"], {}).get(key, 0)
    for m, a in acc.items():
        for k, v in a.items():
            put(f"{m}.{k}", v)


def _ingest(res, trace_dir, measured, span_jobs, put):
    extra = checks.load_json(os.path.join(trace_dir, "ingest_extra.json"))
    for ph in INGEST_PHASES:
        prog = _lines(os.path.join(trace_dir, f"{ph}_progress.jsonl"))
        prog = [p for p in prog if p["numInputRows"] > 0]
        d = [p["durationMs"] for p in prog]
        put(f"IngestPipeline.{ph}.batches", len(prog))
        put(f"IngestPipeline.{ph}.records_per_batch_p50", _p50([p["numInputRows"] for p in prog]))
        put(f"IngestPipeline.{ph}.trigger_s_p50", _p50([x.get("triggerExecution", 0) / 1e3 for x in d]))
        put(f"IngestPipeline.{ph}.addBatch_s_p50", _p50([x.get("addBatch", 0) / 1e3 for x in d]))
        put(f"IngestPipeline.{ph}.queryPlanning_s_p50", _p50([x.get("queryPlanning", 0) / 1e3 for x in d]))
        put(f"IngestPipeline.{ph}.offsets_s_p50",
            _p50([(x.get("latestOffset", 0) + x.get("walCommit", 0)) / 1e3 for x in d]))
        put(f"IngestPipeline.{ph}.commit_s_p50", _p50([x.get("commitOffsets", 0) / 1e3 for x in d]))
        obs = [p.get("observedMetrics", {}).get("ingest_metrics", {}) for p in prog]
        got = sum(o.get("n_received", 0) for o in obs)
        valid = sum(o.get("n_valid", 0) for o in obs)
        put(f"IngestPipeline.{ph}.valid_ratio", valid / got if got else 0.0)
        writes = [w["write_s"] for w in res[ph]["writes"]]
        put(f"ParquetIndexSink.{ph}.write_s_p50", _p50(writes))
        sinks = [s for s in measured if s["layer"] == "ParquetIndexSink" and s["req"].startswith(ph + ":")]
        if sinks:
            put(f"ParquetIndexSink.{ph}.jobs_per_batch",
                sum(span_jobs.get(s["id"], 0) for s in sinks) / len(sinks))
        put(f"ParquetIndexSink.{ph}.output_bytes", extra[ph]["output_bytes"])
        put(f"ParquetIndexSink.{ph}.kept_ratio",
            extra[ph]["index_rows"] / valid if valid else 0.0)
    live = res["live"]
    commits = extra["live"]["commits"]
    t0 = live["t0_ms"]
    last_due = t0 + max(f["due_ms"] for f in live["files"])
    put("ingest.backlog_files_end", sum(
        1 for f in live["files"]
        if commits["commit_ms"].get(str(commits["file_batch"].get(f["name"])), float("inf")) > last_due))
    put("ingest.generator_late_s", max((f["moved_ms"] - f["due_ms"]) / 1e3 for f in live["files"]))
    writes = {True: [], False: []}
    for w in res["live"]["writes"]:
        writes[w["traced"]].append(w["write_s"])
    if writes[True] and writes[False]:
        put("trace.overhead_s", _p50(writes[True]) - _p50(writes[False]))
    # every live trigger, traced or not: the share of the window in which
    # no trigger ran is time no layer accounts for
    live_prog = _lines(os.path.join(trace_dir, "live_progress.jsonl"))
    window = (max(commits["commit_ms"].values()) - t0) / 1e3 if commits["commit_ms"] else 0.0
    busy = sum(p["durationMs"].get("triggerExecution", 0) / 1e3 for p in live_prog
               if p["numInputRows"] > 0)
    put("trace.unattributed_share", max(0.0, 1 - busy / window) if window else 0.0)


def _table(layer, metrics, unplaced, n_ops):
    lines = [f"{'layer':<18}{'self_s':>10}{'spans':>7}{'jobs':>7}{'stages':>8}{'tasks':>8}"
             f"{'input_MB':>10}{'shufW_MB':>10}{'spill_MB':>10}"]
    for name, L in layer.items():
        if not (L["spans"] or L["self_s"]) and name not in LAYERS:
            continue
        lines.append(f"{name:<18}{L['self_s']:>10.3f}{L['spans']:>7}{L['jobs']:>7}{L['stages']:>8}"
                     f"{L['tasks']:>8}{L['input_bytes'] / 1e6:>10.2f}"
                     f"{L['shuffle_write_bytes'] / 1e6:>10.2f}{L['spill_bytes'] / 1e6:>10.2f}")
    if unplaced:
        lines.append("catalyst phases outside every span: " +
                     ", ".join(f"{k} {v:.3f}s" for k, v in sorted(unplaced.items())))
    lines.append(f"per-op metrics divide by {n_ops} ops")
    for k, (v, u) in metrics.items():
        if v:
            lines.append(f"  {k:<44}{v:>14.6g} {u}")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(summarize(sys.argv[1])["table"])

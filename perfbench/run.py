#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload <ingest|search_serve|curate_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from --seed (perfbench/gen.py), starts one JVM
(perfbench.Main) on local[nproc], checks every output against its
oracle outside the timed window (perfbench/checks.py), and prints a
report followed by one JSON line: end-to-end metrics with --trace 0,
per-layer metrics (perfbench/trace_summary.py) with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
from statistics import median
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402
import trace_summary  # noqa: E402

WORKLOADS = ("ingest", "search_serve", "curate_batch")
BUILD = ".bench_build"
JVM_TIMEOUT_S = 150
HEAP = "4g"
# the --add-opens Spark needs on JDK 17 outside spark-submit (as build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

# input sizes per workload
INGEST_WARM = (2, 200)           # files, records per file
INGEST_DRAIN = (24, 2000)
INGEST_DRAIN_FILES_PER_BATCH = 6
INGEST_LIVE_RECORDS = 240        # per file; one file every interval:
INGEST_LIVE_INTERVAL_S = 0.05    # 4,800 rec/s, the reference fleet ceiling
SEARCH_APPEND_DOCS = 50
CURATE_REPLICAS = 4
CURATE_BASE = (250, 100)         # docs, vectors resampled CURATE_REPLICAS times
# search_serve and curate_batch measure a fixed amount of work, so the
# number of samples behind each percentile does not change when the
# engine gets faster or slower: one op cycle (gen.CYCLE) or one curation
# pass per this many seconds asked, at least one. The figures are about
# one cycle's and one pass's time on a 4-core host.
SEARCH_CYCLE_S = 10
CURATE_PASS_S = 25


# the end-to-end metrics every workload reports, with their units
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("work_per_s", "1/s")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build compiles, so a changed checkout is
    rebuilt and an unchanged one is not."""
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness; returns the runtime classpath."""
    for need in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"perfbench: {need} not found under {root}; "
                             "run from the root of a repository checkout")
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp_file = os.path.join(root, BUILD, "build.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("perfbench: building engine + harness with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    export = os.path.join(root, BUILD, "classpath.export")
    cmd = ["sbt", "--batch", *opts, "compile", "writeClasspath"]
    with open(os.path.join(root, BUILD, "build.log"), "w") as out:
        rc = subprocess.call(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                             stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(export):
        raise SystemExit(f"perfbench: build failed (rc={rc}), see {BUILD}/build.log")
    os.replace(export, cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def units(seconds, per_unit_s):
    """Whole cycles or passes for a run asked to measure `seconds`."""
    return max(1, round(seconds / per_unit_s))


def generate(workload, seed, seconds, input_dir):
    if workload == "ingest":
        live_files = int(round(seconds / INGEST_LIVE_INTERVAL_S))
        gen.ingest(seed, os.path.join(input_dir, "ingest"),
                   {"warm": INGEST_WARM, "drain": INGEST_DRAIN,
                    "live": (live_files, INGEST_LIVE_RECORDS)},
                   INGEST_DRAIN_FILES_PER_BATCH, INGEST_LIVE_INTERVAL_S)
    elif workload == "search_serve":
        gen.corpus(seed, os.path.join(input_dir, "corpus"), replicas=1)
        gen.requests(seed, os.path.join(input_dir, "requests"),
                     units(seconds, SEARCH_CYCLE_S), SEARCH_APPEND_DOCS)
    else:
        gen.corpus(seed, os.path.join(input_dir, "corpus"), CURATE_REPLICAS, *CURATE_BASE)


def run_jvm(classpath, workload, input_dir, out_dir, seconds, trace):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out_dir}/tmp",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath,
           "perfbench.Main", "--workload", workload, "--input", input_dir,
           "--out", out_dir, "--seconds", str(seconds),
           "--passes", str(units(seconds, CURATE_PASS_S)), "--trace", str(trace)]
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: harness JVM exceeded {JVM_TIMEOUT_S}s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: harness JVM failed (rc={rc}):\n{tail}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def tail(values):
    """The highest percentile with at least 10 samples beyond it (the
    11th-largest sample), as (value, percentile, n). With 20 samples or
    fewer that sample would sit at or below the median, so the tail is
    the maximum instead."""
    v = sorted(values)
    n = len(v)
    if n <= 20:
        return v[-1], 100.0, n
    return v[n - 11], round(100.0 * (n - 10) / n, 2), n


def ingest_metrics(res, out_dir, input_dir):
    cp = checks.ingest_commits
    truth = checks.load_json(os.path.join(input_dir, "ingest", "truth.json"))
    drain = cp(os.path.join(out_dir, "drain", "ckpt"))
    live = cp(os.path.join(out_dir, "live", "ckpt"))
    # steady drain rate: records of every batch after the first over the
    # time between the first and the last commit (the first batch also
    # pays query start)
    records = {}
    for name, t in truth["drain"].items():
        b = drain["file_batch"][name]
        records[b] = records.get(b, 0) + t["records"]
    first, last = min(drain["commit_ms"]), max(drain["commit_ms"])
    drain_rps = (sum(records.values()) - records[first]) / (
        (drain["commit_ms"][last] - drain["commit_ms"][first]) / 1e3)
    t0 = res["live"]["t0_ms"]
    lags, late = [], []
    for f in res["live"]["files"]:
        batch = live["file_batch"].get(f["name"])
        if batch is None or batch not in live["commit_ms"]:
            continue
        lags.append((live["commit_ms"][batch] - (t0 + f["due_ms"])) / 1e3)
        late.append((f["moved_ms"] - f["due_ms"]) / 1e3)
    lag_tail, pct, n = tail(lags)
    named = {
        "ingest_drain_rps": (drain_rps, "1/s"),
        "ingest_lag_p50_s": (median(lags), "s"),
        "ingest_lag_tail_s": (lag_tail, "s", f"p{pct} of n={n} files"),
        "ingest.generator_late_s": (max(late), "s", "max lateness"),
    }
    return named, {"op_p50_s": median(lags), "op_tail_s": lag_tail,
                   "work_per_s": drain_rps}


def serve_metrics(res):
    reads = res["requests"]
    search = [r["latency_s"] for r in reads if r["kind"] != "aggs"]
    aggs = [r["latency_s"] for r in reads if r["kind"] == "aggs"]
    s_tail, s_pct, s_n = tail(search)
    a_tail, a_pct, a_n = tail(aggs)
    ops = len(res["requests"]) + len(res["append_s"])
    named = {
        "search_p50_s": (median(search), "s"),
        "search_tail_s": (s_tail, "s", f"p{s_pct} of n={s_n}"),
        "aggs_p50_s": (median(aggs), "s"),
        "aggs_tail_s": (a_tail, "s", f"p{a_pct} of n={a_n}"),
        "append_p50_s": (median(res["append_s"]), "s", f"n={len(res['append_s'])}"),
    }
    read_tail = tail([r["latency_s"] for r in reads])[0]
    return named, {"op_p50_s": median([r["latency_s"] for r in reads]),
                   "op_tail_s": read_tail, "work_per_s": ops / res["window_s"]}


def curate_metrics(res):
    # the unit of work a curation user waits for is the whole batch: one
    # pass from input to all results
    passes = [p for p in res["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    wall = median(walls)
    docs = CURATE_BASE[0] * CURATE_REPLICAS
    named = {"curate_wall_s": (wall, "s", f"median of {len(passes)} passes")}
    for o in passes[0]["ops"]:
        named[f"{o['op']}_s"] = (o["build_s"] + o["exec_s"], "s", "first pass, build + write")
    return named, {"op_p50_s": wall, "op_tail_s": tail(walls)[0],
                   "work_per_s": docs / wall}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classpath = build(root)

    run_dir = os.path.join(root, BUILD, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, out_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    t0 = time.monotonic()
    generate(a.workload, a.seed, a.seconds, input_dir)
    load0 = loadavg()
    try:
        t1 = time.monotonic()
        res = run_jvm(classpath, a.workload, input_dir, out_dir, a.seconds, a.trace)
        t2 = time.monotonic()
        load1 = loadavg()
        if a.workload == "ingest":
            named, e2e = ingest_metrics(res, out_dir, input_dir)
            verdict = checks.check_ingest(input_dir, out_dir)
        elif a.workload == "search_serve":
            named, e2e = serve_metrics(res)
            verdict = checks.check_serve(input_dir, out_dir, res)
        else:
            named, e2e = curate_metrics(res)
            verdict = checks.check_curate(input_dir, out_dir, res)
        if a.trace:
            trace_dir = os.path.join(root, BUILD, "traces", f"{a.workload}-s{a.seed}")
            trace_summary.collect(a.workload, out_dir, input_dir, trace_dir)
            per_layer = trace_summary.summarize(trace_dir)
            with open(os.path.join(trace_dir, "layers.txt"), "w") as f:
                f.write(per_layer["table"] + "\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    setup_s = res["session_s"] + median(res["setup_prep_s"])
    fail_ratio = verdict["failed"] / verdict["attempted"]
    named.update({"setup_s": (setup_s, "s"), "fail_ratio": (fail_ratio, "ratio"),
                  "peak_rss_mb": (res["peak_rss_mb"], "MB")})
    host = {"nproc": os.cpu_count(), "loadavg_before": load0,
            "loadavg_after": load1, "cpu_probe_s": res["cpu_probe_s"],
            "generate_s": round(t1 - t0, 2), "jvm_s": round(t2 - t1, 2),
            "check_s": round(time.monotonic() - t2, 2)}
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print("host " + json.dumps(host))
    for k, v in named.items():
        note = f"  ({v[2]})" if len(v) > 2 else ""
        print(f"  {k:<26} {v[0]:>12.6g} {v[1]}{note}")
    print(f"check {'PASS' if verdict['failed'] == 0 else 'FAIL'}: "
          f"{verdict['attempted'] - verdict['failed']}/{verdict['attempted']} ok")
    for msg in verdict["messages"][:20]:
        print("  " + msg)
    if a.trace:
        print(per_layer["table"])
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer["metrics"].items()}
    else:
        e2e["setup_s"] = setup_s
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": verdict["failed"] == 0,
                      "attempted": verdict["attempted"],
                      "failed": verdict["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

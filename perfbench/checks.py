"""Output checks for the benchmark, run after the timed window.

Each check returns {"attempted", "failed", "messages"}; a failed check
counts against the run's `failed` total (and so its fail ratio).

- ingest:       per committed micro-batch, the index holds exactly the
                distinct uuids of the valid, fresh records in that batch's
                files, and the DLQ holds the generator's count of rows per
                reason (parse_failure, event_time_outlier).
- search_serve: every collected page equals DuckDB running the request's
                generated SQL (Dsl.dslSqlOver / dslAggsSqlOver) over the
                documents the index held when the request was served.
- curate_batch: every op's output equals its registered oracle SQL
                (SparkEntry.oracleSql) run by DuckDB over the generated
                corpus.

Results are compared by the rule of tools/localverify.py: the same column
set, the same row count, no int-vs-float column kinds, and equal values
once rows are sorted by every column.
"""
import glob
import json
import math
import os
import re

import duckdb
import pandas as pd


def load_json(path):
    with open(path) as f:
        return json.load(f)


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET temp_directory = '.bench_build/duckdb-tmp'")
    return con


def oracle(con, sql):
    """Run an oracle query. Every CTE is marked MATERIALIZED first: the
    registered oracles unroll iterative algorithms (BPE merges, PQ
    training) as chains of CTEs, which DuckDB would otherwise inline and
    recompute once per reference. The hint changes cost, not results."""
    return con.execute(re.sub(r"\b(\w+)\s+AS\s*\(", r"\1 AS MATERIALIZED (", sql)).df()


def same_result(oracle, actual):
    """None when the two frames are equal by the localverify rule, else a
    one-line description of the first difference."""
    ocols, scols = sorted(oracle.columns), sorted(actual.columns)
    if ocols != scols:
        return f"columns differ: got {scols}, oracle {ocols}"
    if len(oracle) != len(actual):
        return f"rows differ: got {len(actual)}, oracle {len(oracle)}"

    def kind(k):
        return "i" if k in "iu" else k
    for c in ocols:
        if {kind(oracle[c].dtype.kind), kind(actual[c].dtype.kind)} == {"i", "f"}:
            return f"int-vs-float column {c}: oracle {oracle[c].dtype}, got {actual[c].dtype}"
    o = oracle[ocols].sort_values(ocols).reset_index(drop=True)
    s = actual[ocols].sort_values(ocols).reset_index(drop=True)
    for c in ocols:
        for i, (a, b) in enumerate(zip(o[c], s[c])):
            if _equal(a, b):
                continue
            return f"value differs: column {c} row {i}: oracle {a!r}, got {b!r}"
    return None


def _equal(a, b):
    try:
        if a == b:
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    try:
        return list(a) == list(b)
    except TypeError:
        return False


# ------------------------------------------------------------------ ingest

def ingest_commits(ckpt):
    """From a streaming checkpoint: each committed batch's commit time
    (mtime of commits/<id>, in epoch ms) and the batch each source file
    was read in (sources/0/<id>[.compact])."""
    commit_ms = {}
    cdir = os.path.join(ckpt, "commits")
    for name in os.listdir(cdir) if os.path.isdir(cdir) else []:
        if name.isdigit():
            commit_ms[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime_ns / 1e6
    file_batch = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(path).split(".")[0].isdigit():
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    file_batch[os.path.basename(e["path"])] = e["batchId"]
    return {"commit_ms": commit_ms, "file_batch": file_batch}


def expected_batches(truth_files, file_batch):
    """Per batch id: the set of index uuids and the DLQ rows by reason
    the generator's ground truth implies."""
    exp = {}
    for name, t in truth_files.items():
        b = file_batch.get(name)
        if b is None:
            continue
        e = exp.setdefault(b, {"uuids": set(), "parse_failure": 0,
                               "event_time_outlier": 0, "files": 0})
        e["uuids"].update(t["uuids"])
        e["parse_failure"] += t["parse_failure"]
        e["event_time_outlier"] += t["event_time_outlier"]
        e["files"] += 1
    return exp


def compare_batches(expected, index_rows, dlq_counts):
    """Check each batch; `index_rows` maps batch → list of uuids written
    to the index, `dlq_counts` maps (batch, reason) → rows. Returns
    [(batch, message)] for the batches that disagree."""
    bad = [(b, f"index rows for a batch with no input files: {len(rows)}")
           for b, rows in sorted(index_rows.items()) if b not in expected]
    for b, e in sorted(expected.items()):
        got = index_rows.get(b, [])
        if len(got) != len(e["uuids"]) or set(got) != e["uuids"]:
            bad.append((b, f"index rows {len(got)} ({len(set(got))} distinct), "
                           f"expected {len(e['uuids'])} distinct uuids"))
            continue
        for reason in ("parse_failure", "event_time_outlier"):
            n = dlq_counts.get((b, reason), 0)
            if n != e[reason]:
                bad.append((b, f"dlq {reason} rows {n}, expected {e[reason]}"))
                break
    return bad


def parquet_rows(con, root, sql):
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    if not files:
        return []
    return con.execute(sql.format(src=f"read_parquet('{root}/**/*.parquet', "
                                      "hive_partitioning = true)")).fetchall()


def check_ingest(input_dir, out_dir, phases=("drain", "live")):
    truth = load_json(os.path.join(input_dir, "ingest", "truth.json"))
    con = connect()
    attempted = failed = 0
    messages = []
    for phase in phases:
        d = os.path.join(out_dir, phase)
        commits = ingest_commits(os.path.join(d, "ckpt"))
        files = truth[phase]
        attempted += len(files)
        missing = [n for n in files
                   if commits["file_batch"].get(n) not in commits["commit_ms"]]
        if missing:
            failed += len(missing)
            messages.append(f"ingest {phase}: {len(missing)} files never committed")
        index_rows = {}
        for b, u in parquet_rows(con, os.path.join(d, "index"),
                                  "SELECT epoch_id, uuid FROM {src}"):
            index_rows.setdefault(int(b), []).append(u)
        dlq = {(int(b), r): n for b, r, n in parquet_rows(
            con, os.path.join(d, "dlq"),
            "SELECT epoch_id, reason, count(*) FROM {src} GROUP BY ALL")}
        exp = expected_batches(files, commits["file_batch"])
        for b, msg in compare_batches(exp, index_rows, dlq):
            failed += exp.get(b, {"files": 1})["files"]
            messages.append(f"ingest {phase} batch {b}: {msg}")
    return {"attempted": attempted, "failed": failed, "messages": messages}


# ------------------------------------------------------------ search_serve

def check_serve(input_dir, out_dir, res):
    con = connect()
    corpus = os.path.join(input_dir, "corpus", "documents.parquet")
    appends = sorted(glob.glob(os.path.join(input_dir, "requests", "appends", "*.parquet")))
    top = max([r["epochs"] for r in res["requests"]] + [0])
    for k in range(top + 1):
        srcs = [corpus] + appends[:k]
        con.execute(f"CREATE VIEW docs_e{k} AS SELECT * FROM read_parquet({srcs!r})")
    pages = {}
    for kind in ("search", "aggs"):
        d = os.path.join(out_dir, "responses", kind)
        if os.path.isdir(d):
            df = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
            for req, g in df.groupby("req"):
                pages[int(req)] = g.drop(columns=["req"]).reset_index(drop=True)
    failed = len(res.get("errors", []))
    messages = [f"op {e['i']} ({e['kind']}) raised: {e['error']}" for e in res.get("errors", [])]
    for r in res["requests"]:
        expected = oracle(con, r["sql"])
        got = pages.get(r["i"])
        if got is None:  # an empty page writes no rows
            got = expected.iloc[0:0] if r["rows"] == 0 else None
        msg = ("page missing" if got is None else same_result(expected, got))
        if msg:
            failed += 1
            messages.append(f"request {r['i']} ({r['kind']}): {msg}")
    attempted = len(res["requests"]) + len(res["append_s"]) + len(res.get("errors", []))
    return {"attempted": attempted, "failed": failed, "messages": messages}


# ------------------------------------------------------------ curate_batch

def check_curate(input_dir, out_dir, res):
    con = connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/corpus/{t}.parquet')")
    attempted = failed = 0
    messages = []
    oracles = {}
    for p in res["passes"]:
        for o in p["ops"]:
            attempted += 1
            name = o["op"]
            if o.get("error"):
                failed += 1
                messages.append(f"pass {p['pass']} {name} raised: {o['error']}")
                continue
            if name not in oracles:
                oracles[name] = oracle(con, res["oracle_sql"][name])
            got = con.execute(f"SELECT * FROM read_parquet("
                              f"'{out_dir}/pass{p['pass']}/out/{name}/*.parquet')").df()
            msg = same_result(oracles[name], got)
            if msg:
                failed += 1
                messages.append(f"pass {p['pass']} {name}: {msg}")
    return {"attempted": attempted, "failed": failed, "messages": messages}

"""Seeded input generators for the benchmark.

Every input a workload reads is made here from the run's seed, so the same
seed gives byte-identical files and the engine only ever sees generated
inputs. Nothing here reads or writes outside the directory it is given.

- corpus():    `documents` + `embeddings` tables shaped like the engine's
               sf0.1 fixture (30-word vocabulary plus near-duplicate
               families marked `dup`, 10-100 words per doc, 20 sources,
               five languages, unit-norm 64-d vectors with 10 labels),
               optionally resampled k times with id-offset replicas whose
               tokens and vectors are perturbed by seed.
- ingest():    newline-delimited JSON wire payloads for the ingest stream:
               a drain backlog and an open-loop live schedule, with 2%
               malformed records, 1% event-time outliers, 5% uuids
               redelivered in a later file and 0-3 tags per record, plus
               the per-file ground truth the output check compares to.
- requests():  the search_serve operation stream: DSL search bodies
               (match, bool with phrase/range/term, filter-only), terms +
               histogram aggregation bodies, and append epochs of new docs.
"""
import json
import os
import random
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
BASE_DOCS = 5000
BASE_VECS = 2000
DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05
# replica r of a resample carries ids offset by r * REPLICA_ID_STRIDE
REPLICA_ID_STRIDE = 1_000_000
REPLICA_TOKEN_FLIP = 0.05
REPLICA_VEC_NOISE = 0.05
# appended search docs take ids from here on, clear of every replica
APPEND_ID_BASE = 50_000_000

# 2026-01-01T00:00:00Z: event times sit in the three days after it, well
# inside the sink's 3650-day freshness window
INGEST_EPOCH_MS = 1_767_225_600_000
MALFORMED_SHARE = 0.02
OUTLIER_SHARE = 0.01
REDELIVER_SHARE = 0.05

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
VEC_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _rng(seed, stream):
    """An independent generator per (seed, input kind)."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _docs(rng, ids):
    """Documents with the fixture's shape; DUP_SHARE of them copy an
    earlier doc of the same batch, flip one token and append `dup`."""
    texts, langs, sources = [], [], []
    for i, doc_id in enumerate(ids):
        if i > 0 and rng.random() < DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split()
            toks = [t for t in toks if t != "dup"]
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            toks.append("dup")
        else:
            n = int(rng.integers(10, 101))
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
        texts.append(" ".join(toks))
        langs.append(LANGS[int(rng.choice(len(LANGS), p=LANG_P))])
        sources.append(f"src{doc_id % N_SOURCES}")
    return {"doc_id": list(ids), "text": texts, "lang": langs,
            "source": sources, "n_chars": [len(t) for t in texts]}


def _perturb_text(rng, text):
    toks = text.split()
    for j in range(len(toks)):
        if toks[j] != "dup" and rng.random() < REPLICA_TOKEN_FLIP:
            toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(toks)


def _unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def corpus(seed, out_dir, replicas=1, base_docs=BASE_DOCS, base_vecs=BASE_VECS):
    """Write documents.parquet and embeddings.parquet under out_dir:
    base_docs docs and base_vecs vectors, times `replicas`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)
    base = _docs(rng, range(base_docs))
    centers = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, base_vecs).astype(np.int32)
    vecs = _unit(rng.standard_normal((base_vecs, DIM)) + 0.6 * centers[labels])
    docs = {k: list(v) for k, v in base.items()}
    all_vecs, vec_ids = [vecs], list(range(base_vecs))
    for r in range(1, replicas):
        off = r * REPLICA_ID_STRIDE
        docs["doc_id"] += [d + off for d in base["doc_id"]]
        texts = [_perturb_text(rng, t) for t in base["text"]]
        docs["text"] += texts
        docs["lang"] += base["lang"]
        docs["source"] += base["source"]
        docs["n_chars"] += [len(t) for t in texts]
        all_vecs.append(_unit(vecs + REPLICA_VEC_NOISE *
                              rng.standard_normal(vecs.shape)))
        vec_ids += [v + off for v in range(base_vecs)]
    _write(pa.table(docs, schema=DOC_SCHEMA), os.path.join(out_dir, "documents.parquet"))
    emb = np.concatenate(all_vecs)
    _write(pa.table({"vec_id": vec_ids,
                     "embedding": [row.tolist() for row in emb],
                     "label": np.tile(labels, replicas)}, schema=VEC_SCHEMA),
           os.path.join(out_dir, "embeddings.parquet"))


def _record(rnd):
    rec = {"identifier": f"id-{rnd.randrange(500)}",
           "name": f"{rnd.choice(VOCAB)} {rnd.choice(VOCAB)}",
           "uuid": str(uuid.UUID(int=rnd.getrandbits(128))),
           "type": rnd.choice(["schema", "table", "topic", "view"]),
           "ingestion_time": INGEST_EPOCH_MS + rnd.randrange(3 * 86_400_000)}
    n_tags = rnd.randrange(4)
    if n_tags:
        rec["tags"] = [{"type": f"t{rnd.randrange(8)}", "value": rnd.choice(VOCAB)}
                       for _ in range(n_tags)]
    elif rnd.random() < 0.5:
        rec["tags"] = None
    return rec


def _payload_file(rnd, n, pool):
    """One file of n wire payloads. `pool` holds the valid, fresh lines
    of earlier files, which may be redelivered verbatim; this file's
    own valid lines join it afterwards. Returns (lines, truth)."""
    lines, fresh = [], []
    truth = {"records": n, "parse_failure": 0, "event_time_outlier": 0,
             "uuids": []}
    for _ in range(n):
        u = rnd.random()
        if u < REDELIVER_SHARE and pool:
            line, uid = pool[rnd.randrange(len(pool))]
            lines.append(line)
            truth["uuids"].append(uid)
            continue
        rec = _record(rnd)
        if u < REDELIVER_SHARE + MALFORMED_SHARE:
            truth["parse_failure"] += 1
            if rnd.random() < 0.5:
                lines.append(json.dumps(rec)[:rnd.randrange(5, 40)])
            else:
                del rec["uuid"]
                lines.append(json.dumps(rec))
            continue
        if u < REDELIVER_SHARE + MALFORMED_SHARE + OUTLIER_SHARE:
            rec["ingestion_time"] = (0 if rnd.random() < 0.5
                                     else INGEST_EPOCH_MS + 400 * 365 * 86_400_000)
            truth["event_time_outlier"] += 1
            lines.append(json.dumps(rec))
            continue
        line = json.dumps(rec)
        lines.append(line)
        truth["uuids"].append(rec["uuid"])
        fresh.append((line, rec["uuid"]))
    pool.extend(fresh)
    return lines, truth


def ingest(seed, out_dir, phases, drain_files_per_batch, live_interval_s):
    """Write the ingest stream under out_dir. `phases` maps each phase
    (warm, drain, live) to (files, records per file):

    <phase>/NNNNN.json  newline-delimited payloads; live file i is due
                        i * live_interval_s after the live phase starts
    truth.json          per phase and file: record count, expected DLQ
                        rows by reason, uuids of the valid, fresh records
    config.json         the batching and rate settings the harness uses
    """
    rnd = random.Random(f"ingest-{seed}")
    truth = {}
    for phase, (files, n) in phases.items():
        pool = []  # redeliveries stay inside one phase's stream
        d = os.path.join(out_dir, phase)
        os.makedirs(d, exist_ok=True)
        truth[phase] = {}
        for i in range(files):
            name = f"{i:05d}.json"
            lines, t = _payload_file(rnd, n, pool)
            with open(os.path.join(d, name), "w") as f:
                f.write("\n".join(lines) + "\n")
            truth[phase][name] = t
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    with open(os.path.join(out_dir, "config.json"), "w") as f:
        json.dump({"drain_files_per_batch": drain_files_per_batch,
                   "live_interval_s": live_interval_s,
                   "live_records": phases["live"][1]}, f, sort_keys=True)


# one cycle of the search_serve stream: two requests of each read kind
# (an equal share, as nothing gives the kinds' real shares) and one
# append, with reads of every kind on both sides of the append
CYCLE = ["match", "bool", "filter", "aggs", "append", "aggs", "filter",
         "bool", "match"]


def _words(rng, k):
    return " ".join(VOCAB[j] for j in rng.choice(len(VOCAB), k, replace=False))


def _body(rng, kind):
    if kind == "match":
        return {"query": {"match": {"text": _words(rng, 2)}}, "size": 10}
    if kind == "bool":
        lo = int(rng.integers(1, 4)) * 50
        return {"query": {"bool": {
            "must": [{"match": {"text": _words(rng, 1)}}],
            "should": [{"match_phrase": {"text": _words(rng, 2)}}],
            "filter": [{"range": {"n_chars": {"gte": lo, "lt": lo + 300}}},
                       {"term": {"lang": LANGS[int(rng.integers(0, len(LANGS)))]}}]}},
            "size": 10}
    if kind == "filter":
        return {"query": {"bool": {"filter": [
            {"term": {"source": f"src{int(rng.integers(0, N_SOURCES))}"}},
            {"range": {"n_chars": {"gte": int(rng.integers(1, 6)) * 50}}}]}},
            "size": 10}
    return {"query": {"match": {"text": _words(rng, 1)}}, "size": 0,
            "aggs": {"langs": {"terms": {"field": "lang", "size": 5}},
                     "len_hist": {"histogram": {"field": "n_chars",
                                                "interval": 100}}}}


def requests(seed, out_dir, cycles, append_docs):
    """Write warmup.json (one untimed request of each read kind), ops.json
    (the timed op stream: `cycles` whole cycles of CYCLE) and
    appends/eNNN.parquet (one file of new docs per append epoch) under
    out_dir."""
    rng = _rng(seed, 3)
    os.makedirs(os.path.join(out_dir, "appends"), exist_ok=True)
    warmup = [{"kind": k, "body": json.dumps(_body(rng, k))}
              for k in ("match", "bool", "filter", "aggs")]
    ops, epoch = [], 0
    for kind in CYCLE * cycles:
        if kind == "append":
            epoch += 1
            name = f"e{epoch:03d}"
            ids = range(APPEND_ID_BASE + epoch * 1000,
                        APPEND_ID_BASE + epoch * 1000 + append_docs)
            _write(pa.table(_docs(rng, ids), schema=DOC_SCHEMA),
                   os.path.join(out_dir, "appends", name + ".parquet"))
            ops.append({"kind": "append", "epoch": name})
        else:
            ops.append({"kind": kind, "body": json.dumps(_body(rng, kind))})
    for name, v in (("warmup.json", warmup), ("ops.json", ops)):
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(v, f, indent=0)

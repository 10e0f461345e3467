"""The benchmark's own tests: seeded generators and the output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Needs only Python (numpy, pyarrow, pandas, duckdb); no Spark.
"""
import hashlib
import json
import os
import statistics
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import run
import trace_summary


def tree_hash(root):
    """sha256 over every file's relative path and bytes under root."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate_all(seed, out):
    """Every generator, at small sizes."""
    gen.corpus(seed, os.path.join(out, "corpus"), replicas=4, base_docs=40, base_vecs=16)
    gen.ingest(seed, os.path.join(out, "ingest"),
               {"warm": (1, 20), "drain": (3, 50), "live": (4, 30)}, 2, 0.05)
    gen.requests(seed, os.path.join(out, "requests"), 2, 5)


# sha256 of generate_all(7, ...): changes only when a generator does
PINNED_SEED_7 = "f5782195edf2e233df872b2a4ada71f8e305244076bdd51e7184f5b9828253a3"


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_and_pinned(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            generate_all(7, a)
            generate_all(7, b)
            self.assertEqual(tree_hash(a), tree_hash(b))
            self.assertEqual(tree_hash(a), PINNED_SEED_7)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            generate_all(7, a)
            generate_all(8, b)
            for sub in ("corpus", "ingest", "requests"):
                self.assertNotEqual(tree_hash(os.path.join(a, sub)),
                                    tree_hash(os.path.join(b, sub)), sub)

    def test_writes_only_under_its_directory(self):
        with tempfile.TemporaryDirectory() as root:
            out = os.path.join(root, "out")
            cwd = os.getcwd()
            os.chdir(root)
            try:
                generate_all(7, out)
            finally:
                os.chdir(cwd)
            self.assertEqual(os.listdir(root), ["out"])

    def test_ingest_stream_properties(self):
        with tempfile.TemporaryDirectory() as out:
            gen.ingest(3, out, {"warm": (1, 10), "drain": (20, 500), "live": (1, 10)},
                       5, 0.05)
            truth = checks.load_json(os.path.join(out, "truth.json"))["drain"]
            n = sum(t["records"] for t in truth.values())
            bad = sum(t["parse_failure"] for t in truth.values())
            late = sum(t["event_time_outlier"] for t in truth.values())
            uuids = [u for t in truth.values() for u in t["uuids"]]
            self.assertAlmostEqual(bad / n, gen.MALFORMED_SHARE, delta=0.01)
            self.assertAlmostEqual(late / n, gen.OUTLIER_SHARE, delta=0.005)
            # redelivered records repeat a uuid of an earlier file
            self.assertAlmostEqual(1 - len(set(uuids)) / len(uuids),
                                   gen.REDELIVER_SHARE, delta=0.015)
            with open(os.path.join(out, "drain", "00000.json")) as f:
                lines = f.read().splitlines()
            self.assertEqual(len(lines), 500)


class TailTest(unittest.TestCase):
    def test_maximum_up_to_twenty_samples(self):
        for n in range(1, 21):
            values = [float(x) for x in range(n, 0, -1)]
            self.assertEqual(run.tail(values), (float(n), 100.0, n))

    def test_eleventh_largest_beyond_twenty(self):
        for n in range(21, 61):
            values = [float(x) for x in range(n)]
            value, pct, count = run.tail(values)
            self.assertEqual(value, float(n - 11))
            self.assertEqual(sum(v > value for v in values), 10)
            self.assertGreaterEqual(value, statistics.median(values))
            self.assertEqual((pct, count), (round(100.0 * (n - 10) / n, 2), n))


class PerLayerNamesTest(unittest.TestCase):
    def test_read_from_benchmark_json(self):
        names = trace_summary.per_layer_names()
        self.assertEqual(len(names), len({n for n, _ in names}))
        self.assertIn(("Jvm.gc_s", "s"), names)


class SameResultTest(unittest.TestCase):
    good = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 0.125]})

    def test_equal_in_any_row_order(self):
        self.assertIsNone(checks.same_result(self.good, self.good.iloc[::-1]))

    def test_wrong_results_fail(self):
        wrong_value = self.good.assign(score=[0.5, 0.25, 0.126])
        missing_row = self.good.iloc[:2]
        wrong_cols = self.good.rename(columns={"score": "s"})
        float_ids = self.good.assign(doc_id=[1.0, 2.0, 3.0])
        for wrong in (wrong_value, missing_row, wrong_cols, float_ids):
            self.assertIsNotNone(checks.same_result(self.good, wrong))


def _write_parquet(df, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


class CheckServeTest(unittest.TestCase):
    def run_check(self, page):
        with tempfile.TemporaryDirectory() as d:
            inp, out = os.path.join(d, "in"), os.path.join(d, "out")
            gen.corpus(1, os.path.join(inp, "corpus"), base_docs=30, base_vecs=4)
            sql = "SELECT doc_id, n_chars FROM docs_e0 WHERE doc_id < 3"
            _write_parquet(page.assign(req=0),
                           os.path.join(out, "responses", "search", "part-0.parquet"))
            res = {"requests": [{"i": 0, "kind": "match", "epochs": 0, "sql": sql,
                                 "rows": len(page)}], "append_s": []}
            expected = checks.connect().execute(
                sql.replace("docs_e0", f"read_parquet('{inp}/corpus/documents.parquet')")).df()
            return checks.check_serve(inp, out, res), expected

    def test_right_and_wrong_pages(self):
        v, expected = self.run_check(pd.DataFrame({"doc_id": [0, 1, 2], "n_chars": [0, 0, 0]}))
        self.assertEqual(v["failed"], 1, v)
        right = self.run_check(expected)[0]
        self.assertEqual(right["failed"], 0, right)


class CheckCurateTest(unittest.TestCase):
    def run_check(self, got):
        with tempfile.TemporaryDirectory() as d:
            inp, out = os.path.join(d, "in"), os.path.join(d, "out")
            gen.corpus(1, os.path.join(inp, "corpus"), base_docs=30, base_vecs=4)
            _write_parquet(got, os.path.join(out, "pass0", "out", "lang_counts", "part-0.parquet"))
            res = {"passes": [{"pass": 0, "ops": [{"op": "lang_counts"}]}],
                   "oracle_sql": {"lang_counts": "WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n "
                                                 "FROM documents GROUP BY lang) SELECT * FROM c"}}
            return checks.check_curate(inp, out, res)

    def test_right_and_wrong_outputs(self):
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(1, d, base_docs=30, base_vecs=4)
            langs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()["lang"]
        right = langs.value_counts().rename_axis("lang").reset_index(name="n")
        right["n"] = right["n"].astype("int64")
        self.assertEqual(self.run_check(right)["failed"], 0)
        wrong = right.assign(n=right["n"] + ([1] + [0] * (len(right) - 1)))
        self.assertEqual(self.run_check(wrong)["failed"], 1)


class CheckIngestTest(unittest.TestCase):
    def make_run(self, d, drop_uuid=False, extra_dlq=False):
        inp, out = os.path.join(d, "in"), os.path.join(d, "out")
        gen.ingest(5, os.path.join(inp, "ingest"),
                   {"warm": (1, 10), "drain": (2, 40), "live": (1, 10)}, 2, 0.05)
        truth = checks.load_json(os.path.join(inp, "ingest", "truth.json"))
        for phase in ("drain", "live"):
            ck = os.path.join(out, phase, "ckpt")
            os.makedirs(os.path.join(ck, "commits"))
            os.makedirs(os.path.join(ck, "sources", "0"))
            open(os.path.join(ck, "commits", "0"), "w").close()
            with open(os.path.join(ck, "sources", "0", "0"), "w") as f:
                f.write("v1\n" + "\n".join(json.dumps({"path": f"file:/src/{n}", "batchId": 0})
                                           for n in truth[phase]) + "\n")
            uuids = sorted({u for t in truth[phase].values() for u in t["uuids"]})
            if drop_uuid and phase == "drain":
                uuids = uuids[1:]
            _write_parquet(pd.DataFrame({"uuid": uuids}),
                           os.path.join(out, phase, "index", "epoch_id=0", "part-0.parquet"))
            reasons = [r for t in truth[phase].values()
                       for r in ["parse_failure"] * t["parse_failure"] +
                       ["event_time_outlier"] * t["event_time_outlier"]]
            if extra_dlq and phase == "live":
                reasons.append("parse_failure")
            if reasons:
                _write_parquet(pd.DataFrame({"reason": reasons}),
                               os.path.join(out, phase, "dlq", "epoch_id=0", "part-0.parquet"))
        return checks.check_ingest(inp, out)

    def test_right_and_wrong_batches(self):
        for kwargs, failed in (({}, 0), ({"drop_uuid": True}, 2), ({"extra_dlq": True}, 1)):
            with tempfile.TemporaryDirectory() as d:
                v = self.make_run(d, **kwargs)
                self.assertEqual(v["attempted"], 3)
                self.assertEqual(v["failed"], failed, (kwargs, v))


if __name__ == "__main__":
    unittest.main()

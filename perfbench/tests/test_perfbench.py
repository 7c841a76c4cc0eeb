"""Tests of the benchmark's own generators and checks.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root (the fingerprint check imports
`tools/check.py`).
"""
import hashlib
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import checks  # noqa: E402
import gen  # noqa: E402

SMALL = dict(n_dump=400, n_files=2, backlog=3, diff_n=40, max_ticks=4, lookups_per_tick=4)


def tree_digest(root):
    """sha256 over every file's relative path and bytes (or one file's)."""
    h = hashlib.sha256()
    if os.path.isfile(root):
        with open(root, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def make_inputs(seed, out):
    gen.lifecycle(seed, f"{out}/lifecycle", **SMALL)
    gen.corpus(seed, f"{out}/corpus", 50, 40)
    gen.tpch(seed, f"{out}/tpch", 0.0005)
    gen.passes(seed, f"{out}/passes.txt", ["a", "b", "c", "d"], n=5)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            make_inputs(5, a)
            make_inputs(5, b)
            make_inputs(6, c)
            self.assertEqual(tree_digest(a), tree_digest(b))
            for sub in ("lifecycle", "corpus", "tpch", "passes.txt"):
                self.assertNotEqual(tree_digest(f"{a}/{sub}"), tree_digest(f"{c}/{sub}"), sub)

    def test_feed_resends_existing_ids_and_adds_new_ones(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.lifecycle(1, d, **SMALL)
            load = int(truth["states"]["load"]["changesets"].split(":")[0])
            after = int(truth["states"]["1"]["changesets"].split(":")[0])
            self.assertEqual(load, SMALL["n_dump"])
            # half of each diff re-sends live ids, half adds new ones
            self.assertEqual(after - load, SMALL["diff_n"] // 2)
            self.assertNotEqual(truth["states"]["load"], truth["states"]["1"])

    def test_incremental_digest_equals_from_scratch(self):
        rows = {1: "a", 2: "b", 3: "c"}
        acc = sum(gen.line_hash(x) for x in rows.values())
        acc += gen.line_hash("b2") - gen.line_hash("b")
        rows[2] = "b2"
        self.assertEqual(gen.digest(3, acc),
                         gen.digest(3, sum(gen.line_hash(x) for x in rows.values())))


class ChecksTest(unittest.TestCase):
    def lifecycle_ops(self, truth):
        seq = str(truth["backlog"])
        ops = []
        for key in ("load", seq, str(truth["backlog"] + 1)):
            st = truth["states"][key]
            ops.append({"kind": "check", "name": "state", "key": f"state/{key}", "ok": True,
                        "err": "", "obs": " ".join([st["changesets"], st["comments"],
                                                   ",".join(map(str, st["readme"]))])})
        lk = truth["lookups"][0]
        ops.append({"kind": "probe", "name": "lookup", "key": "lookup/1/0", "ok": True,
                    "err": "", "obs": lk["rows"][0]})
        return ops

    def test_matching_lifecycle_outputs_pass(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.lifecycle(2, d, **SMALL)
            self.assertEqual(checks.check("lifecycle", d, self.lifecycle_ops(truth), truth), [])

    def test_wrong_row_or_state_counts_as_failed(self):
        with tempfile.TemporaryDirectory() as d:
            truth = gen.lifecycle(2, d, **SMALL)
            ops = self.lifecycle_ops(truth)
            ops[0]["obs"] = ops[0]["obs"].replace(":", ":0", 1)
            ops[-1]["obs"] += "x"
            failed = checks.check("lifecycle", d, ops, truth)
            self.assertEqual(sorted(o["key"] for o in failed), ["lookup/1/0", "state/load"])

    def test_wrong_expected_fingerprint_counts_as_failed(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as run:
            os.makedirs(f"{run}/results/q")
            pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}),
                           f"{run}/results/q/part-0.parquet")
            ops = [{"kind": "warmup", "name": "q", "key": "fingerprint/q", "ok": True,
                    "err": "", "obs": ""}]
            right = {"q": checks.spark_fingerprint(run, "q")}
            self.assertEqual(checks.check("query_mix", run, ops, {}, oracle=right), [])
            wrong = {"q": (right["q"][0], "3:" + "0" * 64)}
            failed = checks.check("query_mix", run, ops, {}, oracle=wrong)
            self.assertEqual([o["key"] for o in failed], ["fingerprint/q"])

    def test_thrown_operation_counts_as_failed(self):
        ops = [{"kind": "main", "name": "pass", "key": "", "ok": False, "err": "boom",
                "obs": ""}]
        failed = checks.check("query_mix", "", ops, {}, oracle={})
        self.assertIn(("pass", "boom"), [(o["name"], o["why"]) for o in failed])


if __name__ == "__main__":
    unittest.main()

"""Self-tests of the benchmark: seeding, checkers, metric names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def scratch():
    os.makedirs(run.BUILD, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.BUILD)


def generate(workload, seed, out):
    return gen.generate(workload, seed, out, "tiny")


def same_files(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def link_output(truth):
    """A correct link_batch output: the min-ref row of each (Name, IBAN)
    group survives with dense ids in ref order; the clusters are the
    planted ones."""
    first = {}
    for ref, n, a in zip(truth["ref"], truth["name"], truth["iban"]):
        first[(n, a)] = min(ref, first.get((n, a), ref))
    rows = [(ref, n, a, i) for i, (ref, n, a) in
            enumerate(sorted((ref, n, a) for (n, a), ref in first.items()))]
    label = check.truth_components(truth)
    clusters = {}
    for ref, _, _, i in rows:
        clusters.setdefault(label[ref], []).append(i)
    return rows, [(min(m), sorted(m)) for m in clusters.values()]


def brute_closure(names_by_id, k):
    """id -> min id of its component in the Levenshtein <= k graph."""
    uf = gen.UnionFind()
    names = sorted(set(names_by_id.values()))
    for x in range(len(names)):
        for y in range(x + 1, len(names)):
            if gen.lev_within(names[x], names[y], k):
                uf.union(names[x], names[y])
    by_root = {}
    for i, n in names_by_id.items():
        by_root.setdefault(uf.find(n), []).append(i)
    return {i: min(ms) for ms in by_root.values() for i in ms}


class Seeding(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in gen.GENERATORS:
            with scratch() as d:
                a, b, c = (os.path.join(d, x) for x in "abc")
                ta, tb = generate(workload, 5, a), generate(workload, 5, b)
                generate(workload, 6, c)
                self.assertTrue(same_files(a, b), workload)
                self.assertEqual(ta, tb, workload)
                self.assertFalse(same_files(a, c), workload)

    def test_truth_is_levenshtein_closure(self):
        """Brute force on the tiny inputs: the planted clusters are the
        connected components of the lev <= k graph, over all rows and,
        for daily batches, over the rows present so far."""
        with scratch() as d:
            t = generate("link_batch", 9, os.path.join(d, "l"))
            s = generate("daily_serve", 9, os.path.join(d, "s"))
        self.assertEqual(brute_closure(dict(zip(t["ref"], t["name"])), t["k"]),
                         check.truth_components(t))
        for b in range(s["batches"] + 1):
            present = {i: n for i, n, x in zip(s["id"], s["name"], s["slice"]) if x <= b}
            self.assertEqual(brute_closure(present, s["k"]),
                             check.truth_components(s, set(present)), b)

    def test_lev_within(self):
        self.assertTrue(gen.lev_within("kitten", "sitting", 3))
        self.assertFalse(gen.lev_within("kitten", "sitting", 2))
        self.assertTrue(gen.lev_within("abc", "abc", 0))
        self.assertFalse(gen.lev_within("abc", "abcdef", 2))


class Checkers(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = scratch()
        d = cls.dir.name
        cls.link = generate("link_batch", 3, os.path.join(d, "l"))
        cls.daily = generate("daily_serve", 3, os.path.join(d, "s"))

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def test_accounts(self):
        t = self.link
        good, _ = link_output(t)
        self.assertEqual(check.check_accounts(t, good), [])
        self.assertTrue(check.check_accounts(t, good[1:]))
        merged = good[:1] + [(good[1][0], good[0][1], good[0][2], 1)] + good[2:]
        self.assertTrue(check.check_accounts(t, merged))
        gap = good[:-1] + [good[-1][:3] + (len(good),)]
        self.assertTrue(check.check_accounts(t, gap))

    def test_clusters(self):
        t = self.link
        rows, good = link_output(t)
        self.assertEqual(check.check_clusters(t, rows, good), [])
        big = sorted(good, key=lambda c: -len(c[1]))
        merged = [(min(big[0][0], big[1][0]), sorted(big[0][1] + big[1][1]))] + big[2:]
        self.assertTrue(check.check_clusters(t, rows, merged))
        dropped = [(big[0][0], big[0][1][:-1])] + big[1:]
        self.assertTrue(check.check_clusters(t, rows, dropped))
        relabelled = [(max(big[0][1]), big[0][1])] + big[1:]
        self.assertTrue(check.check_clusters(t, rows, relabelled))

    def daily_batch(self, b):
        t = self.daily
        present = {i for i, s in zip(t["id"], t["slice"]) if s <= b}
        label = check.truth_components(t, present)
        labels = {i: label[i] for i, s in zip(t["id"], t["slice"]) if s == b}
        before = {n for n, s in zip(t["name"], t["slice"]) if s < b}
        names = [n for n, s in zip(t["name"], t["slice"]) if s == b]
        new = set(names) - before
        prev = {"key_rows": 10, "var_key_rows": 10, "member_rows": 50}
        counts = {"key_rows": 10 + len(new), "var_key_rows": 10 + len(new),
                  "member_rows": 50 + len(labels)}
        novel = sum(1 for n in names if n in new)
        return labels, novel, counts, prev

    def test_daily(self):
        t = self.daily
        for b in range(1, t["batches"] + 1):
            labels, novel, counts, prev = self.daily_batch(b)
            self.assertEqual(check.check_batch(t, b, labels, novel, counts, prev), [])
        labels, novel, counts, prev = self.daily_batch(t["batches"])
        ids = sorted(labels)
        merged = dict(labels)
        other = next(i for i in ids if labels[i] != labels[ids[0]])
        merged[other] = min(labels[ids[0]], labels[other]) - 1
        self.assertTrue(check.check_batch(t, t["batches"], merged, novel, counts, prev))
        dropped = dict(labels)
        del dropped[ids[0]]
        self.assertTrue(check.check_batch(t, t["batches"], dropped, novel, counts, prev))
        short = dict(counts, member_rows=counts["member_rows"] - 1)
        self.assertTrue(check.check_batch(t, t["batches"], labels, novel, short, prev))

    def daily_ops(self, threw=None):
        """check_ops input for the publish and every batch; the batch
        numbered `threw` raised instead of returning."""
        counts = {"key_rows": 10, "var_key_rows": 10, "member_rows": 50}
        ops = [dict(counts, kind="publish", phase="publish", run=0, error=None)]
        for b in range(1, self.daily["batches"] + 1):
            if b == threw:
                ops.append({"kind": "batch", "phase": "timed", "run": b,
                            "error": "java.lang.RuntimeException: boom"})
                continue
            labels, novel, after, before = self.daily_batch(b)
            counts = {k: counts[k] + after[k] - before[k] for k in counts}
            path = os.path.join(self.dir.name, "labels_%d.tsv" % b)
            with open(path, "w") as f:
                f.write("\n".join("%d\t%d" % kv for kv in labels.items()))
            ops.append(dict(counts, kind="batch", phase="timed", run=b, error=None,
                            batch="batch_%03d.parquet" % b, labels=path, novel=novel))
        return {"ops": ops}

    def test_batch_after_a_failed_one_is_failed(self):
        good = run.check_ops(self.daily, self.daily_ops())
        self.assertFalse(any(good.values()))
        errors = run.check_ops(self.daily, self.daily_ops(threw=2))
        self.assertEqual([bool(errors[r]) for r in sorted(errors)],
                         [False, False, True, True] + [False] * (self.daily["batches"] - 3))

    def test_doctored_output_raises_error_rate(self):
        """check_ops over written outputs: one correct pass, one pass
        with two clusters merged, one with an account dropped."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows, good = link_output(self.link)
        big = sorted(good, key=lambda c: -len(c[1]))
        merged = [(min(big[0][0], big[1][0]), big[0][1] + big[1][1])] + big[2:]
        ops = []
        for run_id, (accounts, clusters) in enumerate(
                ((rows, good), (rows, merged), (rows[1:], good)), 1):
            out = os.path.join(self.dir.name, "pass_%d" % run_id)
            for table, cols in (
                    ("accounts", {k: [r[j] for r in accounts] for j, k in
                                  enumerate(("ref", "Name", "IBAN", "id"))}),
                    ("clusters", {"component": [c for c, _ in clusters],
                                  "member_ids": [",".join(map(str, m))
                                                 for _, m in clusters]})):
                os.makedirs(os.path.join(out, table))
                pq.write_table(pa.table(cols), os.path.join(out, table, "part-0.parquet"))
            ops.append({"kind": "pass", "phase": "timed", "run": run_id,
                        "out": out, "error": None})
        errors = run.check_ops(self.link, {"ops": ops})
        self.assertEqual([bool(errors[r]) for r in (1, 2, 3)], [False, True, True])


class Names(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END_UNITS)
        self.assertEqual(layer, run.per_layer_units())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        names = list(e2e) + list(layer) + list(run.WORKLOADS)
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for u in list(e2e.values()) + list(layer.values()):
            self.assertRegex(u, UNIT)

    def test_printed_names(self):
        """The result line carries exactly the declared metrics."""
        res = {"ops": [
            {"kind": "pass", "phase": "cold", "run": 1, "start_ms": 0, "end_ms": 900},
            {"kind": "pass", "phase": "timed", "run": 2, "start_ms": 900,
             "end_ms": 1500, "out_bytes": 100, "out_rows": 10}],
            "peak_rss_mb": 1.0}
        values = run.end_to_end("link_batch", res, [1.0])
        self.assertEqual(set(values), set(run.END_TO_END_UNITS))
        self.assertEqual(set(run.per_layer(res)), set(run.per_layer_units()))


class Standalone(unittest.TestCase):
    def test_fails_without_program_sources(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        benchmark exits non-zero and prints no result."""
        with scratch() as d:
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "link_batch",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=170)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()

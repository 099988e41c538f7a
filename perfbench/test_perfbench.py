"""Self-tests of the benchmark's generators and output checks.

Run from the repo root: `python3 -m unittest perfbench/test_perfbench.py`.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_tables  # noqa: E402
import gen_tree  # noqa: E402
import run  # noqa: E402


def read_tree(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def write_deploy(deploy, bodies, catalog, spark_floats=True):
    """A deploy dir as the engine writes it: Spark renders integral floats as `0.0`."""
    for rel, body in bodies.items():
        path = os.path.join(deploy, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if spark_floats:
            body = body.replace('"M":0}', '"M":0.0}')
        with open(path, "w") as f:
            f.write(body)
    cat = os.path.join(deploy, "test_names.json")
    os.makedirs(cat)
    with open(os.path.join(cat, "part-00000-x-c000.json"), "w") as f:
        for pkg in sorted(catalog):
            f.write(json.dumps({"pkg": pkg, "tests": catalog[pkg]}) + "\n")
    open(os.path.join(cat, "_SUCCESS"), "w").close()


class Base(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench_test_")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


class TreeTest(Base):
    def tree(self, seed, name):
        root = os.path.join(self.tmp, name)
        t = gen_tree.Tree(seed, 5)
        winners = []
        for i in range(4):
            files, won = t.day(i)
            gen_tree.write_files(root, files)
            winners.append(won)
        gen_tree.write_files(root, gen_tree.bad_date_files())
        return root, winners

    def test_same_seed_gives_identical_trees(self):
        a, _ = self.tree(7, "a")
        b, _ = self.tree(7, "b")
        c, _ = self.tree(8, "c")
        self.assertEqual(read_tree(a), read_tree(b))
        self.assertNotEqual(read_tree(a), read_tree(c))

    def test_tree_carries_the_edge_cases(self):
        root, _ = self.tree(3, "t")
        text = read_tree(root)
        names = list(text)
        self.assertIn(gen_tree.BAD_DATE_FILE, names)
        self.assertTrue(any("/notapkg/" in n for n in names))
        self.assertTrue(any(n.endswith("notes.txt") for n in names))
        self.assertTrue(any("/a_" in n for n in names) and any("/zz_" in n for n in names))
        self.assertTrue(any(b"\tFAIL" in body for body in text.values()))

    def test_model_is_last_write_wins(self):
        t = gen_tree.Tree(5, 5)
        for i in range(6):
            files, won = t.day(i)
            for rel, body in files.items():
                if "/zz_" not in rel:
                    continue
                # An odd day's second file sorts last, so each of its lines wins.
                pkg = rel.split("/cockroach/")[1].rsplit("/", 1)[0]
                for line in body.strip().split("\n"):
                    name = line.split(" \t")[0]
                    ns = int(line.split(" ns/op")[0].split("\t")[-1])
                    self.assertEqual(won[(pkg, name)][0], ns)

    def test_same_seed_gives_identical_tables(self):
        a = gen_tables.tables(4, 0.0002)
        b = gen_tables.tables(4, 0.0002)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)


class DeployCheckTest(Base):
    def setUp(self):
        super().setUp()
        t = gen_tree.Tree(9, 6)
        self.winners = [t.day(i)[1] for i in range(3)]
        self.bodies, self.catalog = gen_tree.model(self.winners, range(3))
        self.deploy = os.path.join(self.tmp, "deploy")
        write_deploy(self.deploy, self.bodies, self.catalog)

    def problems(self):
        return gen_tree.check_deploy(self.deploy, self.bodies, self.catalog)

    def test_model_output_passes(self):
        self.assertEqual(self.problems(), [])

    def test_corrupted_series_file_fails(self):
        rel = sorted(self.bodies)[0]
        with open(os.path.join(self.deploy, rel), "a") as f:
            f.write(" ")
        self.assertTrue(self.problems())

    def test_wrong_value_fails(self):
        rel = sorted(self.bodies)[1]
        path = os.path.join(self.deploy, rel)
        with open(path) as f:
            body = f.read()
        with open(path, "w") as f:
            f.write(body.replace('"N":', '"N":1', 1))
        self.assertTrue(self.problems())

    def test_missing_and_extra_files_fail(self):
        rel = sorted(self.bodies)[2]
        os.remove(os.path.join(self.deploy, rel))
        self.assertTrue(self.problems())
        write_deploy(os.path.join(self.tmp, "d2"), self.bodies, self.catalog)
        self.deploy = os.path.join(self.tmp, "d2")
        with open(os.path.join(self.deploy, "kv", "BenchmarkExtra-8.json"), "w") as f:
            f.write("{}")
        self.assertTrue(self.problems())

    def test_wrong_catalog_row_fails(self):
        part = os.path.join(self.deploy, "test_names.json", "part-00000-x-c000.json")
        with open(part) as f:
            rows = [json.loads(x) for x in f]
        rows[0]["tests"] = rows[0]["tests"][1:]
        with open(part, "w") as f:
            f.write("".join(json.dumps(r) + "\n" for r in rows))
        self.assertTrue(self.problems())


class RegistryCheckTest(Base):
    def test_throwing_and_wrong_draws_count_as_failed(self):
        tables = os.path.join(self.tmp, "sf")
        gen_tables.write(tables, 1, 0.0002)
        results = os.path.join(self.tmp, "results")
        for name, value in (("q_ok", 1), ("q_wrong", 2), ("q_no_oracle", 3)):
            os.makedirs(os.path.join(results, name))
            pq.write_table(pa.table({"x": pa.array([value], pa.int64())}),
                           os.path.join(results, name, "part-0.parquet"))
        with open(os.path.join(results, "oracle_sql.json"), "w") as f:
            json.dump({"q_ok": "SELECT CAST(1 AS BIGINT) AS x",
                       "q_wrong": "SELECT CAST(5 AS BIGINT) AS x"}, f)

        def op(i, name, ok=True, rows=1):
            return {"id": f"draw{i}", "name": name, "s": 0.1, "ok": ok,
                    "rows": rows if ok else -1, "err": "" if ok else "boom"}
        result = {
            "warm": [{"id": "check", "name": n, "s": 0.1, "ok": True, "rows": -1, "err": ""}
                     for n in ("q_ok", "q_wrong", "q_no_oracle")],
            "ops": [op(0, "q_ok"), op(1, "q_ok", ok=False), op(2, "q_wrong"),
                    op(3, "q_no_oracle"), op(4, "q_no_oracle", rows=2)]}
        cwd = os.getcwd()
        os.chdir(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
        try:
            failed = run.check_registry(result, {"bench": tables, "results": results})
        finally:
            os.chdir(cwd)
        self.assertEqual(sorted(failed), ["draw1", "draw2", "draw4"])


if __name__ == "__main__":
    unittest.main()

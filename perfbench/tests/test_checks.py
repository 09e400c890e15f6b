"""The checks can fail, and the generators are pure functions of the seed.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import glob
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import check  # noqa: E402
import gen  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


def same_tree(a, b):
    files_a = sorted(os.path.relpath(p, a) for p in
                     glob.glob(os.path.join(a, "**", "*"), recursive=True)
                     if os.path.isfile(p))
    files_b = sorted(os.path.relpath(p, b) for p in
                     glob.glob(os.path.join(b, "**", "*"), recursive=True)
                     if os.path.isfile(p))
    return files_a == files_b and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files_a)


class TempDir(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


@unittest.skipUnless(os.path.isdir(SF_SMALL), "no corpus at " + SF_SMALL)
class QueryCheckTest(TempDir):
    SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"

    def write_output(self, table):
        out = os.path.join(self.tmp, "out")
        os.makedirs(os.path.join(out, "q"), exist_ok=True)
        pq.write_table(table, os.path.join(out, "q", "part-0.parquet"))
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"q": self.SQL}, f)
        return out

    def problems(self, table):
        cache = check.OracleCache(os.path.join(self.tmp, "cache"), SF_SMALL)
        return check.check_queries(self.write_output(table), ["q"], cache)

    def correct(self):
        return duckdb.sql(self.SQL.replace(
            "FROM nation", "FROM '%s/nation.parquet'" % SF_SMALL)).arrow()

    def test_correct_output_passes_and_fills_the_cache(self):
        self.assertEqual(self.problems(self.correct()), [])
        self.assertEqual(
            len(glob.glob(os.path.join(self.tmp, "cache", "*.json"))), 1)
        self.assertEqual(self.problems(self.correct()), [])

    def test_dropped_row_fails(self):
        self.assertTrue(self.problems(self.correct().slice(1)))

    def test_changed_value_fails(self):
        t = self.correct()
        names = t.column("n_name").to_pylist()
        names[3] = names[3] + "x"
        t = t.set_column(1, "n_name", pa.array(names))
        self.assertTrue(self.problems(t))

    def test_renamed_column_fails(self):
        t = self.correct().rename_columns(["n_nationkey", "n_names",
                                           "n_regionkey"])
        self.assertTrue(self.problems(t))

    def test_changed_oracle_recomputes_its_digest(self):
        full = self.correct()
        self.assertEqual(self.problems(full), [])
        self.SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation " \
                   "WHERE n_nationkey > 0"
        self.assertTrue(self.problems(full))
        self.assertEqual(self.problems(self.correct()), [])
        self.assertEqual(
            len(glob.glob(os.path.join(self.tmp, "cache", "*.json"))), 2)


class LakeCheckTest(TempDir):
    """Outputs made from the DuckDB references pass; one corruption per job
    is caught."""

    @classmethod
    def setUpClass(cls):
        cls.lake = tempfile.mkdtemp(prefix="perfbench-lake-")
        gen.make_lake(5, cls.lake)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.lake, ignore_errors=True)

    def write_outputs(self, corrupt=None):
        con = check.lake_con(self.lake)
        out = os.path.join(self.tmp, "out")
        for job, (sql, _) in check.LAKE_JOBS.items():
            rel = con.sql(sql)
            if job == corrupt:
                # one row goes missing
                rel = con.sql("SELECT * FROM rel ORDER BY ALL OFFSET 1")
            d = os.path.join(out, job)
            os.makedirs(d)
            # the formats the fleet writes: CSV with a header, or parquet
            if job == "phedex_snapshot":
                rel.write_parquet(os.path.join(d, "part-0.parquet"))
            else:
                rel.write_csv(os.path.join(d, "part-0.csv"))
        return out

    def test_reference_outputs_pass(self):
        self.assertEqual(check.check_lake(self.write_outputs(), self.lake), [])

    def test_each_corrupted_job_fails(self):
        for job in check.LAKE_JOBS:
            with self.subTest(job=job):
                shutil.rmtree(os.path.join(self.tmp, "out"),
                              ignore_errors=True)
                problems = check.check_lake(self.write_outputs(job),
                                            self.lake)
                self.assertTrue(problems)
                self.assertTrue(all(p.startswith(job) for p in problems))

    def test_conserved_total_catches_a_compensated_change(self):
        out = self.write_outputs()
        path = os.path.join(out, "phedex_snapshot", "part-0.parquet")
        t = pq.read_table(path)
        size = t.column("size").to_pylist()
        size[0] += 1
        pq.write_table(t.set_column(t.schema.get_field_index("size"), "size",
                                    pa.array(size, pa.int64())), path)
        problems = check.check_lake(out, self.lake)
        self.assertTrue(any("planted" in p for p in problems))


class StreamCheckTest(TempDir):
    """A store laid out as the admission path leaves it, built by hand."""

    def setUp(self):
        super().setUp()
        self.stream = os.path.join(self.tmp, "stream")
        gen.make_stream(5, self.stream)
        self.out = os.path.join(self.tmp, "out")
        self.pass_dir = os.path.join(self.out, "pass-0")
        src = os.path.join(self.pass_dir, "src")
        os.makedirs(src)
        names = sorted(n for n in os.listdir(self.stream)
                       if n.startswith("batch-"))
        redelivered = names[len(names) // 2]  # as StreamWorkload picks it
        landed = names + ["redeliver-" + redelivered]
        for n, f in zip(landed, names + [redelivered]):
            shutil.copy(os.path.join(self.stream, f), os.path.join(src, n))
        # admit the first copy of every text, batch by batch
        seen, self.docs = set(), []
        for b, n in enumerate(names):
            t = pq.read_table(os.path.join(self.stream, n)).to_pylist()
            for r in t:
                if r["body"] not in seen:
                    seen.add(r["body"])
                    self.docs.append((b, r["id"], r["body"]))
        self.info = {"last_batch": len(names), "redelivered": redelivered,
                     "landed": landed,
                     "admitted_before_compaction":
                         sorted(d[1] for d in self.docs),
                     "index_partitions": {t: 1 for t in check.INDEX_TABLES}}
        for t in check.INDEX_TABLES:
            os.makedirs(os.path.join(self.pass_dir, "store", t, "batch=-1"))

    def problems(self):
        store = os.path.join(self.pass_dir, "store", "docs")
        shutil.rmtree(store, ignore_errors=True)
        for b in sorted({d[0] for d in self.docs}):
            rows = [d for d in self.docs if d[0] == b]
            os.makedirs(os.path.join(store, "batch=%d" % b))
            pq.write_table(pa.table({
                "id": pa.array([r[1] for r in rows], pa.int64()),
                "body": pa.array([r[2] for r in rows])}),
                os.path.join(store, "batch=%d" % b, "part-0.parquet"))
        with open(os.path.join(self.pass_dir, "pass.json"), "w") as f:
            json.dump(self.info, f)
        return check.check_stream(self.out, self.stream)

    def test_valid_store_passes(self):
        self.assertEqual(self.problems(), [])

    def test_duplicate_text_fails(self):
        b, _, body = self.docs[0]
        self.docs.append((b, 10 ** 9, body))
        self.info["admitted_before_compaction"].append(10 ** 9)
        self.assertTrue(self.problems())

    def test_id_outside_the_input_fails(self):
        self.docs.append((0, 10 ** 9, "never sent"))
        self.info["admitted_before_compaction"].append(10 ** 9)
        self.assertTrue(self.problems())

    def test_redelivery_that_admits_fails(self):
        b, i, body = self.docs.pop()
        self.docs.append((self.info["last_batch"], i, body))
        self.assertTrue(self.problems())

    def test_compaction_that_changes_the_corpus_fails(self):
        self.info["admitted_before_compaction"].pop()
        self.assertTrue(self.problems())

    def test_uncounted_stale_partition_fails(self):
        os.makedirs(os.path.join(self.pass_dir, "store", "fps", "batch=3"))
        self.assertTrue(self.problems())

    def test_counted_stale_partition_is_not_a_wrong_output(self):
        # the run counted this compaction as failed; the store agrees
        os.makedirs(os.path.join(self.pass_dir, "store", "fps", "batch=3"))
        self.info["index_partitions"]["fps"] = 2
        self.assertEqual(self.problems(), [])


class GeneratorTest(TempDir):
    def test_lake_is_a_function_of_the_seed(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen.make_lake(11, a)
        gen.make_lake(11, b)
        gen.make_lake(12, c)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))

    def test_stream_is_a_function_of_the_seed(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen.make_stream(11, a)
        gen.make_stream(11, b)
        gen.make_stream(12, c)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))


if __name__ == "__main__":
    unittest.main()

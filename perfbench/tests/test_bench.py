"""Tests of the benchmark's own code: the generators' tallies and shapes,
the order statistics, the fixed pass count, the known-fault filter, and
that every correctness check fails on corrupted output.

    python3 -m unittest discover -s perfbench/tests -t .
"""
import csv
import datetime as dt
import os
import tempfile
import unittest

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, datagen, workloads
from perfbench.session import is_stack_overflow
from perfbench.stats import median, percentile

SEED = 7


def valid_day(y, m, d):
    try:
        dt.date(y, m, d)
        return True
    except ValueError:
        return False


def write_lake(root, rows, only=None):
    """Writes stored rows as a Hive-partitioned Parquet lake, one file per
    partition, the layout the program's ETL writes."""
    parts = {}
    for r in rows.values():
        parts.setdefault((r[8], r[9], r[10], r[11]), []).append(r)
    for (y, m, d, s), rs in parts.items():
        if only is not None and (y, m, d, s) not in only:
            continue
        rs = sorted(rs)
        c = list(zip(*rs))
        path = os.path.join(root, f"year={y}", f"month={m}", f"day={d}", f"symbol={s}")
        os.makedirs(path, exist_ok=True)
        for f in os.listdir(path):
            os.remove(os.path.join(path, f))
        pq.write_table(pa.table({
            "trade_id": pa.array(c[0], pa.int64()),
            "trade_time": pa.array(c[1], pa.timestamp("us")),
            "price": pa.array(c[2], pa.float64()),
            "quantity": pa.array(c[3], pa.float64()),
            "quote_qty": pa.array(c[4], pa.float64()),
            "is_buyer_maker": pa.array(c[5], pa.bool_()),
            "is_best_match": pa.array(c[6], pa.bool_()),
            "load_dt": pa.array([dt.date.fromisoformat(x) for x in c[7]], pa.date32()),
        }), os.path.join(path, f"part-{len(rs)}-{rs[0][0]}.parquet"))
    for (y, m, d, s) in set(only or ()) - set(parts):
        path = os.path.join(root, f"year={y}", f"month={m}", f"day={d}", f"symbol={s}")
        if os.path.isdir(path):
            for f in os.listdir(path):
                os.remove(os.path.join(path, f))
            os.rmdir(path)


class StatsTest(unittest.TestCase):
    def test_known_samples(self):
        self.assertEqual(median([3.0]), 3.0)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([5, 1, 3]), 3)
        self.assertAlmostEqual(percentile([1, 2, 3, 4, 5], 90), 4.6)
        self.assertEqual(percentile([1, 2, 3, 4, 5], 0), 1)
        self.assertEqual(percentile([1, 2, 3, 4, 5], 100), 5)

    def test_matches_numpy(self):
        xs = list(np.random.default_rng(1).lognormal(size=37))
        for q in (10, 25, 50, 75, 90, 99):
            self.assertAlmostEqual(percentile(xs, q), float(np.percentile(xs, q)))

    def test_empty(self):
        with self.assertRaises(ValueError):
            median([])


class PassesTest(unittest.TestCase):
    def test_count_depends_on_seconds_only(self):
        self.assertEqual(workloads.warm_passes(30), 3)
        self.assertEqual(workloads.warm_passes(39.9), 3)
        self.assertEqual(workloads.warm_passes(1), workloads.MIN_WARM)


class _Throwable:
    """Stands in for a Java exception seen through Py4J."""

    def __init__(self, name, cause=None):
        self.name, self.cause = name, cause

    def getClass(self):
        return self

    def getName(self):
        return self.name

    def getCause(self):
        return self.cause


class _Py4JError(Exception):
    def __init__(self, java_exception):
        super().__init__("error")
        self.java_exception = java_exception


class KnownFaultTest(unittest.TestCase):
    def test_only_a_stack_overflow_counts(self):
        overflow = _Throwable("java.lang.StackOverflowError")
        self.assertTrue(is_stack_overflow(_Py4JError(overflow)))
        self.assertTrue(is_stack_overflow(
            _Py4JError(_Throwable("org.apache.spark.SparkException", overflow))))
        self.assertFalse(is_stack_overflow(
            _Py4JError(_Throwable("java.lang.IllegalStateException"))))
        self.assertFalse(is_stack_overflow(ValueError("not from the JVM")))


class AnalyticsTablesTest(unittest.TestCase):
    """The generated tables have the shape of the sf0.01 test tables
    (TESTDATA.md): the figures the README's parity table reports."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        d = cls.tmp.name
        datagen.write_events(os.path.join(d, "events.parquet"), SEED)
        datagen.write_documents(os.path.join(d, "documents.parquet"), SEED)
        cls.x = datagen.write_embeddings(os.path.join(d, "embeddings.parquet"), SEED)
        cls.events = pq.read_table(os.path.join(d, "events.parquet")).to_pandas()
        cls.docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
        cls.emb = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_events(self):
        e = self.events
        self.assertEqual(len(e), 10_000)
        self.assertEqual(list(e.columns), ["event_id", "ts", "user_id", "event_type",
                                           "value", "props"])
        self.assertEqual(e.user_id.nunique(), 150)
        self.assertEqual(e.ts.dt.date.nunique(), 30)
        self.assertTrue(e.ts.is_monotonic_increasing)
        self.assertEqual(sorted(e.event_type.unique()), datagen.EVENT_TYPES)
        self.assertGreaterEqual(e.value.min(), 0.01)
        self.assertTrue(30 < e.value.median() < 40 and 45 < e.value.mean() < 55)
        self.assertEqual(e.props.nunique(), 100)

    def test_documents(self):
        d = self.docs
        self.assertEqual(len(d), 500)
        self.assertEqual(d.text.nunique(), 500)
        words = d.text.str.split()
        self.assertEqual(set(w for ws in words for w in ws), set(datagen.VOCAB) | {"dup"})
        dups = d[d.text.str.endswith(" dup")]
        self.assertEqual(len(dups), 25)
        self.assertTrue(all(t[:-4] in set(d.text) for t in dups.text))
        plain = words[~d.text.str.endswith(" dup")].map(len)
        self.assertTrue(plain.min() >= 10 and plain.max() <= 99)
        self.assertTrue((d.n_chars == d.text.str.len()).all())
        self.assertEqual(d.source.nunique(), 20)
        self.assertEqual(set(d.lang), {"en", "de", "es", "fr", "zh"})

    def test_embeddings(self):
        self.assertEqual(self.x.shape, (500, 64))
        self.assertTrue(np.allclose(np.linalg.norm(self.x, axis=1), 1.0, atol=1e-6))
        self.assertEqual(sorted(self.emb.label.unique()), list(range(10)))
        self.assertTrue(np.array_equal(np.stack(self.emb.embedding.to_numpy()), self.x))

    def test_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            for seed, same in ((SEED, True), (SEED + 1, False)):
                datagen.write_documents(os.path.join(d, "docs.parquet"), seed)
                again = pq.read_table(os.path.join(d, "docs.parquet")).to_pandas()
                self.assertEqual(again.equals(self.docs), same)


class TradesLakeTest(unittest.TestCase):
    """Recomputes the generator's tallies from the CSV files it wrote."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.root = cls.tmp.name
        cls.lake = datagen.write_trades_lake(cls.root, SEED)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def csv_rows(self):
        for d, _, names in os.walk(self.root):
            for n in names:
                kv = dict(p.split("=") for p in os.path.relpath(d, self.root).split(os.sep))
                with open(os.path.join(d, n)) as f:
                    for row in csv.reader(f):
                        yield kv["symbol"], int(kv["year"]), int(kv["month"]), row

    def test_tallies(self):
        per_part, failed = {}, {rule: set() for rule in datagen.REJECT_RULES}
        n = 0
        for s, y, m, row in self.csv_rows():
            n += 1
            when = dt.datetime.fromtimestamp(int(row[4]) / 1000, dt.timezone.utc)
            rules = []
            if row[1] == "":
                rules.append("null_price")
            if float(row[2]) <= 0:
                rules.append("nonpositive_quantity")
            if not valid_day(y, m, when.day):
                rules.append("invalid_day")
            self.assertLessEqual(len(rules), 1, f"row {row[0]} fails {rules}")
            if rules:
                failed[rules[0]].add(int(row[0]))
            else:
                self.assertEqual((when.year, when.month), (y, m))
                key = (y, m, when.day, s)
                per_part[key] = per_part.get(key, 0) + 1
        self.assertEqual(n, self.lake.csv_rows)
        self.assertEqual(per_part, self.lake.per_partition)
        self.assertEqual(set(per_part), set(datagen.partitions()))
        for rule in datagen.REJECT_RULES:
            self.assertEqual(failed[rule], set(self.lake.planted[rule]))
            self.assertGreater(len(failed[rule]), 0)
        self.assertIn((2024, 2, 29, "BTCUSDT"), per_part)  # the leap day is valid

    def test_seeded(self):
        self.assertEqual(datagen.build_trades_lake(SEED).files, self.lake.files)
        self.assertNotEqual(datagen.build_trades_lake(SEED + 1).files, self.lake.files)
        self.assertEqual(datagen.narrow_batch(self.lake, SEED),
                         datagen.narrow_batch(self.lake, SEED))

    def test_replay_of_narrow_batch(self):
        batch = datagen.narrow_batch(self.lake, SEED)
        after = datagen.replay(self.lake.rows, batch)
        ops = {}
        for c in batch:
            ops.setdefault(c[0], []).append(c)
        deletes = {k for k, cs in ops.items() if cs[0][12] == "D"}
        inserts = {k for k, cs in ops.items() if cs[0][12] == "I"}
        self.assertEqual(len(checks.batch_partitions(batch)), datagen.NARROW_PARTITIONS)
        self.assertFalse(inserts & set(self.lake.rows))
        self.assertEqual(len(after), len(self.lake.rows) - len(deletes) + len(inserts))
        for k, cs in ops.items():
            last = max(cs, key=lambda c: c[13])
            if last[12] == "D":
                self.assertNotIn(k, after)
            else:
                self.assertEqual(after[k], last[:12])
            if len(cs) > 1:  # a superseded update loses to the later one
                first = min(cs, key=lambda c: c[13])
                self.assertNotEqual(after[k], first[:12])
        untouched = [k for k in self.lake.rows if k not in ops]
        self.assertTrue(all(after[k] == self.lake.rows[k] for k in untouched))

    def test_wide_batch(self):
        wide = datagen.wide_batch()
        self.assertGreaterEqual(len(checks.batch_partitions(wide)), 700)
        self.assertTrue(set(datagen.partitions()) <= checks.batch_partitions(wide))
        self.assertFalse({c[0] for c in wide} & set(self.lake.rows))


class MutationTest(unittest.TestCase):
    """Each check passes on a correct output and fails on a corrupted one."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.lake = datagen.build_trades_lake(SEED)
        self.dir = os.path.join(self.tmp.name, "lake")
        write_lake(self.dir, self.lake.rows)
        self.con = duckdb.connect()

    def tearDown(self):
        self.tmp.cleanup()

    def test_clean_lake_passes(self):
        self.assertEqual(checks.etl_load(self.con, self.dir, self.lake), [])

    def test_dropped_row(self):
        rows = dict(self.lake.rows)
        victim = sorted(rows)[17]
        part = rows.pop(victim)[8:]
        write_lake(self.dir, rows, only={part})
        self.assertTrue(checks.etl_load(self.con, self.dir, self.lake))

    def test_perturbed_cell(self):
        rows = dict(self.lake.rows)
        k = sorted(rows)[40]
        rows[k] = rows[k][:2] + (rows[k][2] + 0.01,) + rows[k][3:]
        write_lake(self.dir, rows, only={rows[k][8:]})
        errs = checks.etl_load(self.con, self.dir, self.lake)
        self.assertTrue(any("differ" in e for e in errs), errs)

    def test_planted_row_left_in_lake(self):
        rows = dict(self.lake.rows)
        pid = self.lake.planted["nonpositive_quantity"][0]
        y, m, d, s = datagen.partitions()[0]
        rows[pid] = (pid, rows[1][1], 12.5, -1.0, 0.0, False, True, rows[1][7], y, m, d, s)
        write_lake(self.dir, rows, only={(y, m, d, s)})
        errs = checks.etl_load(self.con, self.dir, self.lake)
        self.assertTrue(any("planted" in e for e in errs), errs)

    def merged(self):
        batch = datagen.narrow_batch(self.lake, SEED)
        before = checks.data_files(self.dir)
        expected = datagen.replay(self.lake.rows, batch)
        touched = checks.batch_partitions(batch)
        write_lake(self.dir, expected, only=touched)
        return expected, before, touched

    def test_correct_merge_passes(self):
        expected, before, touched = self.merged()
        after = checks.data_files(self.dir)
        self.assertEqual(checks.etl_merge(self.con, self.dir, expected, before, after, touched), [])

    def test_rewritten_untouched_partition(self):
        expected, before, touched = self.merged()
        other = sorted(set(datagen.partitions()) - touched)[0]
        path = os.path.join(self.dir, *(f"{k}={v}" for k, v in
                                        zip(("year", "month", "day", "symbol"), other)))
        name = os.listdir(path)[0]
        os.rename(os.path.join(path, name), os.path.join(path, "rewritten-" + name))
        after = checks.data_files(self.dir)
        errs = checks.etl_merge(self.con, self.dir, expected, before, after, touched)
        self.assertTrue(any("outside the batch" in e for e in errs), errs)

    def test_failed_merge_must_leave_lake(self):
        before = checks.data_files(self.dir)
        rows = dict(self.lake.rows)
        k = sorted(rows)[3]
        rows[k] = rows[k][:3] + (rows[k][3] * 2,) + rows[k][4:]
        self.assertEqual(checks.lake_unchanged("w", before, checks.data_files(self.dir)), [])
        write_lake(self.dir, rows, only={rows[k][8:]})
        self.assertTrue(checks.lake_unchanged("w", before, checks.data_files(self.dir)))

    def test_query_result_corruptions(self):
        want = pd.DataFrame({"a": [1, 2, 3], "b": [0.5, 0.25, 0.125]})
        self.assertEqual(checks.compare("q", want.copy(), want), [])
        self.assertTrue(checks.compare("q", want.iloc[:2].reset_index(drop=True), want))
        bad = want.copy()
        bad.loc[1, "b"] = 0.26
        self.assertTrue(checks.compare("q", bad, want))
        self.assertTrue(checks.compare("q", want.rename(columns={"b": "c"}), want))

    def test_oracle_on_parquet(self):
        out = os.path.join(self.tmp.name, "op")
        os.makedirs(out)
        pq.write_table(pa.table({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]}),
                       os.path.join(out, "part-0.parquet"))
        sql = ("SELECT CAST(k AS BIGINT) AS k, CAST(v AS DOUBLE) AS v "
               "FROM (VALUES (3, 3.5), (1, 1.5), (2, 2.5)) t(k, v)")
        self.assertEqual(checks.oracle(self.con, "op", sql, out), [])
        self.assertTrue(checks.oracle(self.con, "op", sql.replace("2.5", "2.75"), out))
        self.assertTrue(checks.oracle(self.con, "op", sql.replace(", (2, 2.5)", ""), out))
        self.assertTrue(checks.oracle(self.con, "op", sql.replace("BIGINT", "INTEGER"), out))

    def test_ann_exact(self):
        x = np.random.default_rng(3).normal(size=(60, 8)).astype(np.float32)
        want = checks.exact_topk(x, 10, 5)
        out = os.path.join(self.tmp.name, "ann")
        os.makedirs(out)

        def write(rows):
            q, r, i, c = zip(*rows)
            pq.write_table(pa.table({"query_id": pa.array(q, pa.int64()),
                                     "neighbor_id": pa.array(i, pa.int64()),
                                     "rank": pa.array(r, pa.int32()),
                                     "cos_sim": pa.array([round(v, 6) for v in c])}),
                           os.path.join(out, "part-0.parquet"))

        rows = [(q, r, i, c) for (q, r), (i, c) in sorted(want.items())]
        write(rows)
        self.assertEqual(checks.ann_exact(self.con, "ann", out, x), [])
        q, r, i, c = rows[7]
        rows[7] = (q, r, (i + 1) % 60, c)
        write(rows)
        self.assertTrue(checks.ann_exact(self.con, "ann", out, x))


if __name__ == "__main__":
    unittest.main()

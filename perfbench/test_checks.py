"""Tests of the benchmark's own checkers: each must accept the right answer
and reject a deliberately wrong one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import shutil
import tempfile
import unittest
from pathlib import Path

import numpy as np

import checks
import run

HEADERS = {
    "customers": "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
    "orders": "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at,"
              "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date",
    "order_items": "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
    "order_payments": "order_id,payment_sequential,payment_type,payment_installments,payment_value",
    "order_reviews": "review_id,order_id,review_score,review_comment_title,review_comment_message,"
                     "review_creation_date,review_answer_timestamp",
}

# Two drops: the second re-delivers customer c1 (new state) and order o2
# (now delivered), and adds order o5. Rows the cleansers must drop: a bad
# status (o3), an unparsable purchase time (o4), a corrupt payment value.
DROPS = {
    0: {
        "customers": ["c1,u1,01000, sao paulo ,sp", "c2,u2,01037,rio,RJ"],
        "orders": [
            "o1,c1,delivered,2018-01-01 10:00:00,2018-01-01 11:00:00,2018-01-02 10:00:00,"
            "2018-01-05 10:00:00,2018-01-11 00:00:00",
            "o2,c2,shipped,2018-01-02 11:00:00,2018-01-02 12:00:00,2018-01-03 10:00:00,,"
            "2018-01-12 00:00:00",
            "o3,c1,bogus_status,2018-01-02 11:00:00,,,,",
            "o4,c2,delivered,not-a-date,,,,"],
        "order_items": ["o1,1,p1,s1,2018-01-03 00:00:00,100.00,10.00",
                        "o2,1,p2,s1,2018-01-03 00:00:00,40.00,5.00"],
        "order_payments": ["o1,1,credit_card,3,100.50", "o1,2,voucher,,20.00",
                           "o2,1,boleto,1,abc", "o2,2,boleto,1,50.25"],
        "order_reviews": ["r1,o1,5,t,m,2018-01-06 10:00:00,2018-01-07 10:00:00"],
    },
    1: {
        "customers": ["c1,u1,01000,curitiba,MG"],
        "orders": [
            "o2,c2, DELIVERED,2018-01-02 11:00:00,2018-01-02 12:00:00,2018-01-03 10:00:00,"
            "2018-01-06 09:00:00,2018-01-12 00:00:00",
            "o5,c1,processing,2018-01-02 15:00:00,2018-01-02 16:00:00,,,2018-01-12 00:00:00"],
        "order_items": ["o5,1,p1,s1,2018-01-04 00:00:00,10.00,1.00"],
        "order_payments": ["o5,1,credit_card,1,10.00"],
    },
}

REVENUE_AFTER_0 = [["2018-01-01", "SP", "delivered", 120.5, 1, 2],
                   ["2018-01-02", "RJ", "shipped", 50.25, 1, 1]]
REVENUE_AFTER_1 = [["2018-01-01", "MG", "delivered", 120.5, 1, 2],
                   ["2018-01-02", "RJ", "delivered", 50.25, 1, 1],
                   ["2018-01-02", "MG", "processing", 10.0, 1, 1]]
# silver orders projection: id, customer, status, purchase, delivered
FEED_0_TO_1 = [
    ["o2", "c2", "shipped", "2018-01-02 11:00:00", None, "update_preimage", 3],
    ["o2", "c2", "delivered", "2018-01-02 11:00:00", "2018-01-06 09:00:00", "update_postimage", 3],
    ["o5", "c1", "processing", "2018-01-02 15:00:00", None, "insert", 3],
]


class LakeCheckTest(unittest.TestCase):

    def setUp(self):
        self.tmp = Path(tempfile.mkdtemp())
        for i, drop in DROPS.items():
            for entity, rows in drop.items():
                d = self.tmp / entity
                d.mkdir(exist_ok=True)
                (d / f"d{i:04d}.csv").write_text("\n".join([HEADERS[entity], *rows]) + "\n")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def check(self, *reads):
        return checks.check_lake({"ingest": str(self.tmp), "reads": list(reads)})

    @staticmethod
    def read(increment, query, rows, **extra):
        return {"increment": increment, "query": query, "rows": rows, **extra}

    def test_hand_computed_revenue_passes(self):
        self.assertEqual(self.check(self.read(0, "metrics_revenue", REVENUE_AFTER_0),
                                    self.read(1, "metrics_revenue", REVENUE_AFTER_1)), [])

    def test_rejects_gold_row_with_altered_revenue(self):
        rows = [list(r) for r in REVENUE_AFTER_1]
        rows[1][3] += 0.01
        self.assertTrue(self.check(self.read(1, "metrics_revenue", rows)))

    def test_rejects_sql_read_missing_one_row(self):
        self.assertTrue(self.check(self.read(1, "metrics_revenue", REVENUE_AFTER_1[:-1])))

    def test_rejects_a_read_whose_plan_scans_no_file(self):
        good = self.read(1, "metrics_revenue", REVENUE_AFTER_1, files_scanned=1)
        none = self.read(1, "metrics_revenue", REVENUE_AFTER_1, files_scanned=0)
        self.assertEqual(self.check(good), [])
        self.assertTrue(self.check(none))

    def test_rejects_rows_of_the_wrong_drop(self):
        self.assertTrue(self.check(self.read(1, "metrics_revenue", REVENUE_AFTER_0)))

    def test_version_as_of_must_repeat_the_read_at_that_version(self):
        head = self.read(0, "metrics_revenue", REVENUE_AFTER_0)
        good = self.read(1, "version_as_of", REVENUE_AFTER_0, source=0, as_of=2)
        bad = self.read(1, "version_as_of", REVENUE_AFTER_1, source=0, as_of=2)
        self.assertEqual(self.check(head, good), [])
        self.assertTrue(self.check(head, bad))

    def test_change_feed_must_turn_one_snapshot_into_the_next(self):
        good = self.read(1, "change_feed", FEED_0_TO_1, **{"from": 2, "to": 3})
        self.assertEqual(self.check(good), [])
        missing_insert = self.read(1, "change_feed", FEED_0_TO_1[:2], **{"from": 2, "to": 3})
        self.assertTrue(self.check(missing_insert))
        outside = self.read(1, "change_feed", FEED_0_TO_1, **{"from": 3, "to": 4})
        self.assertTrue(self.check(outside))


class CorpusCheckTest(unittest.TestCase):

    def setUp(self):
        self.tmp = Path(tempfile.mkdtemp())
        docs = self.tmp / "documents"
        docs.mkdir()
        con = checks.connect()
        con.execute(f"""COPY (SELECT * FROM (VALUES
            (1, 'el de la que', -1, 'drop'),
            (2, 'the cat sat', 0, 'dup'), (7, 'the cat sat', 0, 'dup'),
            (3, 'a b c d', 1, 'dup'), (4, 'a b c e', 1, 'dup'),
            (5, 'singleton', -1, 'keep')) AS t(doc_id, text, grp, role))
            TO '{docs}/part.parquet' (FORMAT parquet)""")
        self.docs = str(docs)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_each_planted_group_keeps_exactly_its_minimum_id(self):
        con = checks.connect()
        self.assertEqual(checks.check_curation(con, self.docs, [{"kept": [2, 3, 5]}]), [])
        self.assertTrue(checks.check_curation(con, self.docs, [{"kept": [2, 3, 5, 7]}]))
        self.assertTrue(checks.check_curation(con, self.docs, [{"kept": [3, 5, 7]}]))
        self.assertTrue(checks.check_curation(con, self.docs, [{"kept": [1, 2, 3, 5]}]))

    def test_top_k_must_match_exact_cosine(self):
        rng = np.random.default_rng(7)
        ids = np.arange(1, 61, dtype=np.int64)
        vecs = rng.normal(size=(60, 8)).astype(np.float32).astype(np.float64)
        qids = np.array([1000, 1001], dtype=np.int64)
        qvecs = rng.normal(size=(2, 8)).astype(np.float32).astype(np.float64)
        k, rows = 3, []
        for q, qv in zip(qids, qvecs):
            scored = sorted(((float(v @ qv) / (math.sqrt(float(v @ v)) * math.sqrt(float(qv @ qv))), int(i))
                             for i, v in zip(ids, vecs)), key=lambda t: (-t[0], t[1]))
            rows += [[int(q), i, rank, cos] for rank, (cos, i) in enumerate(scored[:k], 1)]
        batch = {"queries": [1000, 1001], "rows": rows}
        errors, recall = checks.check_topk((ids, vecs), (qids, qvecs), k, [batch])
        self.assertEqual((errors, recall), ([], 1.0))
        returned = {r[1] for r in rows if r[0] == 1000}
        outsider = next(int(i) for i in ids if int(i) not in returned)
        swapped = [list(r) for r in rows]
        swapped[1][1] = outsider
        errors, _ = checks.check_topk((ids, vecs), (qids, qvecs), k, [{**batch, "rows": swapped}])
        self.assertTrue(errors)


class BenchmarkSpecTest(unittest.TestCase):

    def test_benchmark_json_names_what_run_py_prints(self):
        spec = json.loads((Path(run.REPO) / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()

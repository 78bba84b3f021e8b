"""Tests of the benchmark's own Python side: generators, the DuckDB
reference and the result line. No JVM needed:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import run


def cust(op, cid, name="n", age=30):
    side = "before" if op == "d" else "after"
    return json.dumps({side: {"id": cid, "name": name, "age": age}, "op": op})


def order(oid, cid, ts, price=10.5):
    return json.dumps({"customer_id": cid, "order_id": oid, "price": price,
                       "currency": "usd", "ts": ts})


def ship(oid, sid, ts, origin="iowa"):
    return json.dumps({"order_id": oid, "shipment_id": sid, "origin": origin, "ts": ts})


def topics_of(rows):
    topics = {"customers": [], "orders": [], "shipments": []}
    for t, k, v in rows:
        topics[t].append((len(topics[t]), k, v))
    return topics


class ReferenceTest(unittest.TestCase):
    rows = [
        ("customers", "1", cust("c", "1", "ann", 40)),
        ("customers", "2", cust("c", "2", "bob", 50)),
        ("customers", "1", cust("u", "1", "ann2", 41)),
        ("customers", "2", cust("d", "2")),
        ("customers", "2", None),
        ("orders", "a", order("a", "1", "2024-03-01T00:00:00")),
        ("orders", "b", order("b", "2", "2024-03-01T00:00:00")),
        ("orders", "c", order("c", "1", "2024-03-01T00:00:00")),
        ("shipments", "a", ship("a", "s0", "2024-03-02T00:00:00")),
        ("shipments", "b", ship("b", "s1", "2024-03-03T00:00:00")),
        ("shipments", "a", ship("a", "s2", "2024-03-07T23:00:00", "ohio")),
        ("shipments", "a", ship("a", "s3", "2024-03-09T00:00:00")),  # out of band
        ("shipments", "c", ship("c", "s4", "2024-03-10T00:00:00")),  # out of band
    ]

    def test_latest_customer_left_join_and_last_in_band_shipment(self):
        ref = check.cdc_reference(topics_of(self.rows))
        self.assertEqual(sorted(ref), ["a", "b"])
        a, b = ref["a"], ref["b"]
        self.assertEqual((a["shipment_id"], a["origin"], a["customer_name"], a["customer_age"]),
                         ("s2", "ohio", "ann2", 41))
        self.assertEqual((a["s_off"], a["first_s_off"]), (2, 0))
        # customer 2 was deleted before the order: the left join misses
        self.assertEqual((b["customer_name"], b["customer_age"]), (None, None))

    def doc(self, r, **change):
        d = {k: r[k] for k in check.FIELDS if r[k] is not None}
        d.update(order_id=r["order_id"], __s_offset=r["s_off"])
        d.update(change)
        return d

    def test_corrupted_document_raises_failed_frac(self):
        ref = check.cdc_reference(topics_of(self.rows))
        good = {oid: self.doc(r) for oid, r in ref.items()}
        attempted, failed, _ = check.check_docs(ref, good, "endpoint")
        self.assertEqual((attempted, failed), (2, 0))
        metrics = [{"name": "failed_frac", "unit": "frac"}]
        self.assertEqual(run.summarize(attempted, failed, {}, metrics)["metrics"]
                         ["failed_frac"]["value"], 0.0)
        bad = dict(good, a=self.doc(ref["a"], customer_name="mallory"))
        attempted, failed, _ = check.check_docs(ref, bad, "endpoint")
        out = run.summarize(attempted, failed, {}, metrics)
        self.assertFalse(out["correct"])
        self.assertEqual(out["metrics"]["failed_frac"]["value"], 0.5)

    def test_missing_extra_and_stale_documents_fail(self):
        ref = check.cdc_reference(topics_of(self.rows))
        docs = {"a": self.doc(ref["a"], __s_offset=0), "zz": {"order_id": "zz"}}
        attempted, failed, _ = check.check_docs(ref, docs, "sink")
        self.assertEqual((attempted, failed), (3, 3))

    def test_lookup_outside_band_or_corrupted_fails(self):
        ref = check.cdc_reference(topics_of(self.rows))
        # order a's in-band versions are s0 and s2; s3 is out of band
        self.assertEqual(ref["a"]["in_band"], {"s0": ("iowa", 0), "s2": ("ohio", 2)})
        earlier = self.doc(ref["a"], shipment_id="s0", origin="iowa", __s_offset=0)
        cases = {
            "latest": (self.doc(ref["a"]), False),
            "earlier in-band version": (earlier, False),
            "out-of-band shipment": (dict(earlier, shipment_id="s3", __s_offset=3), True),
            "corrupted price": (self.doc(ref["a"], price=11.5), True),
            "corrupted origin": (self.doc(ref["a"], origin="iowa"), True),
        }
        for what, (doc, bad) in cases.items():
            with self.subTest(what), tempfile.TemporaryDirectory() as d:
                path = os.path.join(d, "lookups.tsv")
                with open(path, "w") as f:
                    f.write(f"a\t0\t0\t1000000\tok\t{json.dumps(doc)}\n")
                attempted, failed, _, _ = check.check_lookups(path, ref, {})
                self.assertEqual((attempted, failed), (1, int(bad)))


class CatalogCheckTest(unittest.TestCase):
    def test_corrupted_query_output_fails(self):
        with tempfile.TemporaryDirectory() as d:
            sf, out = os.path.join(d, "sf"), os.path.join(d, "catalog")
            gen.tables(5, sf, 0.0005)
            os.makedirs(os.path.join(out, "q_regions"))
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"q_regions": "SELECT r_regionkey, r_name FROM region"}, f)
            path = os.path.join(out, "q_regions", "part-0.parquet")
            good = pq.read_table(os.path.join(sf, "region.parquet"))
            pq.write_table(good, path)
            self.assertEqual(check.check_catalog(sf, out, ["q_regions"])[:2], (1, 0))
            names = good.column("r_name").to_pylist()
            pq.write_table(good.set_column(1, "r_name", pa.array(names[:-1] + ["ATLANTIS"])), path)
            self.assertEqual(check.check_catalog(sf, out, ["q_regions"])[:2], (1, 1))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_records(self):
        with tempfile.TemporaryDirectory() as d:
            outs = []
            for sub in ("x", "y", "z"):
                os.makedirs(os.path.join(d, sub))
                gen.cdc_live(7 if sub != "z" else 8, os.path.join(d, sub), 100, 2, 40,
                             n_customers=50)
                outs.append(open(os.path.join(d, sub, "records_live.tsv")).read())
            self.assertEqual(outs[0], outs[1])
            self.assertNotEqual(outs[0], outs[2])

    def test_live_stream_is_in_event_time_order_per_topic(self):
        with tempfile.TemporaryDirectory() as d:
            gen.cdc_live(3, d, 200, 3, 100, n_customers=50)
            topics, _ = check.read_records(os.path.join(d, "records_live.tsv"))
            for t in ("orders", "shipments"):
                ts = [json.loads(v)["ts"] for _, _, v in topics[t]]
                self.assertEqual(ts, sorted(ts))


if __name__ == "__main__":
    unittest.main()

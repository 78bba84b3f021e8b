"""Correctness checks, computed outside the engine.

The CDC reference is a DuckDB batch query over the generated records:
latest customer by offset (deletes and tombstones remove the key), a left
join of the orders to it, the ±7-day inner join to the shipments, then
the last in-band shipment per order by offset. Catalog results are
checked by the repo's own gate, `tools/compare.py`: each query's DuckDB
oracle SQL under its canonical row hash (sorted columns, sorted
rendered rows).

Every check returns (attempted, failed, notes): one operation per
expected row, lookup or query. A missing, extra or wrong row fails.
"""
import contextlib
import glob
import io
import json
import os
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import compare  # noqa: E402

BAND_DAYS = 7
FIELDS = ["shipment_id", "customer_id", "customer_name", "customer_age",
          "origin", "price", "currency"]


def read_records(path):
    """Records per topic as (offset, key, value) lists, plus the
    non-customer stream in file order as (topic, offset) pairs."""
    topics = {"customers": [], "orders": [], "shipments": []}
    stream = []
    with open(path) as f:
        for line in f:
            topic, key, value = line.rstrip("\n").split("\t", 2)
            recs = topics[topic]
            if topic != "customers":
                stream.append((topic, len(recs)))
            recs.append((len(recs), key, None if value == "\\N" else value))
    return topics, stream


def cdc_reference(topics):
    """order_id -> expected document fields, plus the order's offset, the
    offset of its first in-band shipment (for due times) and `in_band`:
    shipment_id -> (origin, offset) of every in-band shipment, the
    versions a reader may see before the last."""
    con = duckdb.connect()
    for t, recs in topics.items():
        tbl = pa.table({"off": pa.array([r[0] for r in recs], pa.int64()),
                        "key": pa.array([r[1] for r in recs], pa.string()),
                        "value": pa.array([r[2] for r in recs], pa.string())})
        con.register(t, tbl)
    ts = "strptime(json_extract_string(value, '$.ts'), '%Y-%m-%dT%H:%M:%S')"
    rows = con.execute(f"""
      WITH c AS (
        SELECT off,
          CASE WHEN value IS NULL THEN key
               ELSE coalesce(json_extract_string(value, '$.after.id'),
                             json_extract_string(value, '$.before.id')) END AS id,
          value IS NULL OR json_extract_string(value, '$.op') = 'd' AS deleted,
          json_extract_string(value, '$.after.name') AS name,
          CAST(json_extract(value, '$.after.age') AS INTEGER) AS age
        FROM customers),
      cust AS (
        SELECT id, name, age FROM c
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY off DESC) = 1
          AND NOT deleted),
      o AS (
        SELECT off AS o_off,
          json_extract_string(value, '$.order_id') AS order_id,
          json_extract_string(value, '$.customer_id') AS customer_id,
          CAST(json_extract(value, '$.price') AS DOUBLE) AS price,
          json_extract_string(value, '$.currency') AS currency,
          {ts} AS o_ts
        FROM orders),
      s AS (
        SELECT off AS s_off,
          json_extract_string(value, '$.order_id') AS order_id,
          json_extract_string(value, '$.shipment_id') AS shipment_id,
          json_extract_string(value, '$.origin') AS origin,
          {ts} AS s_ts
        FROM shipments),
      j AS (
        SELECT o.order_id, s.shipment_id, o.customer_id,
          cust.name AS customer_name, cust.age AS customer_age, s.origin,
          o.price, o.currency, s.s_off, o.o_off,
          min(s.s_off) OVER (PARTITION BY o.order_id) AS first_s_off,
          list([s.shipment_id, s.origin, CAST(s.s_off AS VARCHAR)])
            OVER (PARTITION BY o.order_id) AS in_band
        FROM o LEFT JOIN cust ON o.customer_id = cust.id
        JOIN s ON s.order_id = o.order_id
          AND s.s_ts BETWEEN o.o_ts - INTERVAL {BAND_DAYS} DAY
                         AND o.o_ts + INTERVAL {BAND_DAYS} DAY)
      SELECT order_id, shipment_id, customer_id, customer_name, customer_age,
        origin, price, currency, s_off, o_off, first_s_off, in_band
      FROM j QUALIFY row_number() OVER (PARTITION BY order_id ORDER BY s_off DESC) = 1
    """).fetchall()
    cols = ["order_id"] + FIELDS + ["s_off", "o_off", "first_s_off", "in_band"]
    ref = {r[0]: dict(zip(cols, r)) for r in rows}
    for r in ref.values():
        r["in_band"] = {sid: (origin, int(off)) for sid, origin, off in r["in_band"]}
    return ref


def _same(ref, doc, fields=FIELDS):
    for f in fields:
        a, b = ref[f], doc.get(f)
        if f == "price":
            if b is None or abs(float(a) - float(b)) > 1e-9:
                return False
        elif a != b:
            return False
    return True


def check_docs(ref, docs, what):
    """docs: order_id -> document dict (with `__s_offset`)."""
    attempted, failed, notes = len(ref), 0, []
    for oid, r in ref.items():
        d = docs.get(oid)
        ok = d is not None and _same(r, d) and int(d.get("__s_offset", -1)) == r["s_off"]
        if not ok:
            failed += 1
            if len(notes) < 3:
                notes.append(f"{what} {oid}: expected {r}, got {d}")
    extra = [k for k in docs if k not in ref]
    attempted += len(extra)
    failed += len(extra)
    if extra:
        notes.append(f"{what}: {len(extra)} unexpected ids, e.g. {extra[:3]}")
    return attempted, failed, notes


def read_endpoint(path):
    """order_id -> (document, first arrival ns)."""
    out = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                oid, _, first_ns, doc = line.rstrip("\n").split("\t", 3)
                out[oid] = (json.loads(doc), int(first_ns))
    return out


def read_sink(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return {}
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    cols = rel.columns
    return {r[cols.index("order_id")]: dict(zip(cols, r)) for r in rel.fetchall()}


ORDER_FIELDS = ["customer_id", "customer_name", "customer_age", "price", "currency"]


def valid_version(r, doc):
    """A document is a version of the order a reader may see: one of its
    in-band shipments, with that shipment's origin and offset, and the
    reference's order-side fields and enrichment."""
    ship = r["in_band"].get(doc.get("shipment_id"))
    return (ship is not None and doc.get("origin") == ship[0]
            and int(doc.get("__s_offset", -1)) == ship[1] and _same(r, doc, ORDER_FIELDS))


def check_lookups(path, ref, endpoint):
    """A lookup fails if it threw, returned more than one row, returned a
    row that is not a valid version of the order, or came back empty
    although the order's document had reached the endpoint before the
    lookup began: the sink commits each batch before the endpoint mirror
    sees it."""
    attempted = failed = 0
    notes, lat = [], []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            oid, due, start, end, status, rows = (line.rstrip("\n").split("\t", 5) + [""])[:6]
            attempted += 1
            lat.append((int(end) - int(due)) / 1e6)
            bad = status != "ok"
            found = [json.loads(x) for x in rows.split("\x01") if x]
            if not bad and len(found) > 1:
                bad = True
            elif not bad and found:
                bad = oid not in ref or not valid_version(ref[oid], found[0])
            elif not bad and oid in endpoint and endpoint[oid][1] < int(start):
                bad = True
            if bad:
                failed += 1
                if len(notes) < 3:
                    notes.append(f"lookup {oid}: {status} {rows[:200]}")
    return attempted, failed, notes, lat


# ---- catalog oracle check ----

def check_catalog(sf_dir, result_dir, queries, failed_in_timed_passes=()):
    """Run `tools/compare.py` over `result_dir` (`<query>/*.parquet` plus
    `oracle_sql.json`) and count each query that it fails, that has no
    oracle SQL, or that threw in a timed pass."""
    oracle_path = os.path.join(result_dir, "oracle_sql.json")
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    report = io.StringIO()
    if oracle:
        with contextlib.redirect_stdout(report):
            compare.main(sf_dir, result_dir)
    gate_fail = {}
    for line in report.getvalue().splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            gate_fail[name] = why
    failed, notes = 0, []
    for q in queries:
        problem = ("failed in a timed pass" if q in failed_in_timed_passes
                   else "no oracle SQL" if q not in oracle else gate_fail.get(q))
        if problem:
            failed += 1
            notes.append(f"{q}: {problem[:300]}")
    return len(queries), failed, notes

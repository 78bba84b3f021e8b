"""Seeded input generators for the benchmark.

Everything the engine sees is made here from `--seed`: the CDC records of
the two pipeline workloads and the sf-style parquet tables the catalog
queries read. The same seed always gives byte-identical inputs.

CDC record files are tab-separated lines `topic<TAB>key<TAB>value`, with
`\\N` for a null value (a Kafka tombstone). The JVM harness produces them
to the embedded broker in file order, so a record's line number within
its topic is its Kafka offset.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = dt.datetime(2024, 3, 1)
DAY = 86400
TS_FMT = "%Y-%m-%dT%H:%M:%S"
NAMES = ["ann", "bill", "carl", "dora", "eve", "fred", "gina", "hank",
         "ivy", "jack", "kim", "lou", "mia", "ned", "olga", "pete"]
ORIGINS = ["texas", "iowa", "maine", "ohio", "utah", "idaho", "florida",
           "california", "oregon", "nevada", "alaska", "vermont"]
CURRENCIES = ["usd", "eur", "aud", "gbp"]
NULL = "\\N"
# shape of the repo's sf testdata (TESTDATA.md), measured with DuckDB
# at sf0.1: 15k customers, 150k orders, 600k lineitems; 10 orders per
# customer (customer drawn uniformly), Poisson(4) lineitems per order
ORDERS_PER_CUSTOMER = 10
SHIPMENTS_PER_ORDER = 4


def _ts(sec):
    return (BASE_TS + dt.timedelta(seconds=int(sec))).strftime(TS_FMT)


def _customer_json(op, cid, name, age):
    side = "before" if op == "d" else "after"
    return f'{{"{side}":{{"id":"{cid}","name":"{name}","age":{int(age)}}},"op":"{op}"}}'


def customers(rng, n):
    """Debezium snapshot of `n` customers, then seeded updates (about a
    fifth of the keys, some twice) and deletes (about 3%, each a delete
    envelope followed by its tombstone)."""
    recs = []
    for i in range(n):
        cid = f"c{i}"
        recs.append((cid, _customer_json(
            "c", cid, f"{NAMES[rng.integers(len(NAMES))]}{i}",
            rng.integers(18, 90))))
    changed = rng.permutation(n)
    n_upd = n // 5
    upd = list(changed[:n_upd]) + list(changed[:n_upd // 4])
    rng.shuffle(upd)
    for i in upd:
        cid = f"c{i}"
        recs.append((cid, _customer_json(
            "u", cid, f"{NAMES[rng.integers(len(NAMES))]}{i}u",
            rng.integers(18, 90))))
    for i in changed[n_upd:n_upd + max(1, n * 3 // 100)]:
        cid = f"c{i}"
        recs.append((cid, _customer_json("d", cid, f"gone{i}", 0)))
        recs.append((cid, None))
    return recs


def orders_and_shipments(rng, n_orders, n_customers, order_ts, max_lag_days=9,
                         prefix="", cust_prefix="c"):
    """`n_orders` orders at the given event times (seconds from BASE_TS,
    ascending), each naming a uniformly drawn customer, with a
    Poisson(4) number of shipments lagging their order by 0 to
    `max_lag_days` (at 9, about a fifth fall outside the 7-day band).
    Customers per order and shipments per order follow the repo's
    testdata (orders per customer and lineitems per order, see
    perfbench/README.md). `prefix` goes before every order and shipment
    id."""
    orders, ships = [], []
    for j in range(n_orders):
        oid = f"{prefix}o{j}"
        cust = f"{cust_prefix}{rng.integers(n_customers)}"
        price = round(float(rng.uniform(1000, 500000)), 2)
        cur = CURRENCIES[rng.integers(len(CURRENCIES))]
        orders.append((int(order_ts[j]), oid,
                       f'{{"customer_id":"{cust}","order_id":"{oid}","price":{price},'
                       f'"currency":"{cur}","ts":"{_ts(order_ts[j])}"}}'))
        for _ in range(rng.poisson(SHIPMENTS_PER_ORDER)):
            s_sec = int(order_ts[j] + rng.uniform(0, max_lag_days * DAY))
            sid = f"{prefix}s{len(ships)}"
            ships.append((s_sec, oid,
                          f'{{"order_id":"{oid}","shipment_id":"{sid}",'
                          f'"origin":"{ORIGINS[rng.integers(len(ORIGINS))]}","ts":"{_ts(s_sec)}"}}'))
    # emitted in event-time order; ties keep generation order
    ships.sort(key=lambda r: r[0])
    return orders, ships


def _write_records(path, rows):
    with open(path, "w") as f:
        for topic, key, value in rows:
            f.write(f"{topic}\t{key}\t{NULL if value is None else value}\n")


def cdc_backfill(seed, out_dir, n_customers=750):
    """One backlog: customers, then orders, then shipments (three hops),
    with the sf0.1 backlog's rows per key at a twentieth of its size.
    Order event times span 6 days so a hop-at-a-time catch-up never lets
    the 7-day watermark overtake a record."""
    n_orders = n_customers * ORDERS_PER_CUSTOMER
    rng = np.random.default_rng([seed, 1])
    cust = customers(rng, n_customers)
    ots = np.sort(rng.uniform(0, 6 * DAY, n_orders))
    orders, ships = orders_and_shipments(rng, n_orders, n_customers, ots)
    rows = [("customers", k, v) for k, v in cust]
    rows += [("orders", oid, v) for _, oid, v in orders]
    rows += [("shipments", oid, v) for _, oid, v in ships]
    _write_records(os.path.join(out_dir, "records_backfill.tsv"), rows)
    return len(rows)


def cdc_live(seed, out_dir, rate, seconds, warm, n_customers=750):
    """Customers, then `warm` set-up records, then `rate * seconds` order
    and shipment records merged in event-time order.

    The set-up records are loaded with the customers to warm the
    pipeline: orders three weeks before the run whose customer ids never
    exist, so their enrichment is the same whichever hop runs first, with
    shipments inside the band. Timed orders are 30 event minutes apart,
    so the 0-9 day shipment lag spans a few hundred orders: most
    shipments are emitted within the run."""
    rng = np.random.default_rng([seed, 2])
    cust = customers(rng, n_customers)
    n_warm = warm // (1 + SHIPMENTS_PER_ORDER)
    w_orders, w_ships = orders_and_shipments(
        rng, n_warm, n_warm, np.arange(n_warm) * 600.0 - 21 * DAY,
        max_lag_days=5, prefix="w", cust_prefix="x")
    total = int(rate * seconds)
    n_orders = total // 2 + 64
    ots = np.arange(n_orders) * 1800.0
    orders, ships = orders_and_shipments(rng, n_orders, n_customers, ots)
    def merged(os_, ss):
        return [(topic, k, v) for _, _, _, topic, k, v in sorted(
            [(t, 0, i, "orders", k, v) for i, (t, k, v) in enumerate(os_)] +
            [(t, 1, i, "shipments", k, v) for i, (t, k, v) in enumerate(ss)])]
    warm_rows = merged(w_orders, w_ships)
    rows = [("customers", k, v) for k, v in cust]
    rows += warm_rows + merged(orders, ships)[:total]
    _write_records(os.path.join(out_dir, "records_live.tsv"), rows)
    return len(warm_rows)


# ---- sf-style tables for the catalog queries ----

def _table(path, cols, only=None):
    if only is None or os.path.basename(path).split(".")[0] in only:
        pq.write_table(pa.table(cols), path)


def tables(seed, out_dir, sf, only=None):
    """The ten sf tables at scale `sf`, with the names, columns, types
    and value distributions of the repo's testdata (TESTDATA.md; measured
    at sf0.1 with DuckDB, see perfbench/README.md): sf0.1 has 15k
    customers, 150k orders and 600k lineitems. `only` limits which
    tables are written."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    # as in the testdata, documents keep 500 rows below sf0.01 and
    # embeddings below sf0.025 (the sf0.001 and sf0.01 testdata have 500
    # of each)
    n_events = int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _table(p("region"), only=only, cols={"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": regions})
    _table(p("nation"), only=only, cols={"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _table(p("customer"), only=only, cols={
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _table(p("supplier"), only=only, cols={
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])
    _table(p("part"), only=only, cols={
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                               noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2405, n_ord).astype("timedelta64[D]")
    _table(p("orders"), only=only, cols={
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    # each lineitem draws its order uniformly (Poisson(4) per order) and,
    # as in the testdata, a ship date independent of the order date
    ship = day0 + rng.integers(1, 2500, n_line).astype("timedelta64[D]")
    _table(p("lineitem"), only=only, cols={
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})
    ev_us = np.sort(rng.integers(0, 30 * DAY * 1_000_000, n_events))
    _table(p("events"), only=only, cols={
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01") + ev_us.astype("timedelta64[us]"))
                       .astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_events), pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    vocab = np.array(["batch", "part", "spark", "line", "column", "order", "small",
                      "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
                      "agg", "filter", "query", "big", "key", "window", "row", "table",
                      "stream", "merge", "data", "vector", "join", "customer", "the"])
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(n_docs)]
    # one document in twenty is a near-duplicate: another document's
    # text with " dup" appended
    dups = rng.permutation(n_docs)[:n_docs // 20]
    bases = np.setdiff1d(np.arange(n_docs), dups)
    for i in dups:
        texts[i] = texts[bases[rng.integers(len(bases))]] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _table(p("documents"), only=only, cols={
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # isotropic unit vectors, labels independent of them
    emb = rng.normal(0, 1, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _table(p("embeddings"), only=only, cols={
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array([list(r) for r in emb.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})

#!/usr/bin/env python3
"""Seeded inputs for the benchmark.

`tables` builds the ten fixture tables the engine reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the physical schema of the shipped test fixtures (timestamp[us] without
zone, list<float> embeddings) and their value distributions: uniform keys
and dates, lineitem ship dates independent of order dates, a 31-word
document vocabulary with 5% exact re-deliveries marked ` dup`, and weakly
clustered unit embeddings. `stride` > 1 puts every order and ship date on a
grid of every stride-th day, which bounds the fact store's partition count.

`write_fixture` writes them as one snappy parquet file each (query_mix);
`stage_days` turns them into the pipeline's CSV deliveries (batch_daily).
The same seed always gives byte-identical inputs. perfbench/run.py calls
these; the module has no command line of its own.
"""
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_START).days + 1
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 10**6


def grid_days(start, offsets, stride):
    """Day offsets snapped onto a grid of every `stride`-th day whose phase
    keeps 1996-03-03 on it, so the week the incremental KPI reads is never
    empty."""
    phase = (dt.datetime(1996, 3, 3) - start).days % stride
    offsets = offsets - (offsets - phase) % stride
    offsets = np.where(offsets < 0, offsets + stride, offsets)
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def sizes(sf):
    def n(per_sf, floor):
        return max(floor, int(round(per_sf * sf)))
    return dict(customer=n(150_000, 15), supplier=n(10_000, 5), part=n(200_000, 20),
                orders=n(1_500_000, 100), lineitem=n(6_000_000, 400),
                events=n(1_000_000, 100), users=n(15_000, 10),
                documents=n(50_000, 500), embeddings=n(20_000, 500))


def tables(seed, sf, stride):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out = {}

    def add(name, cols):
        out[name] = pa.table(cols)

    add("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    add("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def acctbal(k):
        return np.round(rng.uniform(-999.99, 9999.99, k), 2)

    c = n["customer"]
    add("customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": acctbal(c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    add("supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": acctbal(s)})

    p = n["part"]
    keys = np.arange(p)
    retail = np.round(900.0 + (keys % 1000) / 10.0, 1)
    add("part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": [TYPES[t] for t in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": retail})

    o = n["orders"]
    add("orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": grid_days(ORDER_START, rng.integers(0, ORDER_DAYS, o), stride),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})

    li = n["lineitem"]
    partkey = rng.integers(0, p, li)
    qty = rng.integers(1, 51, li).astype(np.float64)
    add("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.5, 3.7, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": grid_days(ORDER_START, rng.integers(1, ORDER_DAYS + 95, li), stride)})

    e = n["events"]
    gaps = rng.exponential(1.0, e)
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (EVENT_SPAN_US - 10**6)).astype(np.int64)
    add("events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64(EVENT_START, "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.uniform(0.01, 490.02, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:
            src = texts[rng.integers(0, i)]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    add("documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    m = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, m)
    vecs = 0.14 * centers[labels] + rng.normal(scale=0.125, size=(m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    add("embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_fixture(tabs, out):
    """Writes every table as <out>/<name>.parquet; returns the total row count."""
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, out / f"{name}.parquet", compression="snappy")
    return sum(t.num_rows for t in tabs.values())


def _ts(v):
    return "" if v is None else v.strftime("%Y-%m-%d %H:%M:%S")


def _csv(path, header, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def stage_days(tabs, seed, n_days, out):
    """Stages the pipeline's CSV contract, mapped from the fixture tables
    the way the engine's domain views map them: `products.csv` (the master
    data, delivered once) and one delivery per calendar day from a
    seed-picked first day, `days/<date>/{orders,order_items}.csv`, listed
    with their row counts in `days.tsv`. A day's items are those of its
    orders, whatever their ship dates. Days lacking orders or items are
    skipped: the pipeline would (correctly) hold them as incomplete.
    """
    part = tabs["part"].to_pydict()
    _csv(out / "products.csv", ["id", "sku", "cost", "category", "retail_price"],
         ([str(k), name, repr(price * 0.6), cat, repr(price)] for k, name, cat, price in
          zip(part["p_partkey"], part["p_name"], part["p_type"], part["p_retailprice"])))
    first = np.datetime64(ORDER_START.date()) + int(
        np.random.default_rng([seed, 1]).integers(30, ORDER_DAYS - 3 * n_days))
    o = tabs["orders"]
    oday = o["o_orderdate"].to_numpy().astype("datetime64[D]")
    # a window wide enough for n_days non-empty days
    sel = (oday >= first) & (oday < first + 2 * n_days)
    orders = o.filter(pa.array(sel)).to_pydict()
    li = tabs["lineitem"]
    li = li.filter(pa.array(np.isin(li["l_orderkey"].to_numpy(), orders["o_orderkey"]))).to_pydict()
    items = {}
    for key, pk, price, disc, flag, ship in zip(li["l_orderkey"], li["l_partkey"],
                                                li["l_extendedprice"], li["l_discount"],
                                                li["l_returnflag"], li["l_shipdate"]):
        items.setdefault(key, []).append((pk, price * (1.0 - disc), ship if flag == "R" else None, ship))
    by_day = {}
    for key, cust, status, ts in zip(orders["o_orderkey"], orders["o_custkey"],
                                     orders["o_orderstatus"], orders["o_orderdate"]):
        by_day.setdefault(ts.date(), []).append((key, cust, ts, ts if status == "F" else None))
    listing = []
    for day in sorted(by_day):
        if len(listing) == n_days:
            break
        day_orders = by_day[day]
        day_items = [(k,) + it for k, *_ in day_orders for it in items.get(k, [])]
        if not day_items:
            continue
        d = day.isoformat()
        _csv(out / "days" / d / "orders.csv", ["order_id", "user_id", "created_at", "returned_at"],
             ([str(k), str(c), _ts(t), _ts(r)] for k, c, t, r in day_orders))
        _csv(out / "days" / d / "order_items.csv",
             ["order_id", "product_id", "sale_price", "returned_at", "created_at"],
             ([str(k), str(p), repr(s), _ts(r), _ts(c)] for k, p, s, r, c in day_items))
        listing.append(f"{d}\t{len(day_orders)}\t{len(day_items)}")
    (out / "days.tsv").write_text("\n".join(listing) + "\n")

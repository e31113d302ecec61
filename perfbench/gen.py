"""Seeded input generators for the perfbench workloads.

Every table mirrors the schema and value distributions of graft's
TPC-H-ish test tables (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings), so graft reads them through its
own `sources.Tables` readers. The same seed always yields byte-identical
inputs; graft only ever sees the files written here.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(values[rng.choice(len(values), n, p=p)])


def events(rng, n, id0=0, t0_us=EPOCH_2024_US):
    """Event stream rows, ts-ordered, ~26 s mean gap like the test data."""
    gaps = rng.exponential(26e6, n).astype(np.int64) + 1
    return {
        "event_id": np.arange(id0, id0 + n, dtype=np.int64),
        "ts": t0_us + np.cumsum(gaps),
        "user_id": rng.integers(0, max(15, n * 15 // 1000), n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    }


def write_events(path, ev):
    _write(path, {
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": _ts(ev["ts"]),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(ev["props"]),
    })


def orders_cols(rng, n):
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n)),
        "o_orderstatus": _pick(rng, np.array(["O", "F", "P"]), n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(EPOCH_1995_US + days * DAY_US),
        "o_orderpriority": _pick(rng, np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    }


def documents_cols(rng, n):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # ~5% near-duplicates: another document's text plus one marker token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings_cols(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def star_schema(out, seed, orders, events_n, docs, vecs):
    """All ten test tables at a scale set by the orders row count
    (sf 0.1 = 150k orders)."""
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp = max(10, orders // 10), max(20, orders * 2 // 15), \
        max(10, orders // 150)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, np.array(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]),
            n_cust),
    })
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([ADJ[a] + " " + NOUN[b] for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, np.array(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    _write(f"{out}/orders.parquet", orders_cols(rng, orders))
    n_li = orders * 4
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, orders, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, np.array(["A", "N", "R"]), n_li),
        "l_linestatus": _pick(rng, np.array(["F", "O"]), n_li),
        "l_shipdate": _ts(EPOCH_1995_US + (1 + rng.integers(0, 2498, n_li)) * DAY_US),
    })
    write_events(f"{out}/events.parquet", events(rng, events_n))
    _write(f"{out}/documents.parquet", documents_cols(rng, docs))
    _write(f"{out}/embeddings.parquet", embeddings_cols(rng, vecs))


def medallion(out, seed, batches, batch_size):
    """A ts-ordered event stream cut into `batches` deliveries of about
    `batch_size` events. Of the events, ~1% arrive one batch late; ~2%
    extra rows are exact redeliveries of an already-sent event and ~1%
    are same-id corrections (same ts, value + 1.00, so they win the
    latest-wins order) sent in the same or a later batch."""
    rng = np.random.default_rng(seed)
    n = batches * batch_size
    ev = events(rng, n, id0=1_000_000_000)
    home = np.arange(n) // batch_size
    late = (rng.random(n) < 0.01) & (home < batches - 1)
    home[late] += 1
    idx = [np.arange(n)]
    where = [home]
    kinds = [np.zeros(n, dtype=np.int8)]
    for kind, share in ((1, 0.02), (2, 0.01)):
        src = rng.choice(n, int(n * share), replace=False)
        idx.append(src)
        where.append(np.minimum(batches - 1, home[src] + rng.integers(0, 3, len(src))))
        kinds.append(np.full(len(src), kind, dtype=np.int8))
    idx, where, kinds = map(np.concatenate, (idx, where, kinds))
    rows = {k: v[idx] for k, v in ev.items()}
    rows["value"] = np.where(kinds == 2, np.round(rows["value"] + 1.0, 2), rows["value"])
    for b in range(batches):
        sel = np.flatnonzero(where == b)
        sel = sel[np.argsort(rows["ts"][sel], kind="stable")]
        write_events(f"{out}/b{b:02d}/events.parquet", {k: v[sel] for k, v in rows.items()})


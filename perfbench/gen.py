"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine reads (one parquet file per
table, the schemas in FIXTURES.md) and, for the snapshot workload, the
per-cycle deltas and the lookup plan. Column domains mirror the
reference fixtures: uniform TPC-H-ish keys and values, a 30-word
document vocabulary with 5% near-duplicate documents, label-clustered
64-d embeddings, and an event stream with exponential gaps.

The same seed gives byte-identical tables, deltas and plan.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

# Row counts of the reference fixtures at each scale factor.
SIZES = {
    "0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, users=15, documents=500,
                  embeddings=500),
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, users=1500, documents=5000,
                embeddings=2000),
}

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# Snapshot-cycle sizes. Each changing table (lineitem, orders, events)
# changes per cycle by 1/FLUSHES of its rows, 2,000 rows of orders at
# sf0.1, as the workload is specified. A range lookup spans the order
# keys of one such delta. The changing tables start cut into FILES
# key-range files, so a point key touches one file in FILES; one file per
# delta's worth of rows (75) made every cycle about twice as slow,
# per-file overhead swamping the data volume.
MAX_CYCLES = 48
FLUSHES = 75
FILES = 16


def delta_rows(sf, table):
    return SIZES[sf][table] // FLUSHES

def tag(c):
    """Snapshot tag of cycle c, as the harness names it (SnapshotCycle.tag)."""
    return (datetime.date(2024, 3, 1) + datetime.timedelta(days=c)).isoformat()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def lineitem(rng, n, n_orders, n_part, n_supp):
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": ts(EPOCH_1995 + DAY_US * rng.integers(1, 2499, n)),
    })


def orders_rows(rng, keys, n_cust):
    n = len(keys)
    return pa.table({
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": ts(EPOCH_1995 + DAY_US * rng.integers(0, 2404, n)),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n),
    })


def events(rng, n, n_users, first_id=0, start_us=EPOCH_2024):
    gaps = rng.exponential(30 * DAY_US / max(n, 1), n).astype(np.int64) + 1
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts(start_us + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lengths.sum())]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near-duplicates: a copy of another document plus one token
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, type=pa.string()),
        "lang": pick(rng, ["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n):
    centroids = rng.normal(0.0, 0.01, (10, 64))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = (centroids[labels] + rng.normal(0.0, 0.125, (n, 64))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def tables(seed, sf):
    z = SIZES[sf]
    rng = np.random.default_rng([seed, 1])
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": np.arange(z["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(z["customer"])],
            "c_nationkey": rng.integers(0, 25, z["customer"], dtype=np.int32),
            "c_acctbal": money(rng, -999.99, 9999.99, z["customer"]),
            "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"], z["customer"])}),
        "supplier": pa.table({
            "s_suppkey": np.arange(z["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(z["supplier"])],
            "s_nationkey": rng.integers(0, 25, z["supplier"], dtype=np.int32),
            "s_acctbal": money(rng, -999.99, 9999.99, z["supplier"])}),
        "part": pa.table({
            "p_partkey": np.arange(z["part"], dtype=np.int64),
            "p_name": pick(rng, [f"{a} {b}" for a in ADJ for b in NOUN], z["part"]),
            "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], z["part"]),
            "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                 "STANDARD"], z["part"]),
            "p_size": rng.integers(1, 51, z["part"], dtype=np.int32),
            "p_retailprice": np.round(rng.integers(9000, 10000, z["part"]) / 10.0, 1)}),
        "orders": orders_rows(rng, np.arange(z["orders"]), z["customer"]),
        "lineitem": lineitem(rng, z["lineitem"], z["orders"], z["part"], z["supplier"]),
        "events": events(rng, z["events"], z["users"]),
        "documents": documents(rng, z["documents"]),
        "embeddings": embeddings(rng, z["embeddings"]),
    }
    return out


def write_tables(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def snapshot_inputs(out_dir, seed, sf):
    """Per-cycle deltas (cycle 1..MAX_CYCLES) and the lookup plan.

    Cycle c appends a delta of line items to existing orders, replaces
    an orders slice starting at a seeded key with new values, and
    appends a delta of events after the stream's end. Its lookups are
    one point key on lineitem, one key range on orders and one footer
    aggregate on lineitem, in seeded order.
    """
    z = SIZES[sf]
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_od, n_ev = (delta_rows(sf, t) for t in ("lineitem", "orders", "events"))
    li, od, ev, plan = [], [], [], []
    next_event = z["events"]
    for c in range(1, MAX_CYCLES + 1):
        t = lineitem(rng, n_li, z["orders"], z["part"], z["supplier"])
        li.append(t.append_column("cycle", pa.array(np.full(t.num_rows, c, np.int32))))
        lo = int(rng.integers(0, z["orders"] - n_od))
        t = orders_rows(rng, np.arange(lo, lo + n_od), z["customer"])
        od.append(t.append_column("cycle", pa.array(np.full(t.num_rows, c, np.int32))))
        t = events(rng, n_ev, z["users"], next_event, EPOCH_2024 + 31 * DAY_US + c * DAY_US)
        next_event += n_ev
        ev.append(t.append_column("cycle", pa.array(np.full(t.num_rows, c, np.int32))))
        a = int(rng.integers(0, z["orders"] - n_od))
        ops = [["point", int(rng.integers(0, z["orders"]))], ["range", a, a + n_od], ["footer"]]
        plan.append({"cycle": c, "lookups": [ops[i] for i in rng.permutation(len(ops))],
                     "asof_back": int(rng.integers(0, 3))})
    pq.write_table(pa.concat_tables(li), os.path.join(out_dir, "delta_lineitem.parquet"))
    pq.write_table(pa.concat_tables(od), os.path.join(out_dir, "delta_orders.parquet"))
    pq.write_table(pa.concat_tables(ev), os.path.join(out_dir, "delta_events.parquet"))
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump({"files": FILES, "plan": plan}, f)

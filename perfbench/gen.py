"""Seeded inputs for the engine benchmark.

Everything a run consumes is derived from its seed here:

* `write_tables(dir, seed, sf)` writes the ten fixture tables (same names and
  schemas as the repo's sf fixtures, see FIXTURES.md) as one parquet file each.
* `write_scaled(dir, seed, sf, copies)` writes `copies` key-shifted copies of
  the TPC-H tables (the TpchSf1Gen shape: every copy joins only within itself,
  region/nation shared), one parquet file per copy under `<table>.parquet/`.
* `mor_ops(seed, ...)` returns the operation list of the `table_mor` workload.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query filter stream vector group").split()

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
TABLES = TPCH + ["events", "documents", "embeddings"]
# per-copy key shifts of the scaled TPC-H tables: column -> key space it lives in
SHIFTS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
}

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (µs) drawn uniformly from [start, end]."""
    span = (end - start).days
    return _us(start) + rng.integers(0, span + 1, n) * 86_400_000_000


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def counts(sf):
    """Row counts of each table at scale factor `sf` (lineitem = 6M * sf)."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def tables(seed, sf):
    """The ten fixture tables as pyarrow Tables, a pure function of (seed, sf)."""
    rng = np.random.default_rng([seed, 1])
    n = counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), k)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, k)],
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), k)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
    })
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), k)),
    })
    k = n["events"]
    month_us = 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(_us(dt.datetime(2024, 1, 1)) + np.sort(rng.integers(0, month_us, k))),
        "user_id": rng.integers(0, 1500, k).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), int(w))])
             for w in rng.integers(8, 100, k)]
    for i in rng.choice(k, size=max(1, k // 100), replace=False):
        texts[i] = texts[int(rng.integers(0, k))]  # exact duplicates for dedup
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def write_scaled(out, seed, sf, copies):
    """`copies` key-shifted copies of the TPC-H tables at `sf`, one file per copy."""
    base = tables(seed, sf)
    n = counts(sf)
    span = {"cust": n["customer"], "supp": n["supplier"], "part": n["part"],
            "order": n["orders"]}
    os.makedirs(out, exist_ok=True)
    for name in TPCH:
        tbl = base[name]
        if name not in SHIFTS:
            pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
            continue
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        for c in range(copies):
            cols = {f: tbl[f] for f in tbl.column_names}
            for f, space in SHIFTS[name].items():
                cols[f] = pa.array(tbl[f].to_numpy() + c * span[space], pa.int64())
            # row groups small enough that Spark can split a file across tasks
            pq.write_table(pa.table(cols), os.path.join(d, f"part-{c:03d}.parquet"),
                           row_group_size=1 << 16)


def mor_ops(seed, appends, rows, deletes, updates, upserts, reads):
    """The `table_mor` operation list: a pure function of its arguments.

    `appends` lineitem-shaped batches of `rows` rows each build the history
    (batch i holds l_orderkey in [i*rows, (i+1)*rows)); then `deletes`,
    `updates` and `upserts` merge-on-read statements are interleaved, in a
    seeded order, with `reads` reads (point and range alternating, every
    other one travelling back to an earlier version); then one compaction;
    then `reads` more reads of the compacted head. A read names the version
    it travels to by the index of the operation that produced it (`at_op`).
    """
    rng = np.random.default_rng([seed, 2])
    ops = []
    versioned = []  # indices of ops that produce a table version
    for i in range(appends):
        versioned.append(len(ops))
        ops.append({"kind": "commit", "op": "append", "seed": int(rng.integers(1 << 31)),
                    "key0": i * rows, "rows": rows})
    keys = appends * rows

    def key():
        return int(rng.integers(0, keys))

    def read(j, travel):
        """The j-th read of a group: point reads and range reads alternate."""
        r = {"kind": "read", "op": "point" if j % 2 == 0 else "range"}
        if r["op"] == "point":
            r["key"] = key()
        else:
            r["lo"] = key()
            r["hi"] = r["lo"] + int(rng.integers(rows // 4, rows))
        r["at_op"] = int(versioned[rng.integers(0, len(versioned))]) if travel else None
        return r

    # before the compaction every other read travels back to an earlier version
    body = (["delete"] * deletes + ["update"] * updates + ["upsert"] * upserts
            + [f"read{j}" for j in range(reads)])
    for k in rng.permutation(body):
        if k.startswith("read"):
            j = int(k[4:])
            ops.append(read(j, travel=j % 2 == 1))
            continue
        lo = key()
        op = {"kind": "dml", "op": str(k), "lo": lo}
        if k == "delete":
            op["hi"] = lo + int(rng.integers(1, rows // 8 + 2))
        elif k == "update":
            op["hi"] = lo + int(rng.integers(1, rows // 8 + 2))
            op["discount"] = int(rng.integers(0, 11)) / 100.0
        else:
            op["rows"] = int(rng.integers(1, rows // 8 + 2))
            op["seed"] = int(rng.integers(1 << 31))
        versioned.append(len(ops))
        ops.append(op)
    ops.append({"kind": "commit", "op": "compact"})
    for j in range(reads):
        ops.append(read(j, travel=False))
    return ops

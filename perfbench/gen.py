"""Seeded inputs for the three workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet and the same op stream. The JVM side reads only
what is written here; the checks in check.py recompute expectations from
the same files, never from graft.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- analytics: TPC-H-shaped star schema + events, ~1/10 of sf0.1 ------------
A_CUSTOMERS = 1500
A_SUPPLIERS = 100
A_PARTS = 2000
A_ORDERS = 15000
A_EVENTS = 10000
A_USERS = 150

# --- lakehouse: one partitioned table, replayed as graft / Delta / Iceberg ---
L_ROWS = 20000          # initial rows
L_MERGE_UPD = 300       # MERGE source rows that match a live key
L_MERGE_INS = 100       # MERGE source rows with fresh keys
L_APPEND = 200          # rows per append
L_DELETE_MOD = 97       # DELETE WHERE pmod(id, 97) = k   (~1 % of rows)
L_UPDATE_MOD = 89       # UPDATE ... WHERE pmod(id, 89) = k (~1 % of rows)
L_STATUSES = ["F", "O", "P"]

# --- curation: corpus with planted duplicates + embeddings -------------------
C_BASE_DOCS = 1600
C_EXACT = 120           # verbatim copies of a base doc
C_CANON = 80            # case / punctuation variants of a base doc
C_NEAR = 200            # token-substituted copies (Jaccard 0.55 .. 0.95)
C_CONTAM = 40           # docs with a 13-gram copied from a benchmark doc
C_BENCH_DOCS = 30
C_VOCAB = 6000
C_VECTORS = 2000
C_DIM = 48
C_CENTERS = 24
C_VEC_DUPS = 200        # planted near-duplicate vectors (cosine >= ~0.98)

TS = pa.timestamp("us")


def _write(path, cols, schema):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols, schema=schema), path)


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")


def gen_analytics(rng, d):
    region = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(f"{d}/region.parquet", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": region},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(f"{d}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{d}/customer.parquet", {
        "c_custkey": np.arange(A_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(A_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, A_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.integers(-99985, 999981, A_CUSTOMERS) / 100.0, 2),
        "c_mktsegment": segs[rng.integers(0, 5, A_CUSTOMERS)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                   ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))
    _write(f"{d}/supplier.parquet", {
        "s_suppkey": np.arange(A_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(A_SUPPLIERS)],
        "s_nationkey": rng.integers(0, 25, A_SUPPLIERS).astype(np.int32),
        "s_acctbal": np.round(rng.integers(-99985, 999981, A_SUPPLIERS) / 100.0, 2)},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                   ("s_acctbal", pa.float64())]))
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(f"{d}/part.parquet", {
        "p_partkey": np.arange(A_PARTS, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(A_PARTS)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, A_PARTS)],
        "p_type": ptypes[rng.integers(0, 6, A_PARTS)],
        "p_size": rng.integers(1, 51, A_PARTS).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 20000, A_PARTS) / 100.0, 2)},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                   ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{d}/orders.parquet", {
        "o_orderkey": np.arange(A_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, A_CUSTOMERS, A_ORDERS).astype(np.int64),
        "o_orderstatus": status[rng.integers(0, 3, A_ORDERS)],
        "o_totalprice": np.round(rng.integers(100000, 50000000, A_ORDERS) / 100.0, 2),
        "o_orderdate": _dates(rng, A_ORDERS, "1995-01-01", 2404),
        "o_orderpriority": prio[rng.integers(0, 5, A_ORDERS)]},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                   ("o_totalprice", pa.float64()), ("o_orderdate", TS), ("o_orderpriority", pa.string())]))
    lines = rng.integers(1, 8, A_ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(A_ORDERS, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = np.array(["A", "N", "R"])
    _write(f"{d}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, A_PARTS, n).astype(np.int64),
        "l_suppkey": rng.integers(0, A_SUPPLIERS, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90000, 210000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flags[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _dates(rng, n, "1995-01-02", 2498)},
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                   ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                   ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                   ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                   ("l_linestatus", pa.string()), ("l_shipdate", TS)]))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    start = np.datetime64("2024-01-01", "us")
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, A_EVENTS).astype("timedelta64[us]"))
    _write(f"{d}/events.parquet", {
        "event_id": np.arange(A_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, A_USERS, A_EVENTS).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, A_EVENTS)],
        "value": np.round(rng.integers(0, 56000, A_EVENTS) / 100.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, A_EVENTS)]},
        pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                   ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]))


LAKE_SCHEMA = pa.schema([("id", pa.int64()), ("status", pa.string()), ("qty", pa.int32()),
                         ("cents", pa.int64()), ("ver", pa.int32()), ("note", pa.string())])


def _lake_rows(rng, ids, ver, status=None):
    n = len(ids)
    if status is None:
        status = np.array(L_STATUSES)[rng.integers(0, 3, n)]
    return {"id": np.asarray(ids, dtype=np.int64), "status": np.asarray(status),
            "qty": rng.integers(1, 51, n).astype(np.int32),
            "cents": rng.integers(100, 1_000_000, n).astype(np.int64),
            "ver": np.full(n, ver, dtype=np.int32),
            "note": [f"n{v}" for v in rng.integers(0, 10**rng.integers(1, 6), n)]}


def gen_lakehouse(rng, d, rounds):
    """Initial table plus `rounds` rounds of MERGE / DELETE / UPDATE / APPEND.

    The op stream is fixed here; the model in check.py replays it. MERGE
    updates keep each row's status, so no op moves a row across the
    partition column."""
    base = _lake_rows(rng, np.arange(L_ROWS), 0)
    _write(f"{d}/base.parquet", base, LAKE_SCHEMA)
    live = dict(zip(base["id"].tolist(), base["status"].tolist()))
    next_id = L_ROWS
    ops = []    # (round, delete modulus, delete residue, update modulus, update residue)
    for r in range(1, rounds + 1):
        keys = np.array(sorted(live))
        upd = rng.choice(keys, L_MERGE_UPD, replace=False)
        ins = np.arange(next_id, next_id + L_MERGE_INS)
        next_id += L_MERGE_INS
        src_ids = np.concatenate([upd, ins])
        src_status = [live[int(k)] for k in upd] + \
            list(np.array(L_STATUSES)[rng.integers(0, 3, L_MERGE_INS)])
        _write(f"{d}/merge_{r}.parquet", _lake_rows(rng, src_ids, r, src_status), LAKE_SCHEMA)
        for k, s in zip(src_ids.tolist(), src_status):
            live[k] = s
        del_k = int(rng.integers(0, L_DELETE_MOD))
        for k in [k for k in live if k % L_DELETE_MOD == del_k]:
            del live[k]
        upd_k = int(rng.integers(0, L_UPDATE_MOD))
        app_ids = np.arange(next_id, next_id + L_APPEND)
        next_id += L_APPEND
        app = _lake_rows(rng, app_ids, r)
        _write(f"{d}/append_{r}.parquet", app, LAKE_SCHEMA)
        live.update(zip(app["id"].tolist(), app["status"].tolist()))
        ops.append((r, L_DELETE_MOD, del_k, L_UPDATE_MOD, upd_k))
    with open(f"{d}/ops.tsv", "w") as f:
        f.writelines("\t".join(map(str, o)) + "\n" for o in ops)


def _words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        k = int(rng.integers(3, 9))
        out.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(out)


def gen_curation(rng, d):
    vocab = np.array(_words(rng, C_VOCAB))
    docs = [list(vocab[rng.integers(0, C_VOCAB, int(rng.integers(40, 81)))])
            for _ in range(C_BASE_DOCS)]
    bench = [list(vocab[rng.integers(0, C_VOCAB, 60)]) for _ in range(C_BENCH_DOCS)]
    planted = {"exact": [], "canon": [], "near": [], "contam": []}
    # contamination first, so copies of a contaminated doc inherit its 13-gram
    for i in rng.choice(C_BASE_DOCS, C_CONTAM, replace=False):
        b = bench[int(rng.integers(0, C_BENCH_DOCS))]
        s = int(rng.integers(0, len(b) - 13))
        p = int(rng.integers(0, len(docs[i])))
        docs[i] = docs[i][:p] + b[s:s + 13] + docs[i][p:]
        planted["contam"].append(int(i))
    for _ in range(C_EXACT):
        src = int(rng.integers(0, C_BASE_DOCS))
        docs.append(list(docs[src]))
        planted["exact"].append([src, len(docs) - 1])
    for _ in range(C_CANON):
        src = int(rng.integers(0, C_BASE_DOCS))
        v = [w.capitalize() if rng.random() < 0.3 else w for w in docs[src]]
        v = [w + "," if rng.random() < 0.1 else w for w in v]
        docs.append(v)
        planted["canon"].append([src, len(docs) - 1])
    for _ in range(C_NEAR):
        src = int(rng.integers(0, C_BASE_DOCS))
        v = list(docs[src])
        frac = float(rng.choice([0.01, 0.02, 0.04, 0.08, 0.12]))
        for p in rng.choice(len(v), max(1, int(round(frac * len(v)))), replace=False):
            v[p] = str(vocab[int(rng.integers(0, C_VOCAB))])
        docs.append(v)
        planted["near"].append([src, len(docs) - 1])
    order = rng.permutation(len(docs))      # planted copies do not sit next to their source
    ids = np.empty(len(docs), dtype=np.int64)
    ids[order] = np.arange(len(docs)) * 7 + 3
    text = [" ".join(t) for t in docs]
    remap = lambda pairs: [[int(ids[a]), int(ids[b])] for a, b in pairs]
    _write(f"{d}/docs.parquet", {"id": ids, "text": text},
           pa.schema([("id", pa.int64()), ("text", pa.string())]))
    _write(f"{d}/bench.parquet", {"id": np.arange(C_BENCH_DOCS, dtype=np.int64) + 10**9,
                                   "text": [" ".join(t) for t in bench]},
           pa.schema([("id", pa.int64()), ("text", pa.string())]))
    centers = rng.normal(size=(C_CENTERS, C_DIM))
    base = centers[rng.integers(0, C_CENTERS, C_VECTORS - C_VEC_DUPS)] + \
        rng.normal(scale=0.9, size=(C_VECTORS - C_VEC_DUPS, C_DIM))
    src = rng.integers(0, C_VECTORS - C_VEC_DUPS, C_VEC_DUPS)
    dups = base[src] + rng.normal(scale=0.08, size=(C_VEC_DUPS, C_DIM))
    vecs = np.round(np.vstack([base, dups]), 6)
    vids = np.arange(C_VECTORS, dtype=np.int64) * 3 + 1
    _write(f"{d}/vectors.parquet", {"id": vids, "vec": [list(v) for v in vecs]},
           pa.schema([("id", pa.int64()), ("vec", pa.list_(pa.float64()))]))
    with open(f"{d}/planted.json", "w") as f:
        json.dump({"exact": remap(planted["exact"]), "canon": remap(planted["canon"]),
                   "near": remap(planted["near"]),
                   "contam": [int(ids[i]) for i in planted["contam"]]}, f)


def generate(workload, seed, d, units):
    rng = np.random.default_rng([seed, {"analytics": 1, "lakehouse": 2, "curation": 3}[workload]])
    if workload == "analytics":
        gen_analytics(rng, d)
    elif workload == "lakehouse":
        gen_lakehouse(rng, d, units + 1)     # round 1 is the untimed warm-up
    else:
        gen_curation(rng, d)

"""Independent checks of graft's outputs.

Nothing here calls graft: analytics results are compared with DuckDB SQL
written for this benchmark, the lakehouse tables with a plain-Python replay
of the op stream, and the curation stages with brute-force computations in
Python / numpy. Each check returns a list of failure messages (empty = ok).
"""
import glob
import json
import math
import os
import sys
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

ANALYTICS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                    "lineitem", "events"]
EVENTS_S = "(SELECT event_id, date_trunc('second', ts) AS ts, user_id, event_type, value FROM events)"
BRONZE = """(SELECT c_custkey, c_mktsegment,
  CASE WHEN c_custkey % 97 <> 0 THEN c_name END AS name,
  CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS acctbal FROM customer)"""
Q1 = """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
  SUM(l_extendedprice) AS sum_base_price,
  SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
  SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
  AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price, COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02' GROUP BY 1, 2"""
Q5 = """SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem, supplier, nation, region, orders, customer
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA' AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name"""

# The benchmark's own SQL for every query of the analytics mix. Top-N queries
# keep their ORDER BY ... LIMIT so the same rows are selected.
ANALYTICS_SQL = {
    "q1_pricing_summary": Q1,
    "sql1_pricing": Q1,
    "q3_shipping_priority": """SELECT l_orderkey, o_orderdate, o_orderpriority,
  SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-07-01' AND l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q4_order_priority": """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-10-01'
  AND o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
GROUP BY 1""",
    "q5_local_supplier": Q5,
    "sql2_star_join": Q5,
    "q6_forecast_revenue": """SELECT SUM(l_extendedprice * l_discount) AS revenue, COUNT(*) AS n_lines
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "c1_null_profile": f"""SELECT COUNT(*) AS n_rows, COUNT(*) - COUNT(name) AS null_name,
  COUNT(*) - COUNT(acctbal) AS null_acctbal, COUNT(*) - COUNT(c_mktsegment) AS null_mktsegment
FROM {BRONZE}""",
    "c2_dedup_key": """SELECT l_orderkey, arg_min(l_partkey, l_linenumber) AS l_partkey,
  MIN(l_linenumber) AS l_linenumber, arg_min(l_quantity, l_linenumber) AS l_quantity
FROM lineitem GROUP BY l_orderkey""",
    "c4_error_rate": """SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events,
  COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
  (COUNT(*) FILTER (WHERE event_type = 'error')) / COUNT(*) AS error_rate
FROM events GROUP BY 1""",
    "c5_medallion_gold": """SELECT c_custkey, c_name, c_mktsegment, COUNT(*) AS total_orders,
  SUM(o_totalprice) AS total_spent, AVG(o_totalprice) AS avg_order_value,
  MAX(o_orderdate) AS last_order_date
FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderstatus = 'F'
GROUP BY 1, 2, 3""",
    "c6_outlier_zscore": """WITH b AS (SELECT o_orderkey, o_orderpriority,
    IF(o_orderkey % 499 = 0, o_totalprice * 10, o_totalprice) AS price FROM orders),
  s AS (SELECT o_orderpriority, AVG(price) AS m, STDDEV_SAMP(price) AS sd FROM b GROUP BY 1)
SELECT o_orderkey, b.o_orderpriority, price, (price - m) / sd AS z
FROM b JOIN s USING (o_orderpriority) WHERE ABS((price - m) / sd) > 3.0""",
    "c7_histogram": """SELECT l_returnflag, CAST(FLOOR((l_quantity - 1) / 5) AS INTEGER) AS bin,
  COUNT(*) AS n FROM lineitem GROUP BY 1, 2""",
    "e1_tumbling_window": f"""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start, event_type,
  COUNT(*) AS n_events, SUM(value) AS total_value FROM {EVENTS_S} e GROUP BY 1, 2""",
    "e4_funnel": f"""SELECT COUNT(t_view) AS stage_view,
  COUNT(*) FILTER (WHERE t_view < t_click) AS stage_click,
  COUNT(*) FILTER (WHERE t_view < t_click AND t_click < t_purchase) AS stage_purchase
FROM (SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
        MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
        MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM {EVENTS_S} e GROUP BY user_id) f""",
    "e5_topk_users": f"""SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total_value
FROM {EVENTS_S} e GROUP BY 1 ORDER BY n_events DESC, user_id LIMIT 10""",
}


def canon(df):
    """Column-name sort + full row sort, as scripts/oracle_check.py does."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def _same_frames(got, exp):
    """Exact on keys, integers, strings and times; doubles to 1e-9 relative
    (graft sums decimals, DuckDB sums doubles) and 2e-4 absolute (graft
    rounds some money columns to 4 places)."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        a, b = got[c].tolist(), exp[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(float(x), float(y), rel_tol=1e-9,
                                                              abs_tol=2e-4):
                    return f"column {c} row {i}: {x} vs {y}"
            elif pd.isna(x) and pd.isna(y):
                continue
            elif x != y:
                return f"column {c} row {i}: {x!r} vs {y!r}"
    return None


def _read_result(outdir, name):
    files = sorted(glob.glob(os.path.join(outdir, "results", name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def check_analytics(input_dir, outdir, outputs):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ANALYTICS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    fails = []
    for name in outputs["mix"]:
        got = _read_result(outdir, name)
        if got is None:
            fails.append(f"{name}: no result")
            continue
        exp = con.execute(ANALYTICS_SQL[name]).df()
        err = _same_frames(canon(got), canon(exp))
        if err:
            fails.append(f"{name}: {err}")
    return fails


# ---------------------------------------------------------------- lakehouse

def _digest(rows):
    """The digest the JVM computes over a snapshot (see Lakehouse.digest)."""
    ids = list(rows)
    st = {"F": 1, "O": 1000}
    return [len(ids), len(set(ids)), sum(ids),
            sum((k * 2654435761) % 1000000007 for k in ids),
            sum(r["qty"] for r in rows.values()), sum(r["cents"] for r in rows.values()),
            sum(r["ver"] for r in rows.values()),
            sum(st.get(r["status"], 1000000) for r in rows.values()),
            sum(len(r["note"]) for r in rows.values())]


def _rows(path):
    t = pq.read_table(path).to_pydict()
    return {k: {c: t[c][i] for c in t if c != "id"} for i, k in enumerate(t["id"])}


def lakehouse_model(input_dir, rounds):
    """Replays the op stream; returns the digest after each round (0 = the
    initial table), the appended ids per round and the number of rows each
    round changes (merged + deleted + updated + appended)."""
    ops = [list(map(int, line.split("\t"))) for line in open(os.path.join(input_dir, "ops.tsv"))]
    live = _rows(os.path.join(input_dir, "base.parquet"))
    states = {0: _digest(live)}
    appended = {}
    changed = {}
    for r, del_mod, del_k, upd_mod, upd_k in ops[:rounds]:
        merge = _rows(os.path.join(input_dir, f"merge_{r}.parquet"))
        live.update(merge)
        gone = [k for k in live if k % del_mod == del_k]
        for k in gone:
            del live[k]
        upd = [v for k, v in live.items() if k % upd_mod == upd_k]
        for v in upd:
            v["qty"] += 1
            v["cents"] += 100
        app = _rows(os.path.join(input_dir, f"append_{r}.parquet"))
        live.update(app)
        appended[r] = sorted(app)
        states[r] = _digest(live)
        changed[r] = len(merge) + len(gone) + len(upd) + len(app)
    return states, appended, changed


def check_lakehouse(input_dir, outputs):
    fails = []
    rounds = outputs["rounds"]
    states, appended, _ = lakehouse_model(input_dir, rounds)
    if not all(o["ok"] for o in outputs["ops"]):
        # a failed commit leaves that format off the model; its reads are not comparable
        bad = {(o["format"]) for o in outputs["ops"] if not o["ok"]}
    else:
        bad = set()
    seen = defaultdict(int)
    for d in outputs["digests"]:
        if d["format"] in bad or d["digest"] is None:
            continue
        r = d["round"]
        want = states[r] if d["snapshot"] == "current" else states[r - 1]
        seen[(d["format"], d["snapshot"])] += 1
        if list(d["digest"]) != want:
            fails.append(f"{d['format']} {d['snapshot']} snapshot after round {r}: "
                         f"digest {d['digest']} vs model {want}")
    for f in ("graft", "delta", "iceberg"):
        for s in ("current", "before"):
            if f not in bad and seen[(f, s)] != rounds:
                fails.append(f"{f} {s}: {seen[(f, s)]} snapshot reads, expected {rounds}")
    for d in outputs["drains"]:
        if d["ids"] != appended[d["round"]]:
            fails.append(f"{d['format']} tail after round {d['round']}: {d['rows']} rows, "
                         f"model says {len(appended[d['round']])} appended")
    return fails


# ----------------------------------------------------------------- curation

def _shingles(text, k=3):
    t = text.strip().split()
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def exact_jaccard_pairs(docs, threshold):
    """All pairs with Jaccard >= threshold over token 3-shingles, exact:
    every pair sharing a shingle is scored (an inverted index finds them)."""
    sh = {i: _shingles(t) for i, t in docs.items()}
    inv = defaultdict(list)
    for i, s in sh.items():
        for g in s:
            inv[g].append(i)
    cand = set()
    for ids in inv.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    out = {}
    for a, b in cand:
        i = len(sh[a] & sh[b])
        j = i / (len(sh[a]) + len(sh[b]) - i)
        if j >= threshold:
            out[(a, b)] = j
    return out


def union_find(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_curation(input_dir, outdir, outputs, knn_recall_min, minhash_recall_min):
    fails = []
    d = pq.read_table(os.path.join(input_dir, "docs.parquet")).to_pydict()
    docs = dict(zip(d["id"], d["text"]))
    b = pq.read_table(os.path.join(input_dir, "bench.parquet")).to_pydict()
    planted = json.load(open(os.path.join(input_dir, "planted.json")))
    res = {n: _read_result(outdir, n) for n in
           ["exact", "canonical", "jaccard", "minhash", "simhash", "clusters", "apply",
            "contam", "knn", "semdedup"]}
    for n, df in res.items():
        if df is None:
            fails.append(f"{n}: no result")
    if fails:
        return fails

    # exact / canonical dedup: min id per distinct (canonical) text
    def keep_min(key):
        best = {}
        for i, t in docs.items():
            k = key(t)
            best[k] = min(best.get(k, i), i)
        return sorted(best.values())
    import re
    canon_key = lambda t: re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", t.lower())).strip()
    if sorted(res["exact"]["id"]) != keep_min(lambda t: t):
        fails.append("exactDedupe kept ids differ from min-id per distinct text")
    if sorted(res["canonical"]["id"]) != keep_min(canon_key):
        fails.append("canonicalDedupe kept ids differ from min-id per canonical text")

    truth = exact_jaccard_pairs(docs, 0.5)
    got = {(min(a, c), max(a, c)): j for a, c, j in
           zip(res["jaccard"]["doc_a"], res["jaccard"]["doc_b"], res["jaccard"]["jaccard"])}
    if set(got) != set(truth):
        fails.append(f"jaccardPairs: {len(got)} pairs vs {len(truth)} exact "
                     f"({len(set(truth) - set(got))} missing, {len(set(got) - set(truth))} extra)")
    elif any(abs(got[p] - truth[p]) > 1e-6 for p in got):
        fails.append("jaccardPairs: Jaccard values differ from the exact ones")
    for a, c in planted["exact"]:
        if (min(a, c), max(a, c)) not in got:
            fails.append(f"jaccardPairs misses planted exact duplicate {a},{c}")
            break
    mh = {(min(a, c), max(a, c)): j for a, c, j in
          zip(res["minhash"]["doc_a"], res["minhash"]["doc_b"], res["minhash"]["jaccard"])}
    hi = {p for p, j in truth.items() if j >= 0.8}
    if not set(mh) <= hi:
        fails.append(f"minhashPairs: {len(set(mh) - hi)} pairs below J 0.8")
    elif any(abs(mh[p] - truth[p]) > 1e-6 for p in mh):
        fails.append("minhashPairs: Jaccard values differ from the exact ones")
    recall = len(set(mh) & hi) / len(hi) if hi else 1.0
    if recall < minhash_recall_min:
        fails.append(f"minhashPairs recall {recall:.4f} at J>=0.8 < {minhash_recall_min}")
    sim = {(min(a, c), max(a, c)): h for a, c, h in
           zip(res["simhash"]["doc_a"], res["simhash"]["doc_b"], res["simhash"]["hamming"])}
    if any(not 0 <= h <= 3 for h in sim.values()):
        fails.append("simHashPairs: a pair beyond hamming distance 3")
    dup_pairs = set()
    by_tokens = defaultdict(list)
    for i, t in docs.items():
        by_tokens[frozenset(t.strip().split())].append(i)
    for ids in by_tokens.values():
        ids = sorted(ids)
        dup_pairs |= {(ids[x], ids[y]) for x in range(len(ids)) for y in range(x + 1, len(ids))}
    if not dup_pairs <= set(sim):
        fails.append(f"simHashPairs misses {len(dup_pairs - set(sim))} same-token-set pairs")
    elif any(sim[p] != 0 for p in dup_pairs):
        fails.append("simHashPairs: a same-token-set pair with nonzero hamming distance")

    uf = union_find(sorted(got))
    cl = dict(zip(res["clusters"]["id"], res["clusters"]["cluster_rep"]))
    if cl != uf:
        fails.append(f"nearDupClusters: {len(cl)} labels, union-find {len(uf)}; "
                     f"{sum(1 for k in uf if cl.get(k) != uf[k])} differ")
    sizes = defaultdict(int)
    for rep in uf.values():
        sizes[rep] += 1
    kept = len(docs) - sum(s - 1 for s in sizes.values())
    if int(res["apply"]["kept"][0]) != kept:
        fails.append(f"applyDedup kept {int(res['apply']['kept'][0])}, expected {kept}")

    bench13 = set()
    for t in b["text"]:
        bench13 |= _shingles(t, 13)
    contam = {i: len(_shingles(t, 13) & bench13) for i, t in docs.items()}
    contam = {i: n for i, n in contam.items() if n}
    gotc = dict(zip(res["contam"]["id"], res["contam"]["n_contam_ngrams"]))
    if gotc != contam:
        fails.append(f"ngramContamination flags {len(gotc)} docs, brute force {len(contam)}")
    if not set(planted["contam"]) <= set(contam):
        fails.append("planted contaminated docs are not all flagged by brute force")

    v = pq.read_table(os.path.join(input_dir, "vectors.parquet")).to_pydict()
    vid = np.array(v["id"])
    m = np.array(v["vec"], dtype=np.float64)
    u = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = u @ u.T
    np.fill_diagonal(cos, -np.inf)
    k = 5
    top = np.argsort(-cos, axis=1)[:, :k]
    truth_knn = {int(vid[i]): {int(vid[j]) for j in top[i]} for i in range(len(vid))}
    row = {int(x): i for i, x in enumerate(vid)}
    got_knn = defaultdict(set)
    ranks = defaultdict(list)
    for a, nb, c, rk in zip(res["knn"]["id"], res["knn"]["neighbor_id"], res["knn"]["cosine"],
                            res["knn"]["rank"]):
        a, nb = int(a), int(nb)
        got_knn[a].add(nb)
        ranks[a].append(int(rk))
        if a == nb or abs(c - cos[row[a], row[nb]]) > 6e-5:
            fails.append(f"knnJoin: pair {a},{nb} cosine {c} vs {cos[row[a], row[nb]]:.6f}")
            break
    if set(ranks) != set(truth_knn) or any(sorted(r) != list(range(1, k + 1))
                                           for r in ranks.values()):
        fails.append(f"knnJoin: not exactly ranks 1..{k} for every vector")
    hits = sum(len(got_knn[i] & truth_knn[i]) for i in truth_knn)
    recall = hits / (k * len(truth_knn))
    if recall < knn_recall_min:
        fails.append(f"knnJoin recall@{k} {recall:.4f} < {knn_recall_min}")
    print(f"[perfbench] knnJoin recall@{k} {recall:.4f}", file=sys.stderr)
    ii, jj = np.nonzero(np.triu(cos >= 0.9, 1))
    uf = union_find((int(vid[i]), int(vid[j])) for i, j in zip(ii, jj))
    want = {int(x): uf.get(int(x), int(x)) for x in vid}
    gots = dict(zip((int(x) for x in res["semdedup"]["id"]),
                    (int(x) for x in res["semdedup"]["cluster_rep"])))
    if gots != want:
        fails.append(f"semDedup: {sum(1 for x in want if gots.get(x) != want[x])} "
                     f"representatives differ from brute-force cosine union-find")
    return fails

"""Output checks, computed apart from the program.

- Every query with declared oracle SQL is run in DuckDB over the same
  inputs and compared by canonical digest (the same text the harness's
  `Canon.scala` builds from Spark's rows). DuckDB results are cached by
  (input bytes, SQL text) in `.cache/oracle.json`; run
  `python3 perfbench/checks.py --clear-cache` to recompute them.
- The sketch queries a workload runs are checked against exact twins
  within their stated error.
- daily_refresh outputs are checked against properties of the seeded
  day-by-day changes.

Each check returns a list of failure strings; an empty list passes.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache", "oracle.json")


# ---- canonical digest (mirror of Canon.scala) --------------------------

def _num(v):
    if math.isnan(v):
        return "nan"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    if v == math.floor(v) and abs(v) < 9.2e18:
        return f"i{int(v)}"
    return "f" + format(struct.unpack("<Q", struct.pack("<d", v))[0], "x")


def _str(s):
    return f"s{len(s.encode('utf-8'))}:{s}"


EPOCH = datetime.datetime(1970, 1, 1)


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        if v == 0 or (v == v.to_integral_value() and abs(v) < 2 ** 63):
            return f"i{int(v)}"
        return _num(float(v))
    if isinstance(v, str):
        return _str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, dict):
        kv = sorted((cell(k), cell(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}={x}" for k, x in kv) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return _str(str(v))


def digest(cols, rows):
    """(sorted column names, row count, sha256) of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    md = hashlib.sha256()
    n = 0
    for r in rows:
        md.update(("|".join(cell(r[i]) for i in order) + "\n").encode("utf-8"))
        n += 1
    return [cols[i] for i in order], n, md.hexdigest()


# ---- DuckDB oracle ------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(table_dir):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _dir_hash(table_dir):
    md = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                md.update(t.encode() + hashlib.sha256(f.read()).digest())
    return md.hexdigest()


def oracle(table_dir, sqls):
    """name -> [cols, rows, hash] of DuckDB's answer to each SQL."""
    cache = {}
    if os.path.exists(CACHE):
        with open(CACHE) as f:
            cache = json.load(f)
    dh = _dir_hash(table_dir)
    out, con, dirty = {}, None, False
    for name, sql in sqls.items():
        key = hashlib.sha256((dh + "\0" + sql).encode()).hexdigest()
        if key not in cache:
            con = con or connect(table_dir)
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            cache[key] = list(digest(cols, cur.fetchall()))
            dirty = True
        out[name] = cache[key]
    if dirty:
        os.makedirs(os.path.dirname(CACHE), exist_ok=True)
        tmp = CACHE + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, CACHE)
    return out


def check_rows(out, expected):
    """A query's recorded digest against the oracle's."""
    cols, n, h = expected
    if out["cols"] != cols:
        return [f"columns {out['cols']} != oracle {cols}"]
    if out["rows"] != n:
        return [f"{out['rows']} rows != oracle {n}"]
    if out["hash"] != h:
        return ["row digest differs from oracle"]
    return []


# ---- sketches against exact twins --------------------------------------

def _version(orderkey):
    b = int(hashlib.md5(str(orderkey).encode()).hexdigest()[:6], 16) % 100
    return "v_prev" if b < 80 else "v_new"


def _orders_by_version(con):
    rows = con.execute("SELECT o_orderkey, o_custkey, o_orderpriority FROM orders").fetchall()
    return [(_version(k), c, p) for k, c, p in rows]


def sketch_checks(name, rows, con):
    """Checks one sketch query's collected rows against the exact answer
    from DuckDB, within the sketch's stated error."""
    bad = []
    if name == "agg_approx_distinct":
        # HLL++ at the default relative SD 0.05; allow three of them
        exact = dict((f, (p, s)) for f, p, s in con.execute(
            "SELECT l_returnflag, count(DISTINCT l_partkey), count(DISTINCT l_suppkey)"
            " FROM lineitem GROUP BY 1").fetchall())
        for flag, apx_part, apx_supp in rows:
            for est, ex in zip((apx_part, apx_supp), exact[flag]):
                if abs(est - ex) > 0.15 * ex:
                    bad.append(f"{flag}: estimate {est} vs exact {ex}")
        if len(rows) != len(exact):
            bad.append(f"{len(rows)} groups != exact {len(exact)}")
    elif name == "agg_approx_percentile":
        # GK quantile at accuracy 10000: rank error <= n / 10000, plus one
        # rank for the 4-decimal rounding of the answer
        prices = {}
        for p, v in con.execute("SELECT o_orderpriority, o_totalprice FROM orders").fetchall():
            prices.setdefault(p, []).append(v)
        for prio, p50, p90, n in rows:
            xs = np.sort(np.array(prices[prio]))
            if n != len(xs):
                bad.append(f"{prio}: n {n} != exact {len(xs)}")
            for q, est in ((0.5, p50), (0.9, p90)):
                lo = np.searchsorted(xs, est - 1e-4, "left")
                hi = np.searchsorted(xs, est + 1e-4, "right")
                target = q * len(xs)
                slack = len(xs) / 10000 + 1
                if not (lo - slack <= target <= hi + slack):
                    bad.append(f"{prio} p{int(q * 100)}={est}: rank [{lo},{hi}] vs {target:.1f}")
    elif name == "agg_hll_partial":
        vers = _orders_by_version(con)
        exact = {v: len({c for w, c, _ in vers if w == v and c is not None})
                 for v in ("v_prev", "v_new")}
        exact["total_merged"] = len({c for _, c, _ in vers if c is not None})
        for v, est, n_exact in rows:
            if n_exact != exact.get(v):
                bad.append(f"{v}: n_exact {n_exact} != {exact.get(v)}")
            elif abs(est - n_exact) > 0.05 * n_exact:  # lgK=12: RSE 1.6%, 3 sigma
                bad.append(f"{v}: estimate {est} vs exact {n_exact}")
        if len(rows) != 3:
            bad.append(f"{len(rows)} rows != 3")
    elif name == "agg_cms_partial":
        vers = _orders_by_version(con)
        cnt, size = {}, {"total_merged": len(vers)}
        for v, _, p in vers:
            for key in ((v, p), ("total_merged", p)):
                cnt[key] = cnt.get(key, 0) + 1
            size[v] = size.get(v, 0) + 1
        for v, p, est, n_exact in rows:
            ex = cnt.get((v, p))
            if n_exact != ex:
                bad.append(f"{v}/{p}: n_exact {n_exact} != {ex}")
            elif not (ex <= est <= ex + 0.001 * size[v]):  # eps = 0.001
                bad.append(f"{v}/{p}: estimate {est} outside [{ex}, {ex} + eps*N]")
        if len(rows) != len(cnt):
            bad.append(f"{len(rows)} rows != {len(cnt)}")
    elif name == "agg_bloom_partial":
        vers = _orders_by_version(con)
        present = {(v, c) for v, c, _ in vers} | {("total_merged", c) for _, c, _ in vers}
        fp = 0
        for v, key, might, pres in rows:
            ex = int((v, key) in present)
            if pres != ex:
                bad.append(f"{v}/{key}: present {pres} != {ex}")
            if might < pres:
                bad.append(f"{v}/{key}: false negative")
            fp += int(might and not ex)
        if fp > 2:  # 1% fpp over 30 absent probes
            bad.append(f"{fp} false positives on absent probes")
        if len(rows) != 60:
            bad.append(f"{len(rows)} rows != 60")
    elif name == "llm_minhash":
        # 16 bands x 8 rows: detection >= 0.9999 at Jaccard 0.9
        found = {(int(r[0]), int(r[1])) for r in rows}
        want = set(exact_pairs(con, 0.9))
        recall = len(want & found) / max(1, len(want))
        if not want or recall < 0.95:
            bad.append(f"recall {recall:.3f} of {len(want)} pairs at Jaccard >= 0.9")
    else:
        bad.append("no check for this query")
    return bad


def exact_pairs(con, floor):
    """Exact token-set Jaccard pairs within a language, as the pair
    queries define them: (doc_a, doc_b) -> jaccard."""
    docs = con.execute("SELECT doc_id, text, lang FROM documents").fetchall()
    by_lang = {}
    for i, t, l in docs:
        by_lang.setdefault(l, []).append((i, set(t.split(" "))))
    out = {}
    for ds in by_lang.values():
        ds.sort()
        for x in range(len(ds)):
            a, sa = ds[x]
            for y in range(x + 1, len(ds)):
                b, sb = ds[y]
                if min(len(sa), len(sb)) < floor * max(len(sa), len(sb)):
                    continue
                j = len(sa & sb) / len(sa | sb)
                if j >= floor:
                    out[(a, b)] = j
    return out


def union_find_labels(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


if __name__ == "__main__":
    if sys.argv[1:] == ["--clear-cache"]:
        if os.path.exists(CACHE):
            os.remove(CACHE)
        print("oracle cache cleared")
    else:
        sys.exit("usage: checks.py --clear-cache")

"""Seeded inputs for each workload, derived from the vendored fixture.

The benchmark makes its own inputs, so a change to the program cannot
change what it is measured on. The same seed gives byte-identical
inputs. Each `make_*` writes parquet files under `dst` and returns the
facts the output checks need (planted duplicates, expected changes).
"""
import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# daily_refresh pre-generates this many days; a run applies one per pass
DAYS = 16
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def read(name):
    return pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def tokens(text):
    return set(text.split(" "))


def near_copy(rng, text):
    """Drop one token occurrence: exact Jaccard to the base stays >= 0.9
    for the fixture's 10+ token documents with a repeated-token vocabulary."""
    toks = text.split(" ")
    i = rng.randrange(len(toks))
    return " ".join(toks[:i] + toks[i + 1:])


def docs_table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }, schema=DOC_SCHEMA)


def fixture_docs():
    t = read("documents").to_pylist()
    return [(d["doc_id"], d["text"], d["lang"], d["source"]) for d in t]


def make_query_library(seed, dst):
    """The fixture tables as they are; the seed fixes only the order."""
    os.makedirs(os.path.join(dst, "sf"), exist_ok=True)
    for t in TABLES:
        shutil.copyfile(os.path.join(FIXTURE, f"{t}.parquet"),
                        os.path.join(dst, "sf", f"{t}.parquet"))
    return {"tables": TABLES}


def make_daily_refresh(seed, dst):
    """Day 0 and DAYS daily snapshots of three upstream sources:
    - rel: orders partitioned by order year; each day rewrites a few
      rows of two seeded years, the other years stay unchanged;
    - inc: a customer feed that gains 5 new keys a day and re-sends
      every already-delivered one;
    - corpus: documents that gain a batch a day (exact copies, near
      copies, fresh documents) under increasing doc ids."""
    rng = random.Random(seed)
    facts = {"rel_changed": {}, "inc_appended": {}, "batches": {}}

    orders = read("orders")
    years = pc.year(orders["o_orderdate"])
    orders = orders.append_column("o_year", pc.binary_join_element_wise(
        "y", pc.cast(years, pa.string()), ""))
    year_vals = sorted(set(orders["o_year"].to_pylist()))
    price = orders["o_totalprice"].to_numpy().copy()
    write(orders, os.path.join(dst, "rel", "day_0.parquet"))

    cust = read("customer")
    keys = cust["c_custkey"].to_numpy()
    base_n = 60
    write(cust.filter(pa.array(keys <= base_n)), os.path.join(dst, "inc", "day_0.parquet"))

    docs = fixture_docs()
    rng.shuffle(docs)
    corpus = [(i, t, l, s) for i, (_, t, l, s) in enumerate(docs[:200])]
    write(docs_table(corpus), os.path.join(dst, "corpus", "day_0.parquet"))
    next_id = len(corpus)

    yr = orders["o_year"].to_pylist()
    for day in range(1, DAYS + 1):
        changed = sorted(rng.sample(year_vals, 2))
        for y in changed:
            idx = [i for i, v in enumerate(yr) if v == y]
            for i in rng.sample(idx, 10):
                price[i] = round(price[i] + 1.25, 2)
        snap = orders.set_column(orders.schema.get_field_index("o_totalprice"),
                                 "o_totalprice", pa.array(price))
        write(snap, os.path.join(dst, "rel", f"day_{day}.parquet"))
        facts["rel_changed"][day] = changed

        hi = base_n + 5 * day
        write(cust.filter(pa.array(keys <= hi)), os.path.join(dst, "inc", f"day_{day}.parquet"))
        facts["inc_appended"][day] = 5

        old = list(corpus)
        batch, kinds = [], {}
        for _ in range(4):
            _, t, l, s = rng.choice(old)
            batch.append((next_id, t, l, s)); kinds[next_id] = "exact"; next_id += 1
        for _ in range(4):
            _, t, l, s = rng.choice([d for d in old if len(tokens(d[1])) >= 12])
            c = near_copy(rng, t)
            batch.append((next_id, c, l, s)); kinds[next_id] = "near"; next_id += 1
        for _ in range(12):
            i = next_id
            t = " ".join(f"zq{seed}d{day}n{i}t{k}" for k in range(8))
            batch.append((i, t, "en", "fresh")); kinds[i] = "fresh"; next_id += 1
        corpus = old + batch
        write(docs_table(batch), os.path.join(dst, "batch", f"day_{day}.parquet"))
        write(docs_table(corpus), os.path.join(dst, "corpus", f"day_{day}.parquet"))
        facts["batches"][day] = kinds

    facts["year_values"] = year_vals
    return facts


MAKERS = {"query_library": make_query_library, "daily_refresh": make_daily_refresh}


def make(workload, seed, dst):
    return MAKERS[workload](seed, dst)


def input_bytes(workload, dst):
    """Bytes of the workload's input files, the base of write_amp: the
    fixture tables for query_library, one day's files for daily_refresh."""
    if workload == "daily_refresh":
        names = ["rel/day_1.parquet", "inc/day_1.parquet", "batch/day_1.parquet"]
        return sum(os.path.getsize(os.path.join(dst, n)) for n in names)
    total = 0
    for d, _, fs in os.walk(dst):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total

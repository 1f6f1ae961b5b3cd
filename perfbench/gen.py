"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, sizes): the same seed writes
byte-identical inputs. The program under test only ever sees the files
written here.

  tables()       TPC-H-shaped star schema + events/documents/embeddings in
                 the same column layout as the harness testdata, at a scale
                 factor (lineitem = 6,000,000 x sf rows).
  ratings_csv()  the collab pipeline's ratings CSV in the reference line
                 format: I/V tag (about 9:1), user, product, rating, then
                 the reference's ignored generator columns. Ratings are a
                 rank-6 model plus noise, rounded to 1..5, with Zipf-skewed
                 product popularity.
  score_pairs()  seeded (user, product) batches for the scoring phase.
  query_order()  one seeded permutation of a query list per pass.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark table query join group agg filter scan sort hash "
         "merge window stream batch row column line part order customer key "
         "value vector big small fast slow index shard cache plan node task "
         "stage shuffle spill tree leaf page block").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
N_SOURCES = 20


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _text(rng, lo, hi):
    n = int(rng.integers(lo, hi))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def documents(rng, n):
    texts = [_text(rng, 12, 110) for _ in range(n)]
    # a few planted exact duplicates inside the corpus itself
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[i] = texts[(i + 1) % n]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(out, seed, sf):
    """Write the ten harness tables at scale factor `sf` under `out`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    n_users = max(10, int(15000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, len(adj), n_part),
                       rng.integers(0, len(noun), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    }), f"{out}/part.parquet")
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    days = int((dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days)
    odays = rng.integers(0, days + 1, n_ord)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odays * 86400.0),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")
    okey = rng.integers(0, n_ord, n_li).astype(np.int64)
    order = np.argsort(okey, kind="stable")
    okey = okey[order]
    first = np.r_[True, okey[1:] != okey[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    linenumber = (np.arange(n_li) - grp_start + 1).astype(np.int32)
    ship = odays[okey] + rng.integers(1, 122, n_li)
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", ship * 86400.0),
    }), f"{out}/lineitem.parquet")
    ev_types = ["click", "error", "purchase", "signup", "view"]
    secs = np.sort(rng.uniform(0, 30 * 86400.0, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [ev_types[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 25.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")
    _write(documents(rng, n_doc), f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")
    return {"sf": sf, "lineitem_rows": n_li, "orders_rows": n_ord,
            "events_rows": n_ev, "documents_rows": n_doc,
            "embeddings_rows": n_emb}


def ratings_csv(path, seed, n_users, n_products, n_ratings, rank=6):
    """Write the ratings CSV; return its facts for the checks."""
    rng = np.random.default_rng(seed)
    u = rng.normal(0, 0.6, (n_users, rank))
    p = rng.normal(0, 0.6, (n_products, rank))
    bias_p = rng.normal(0, 0.5, n_products)
    pop = 1.0 / np.arange(1, n_products + 1) ** 0.8
    pop = pop[rng.permutation(n_products)]
    pop /= pop.sum()
    users = rng.integers(0, n_users, 2 * n_ratings)
    prods = rng.choice(n_products, size=2 * n_ratings, p=pop)
    pairs = np.unique(users.astype(np.int64) * n_products + prods)
    pairs = rng.permutation(pairs)[:n_ratings]
    us, ps = pairs // n_products, pairs % n_products
    raw = 3.0 + bias_p[ps] + np.einsum("ij,ij->i", u[us], p[ps]) \
        + rng.normal(0, 0.35, len(pairs))
    rating = np.clip(np.rint(raw), 1, 5).astype(int)
    tags = np.where(rng.random(len(pairs)) < 0.1, "V", "I")
    with open(path, "w") as f:
        for t, a, b, r, g in zip(tags, us + 1, ps + 1, rating,
                                 rng.integers(0, 2, len(pairs))):
            f.write(f"{t},{a},{b},{r},{r},{g},0,1,0,,\n")
    train = tags == "I"
    tu, tp = set((us + 1)[train].tolist()), set((ps + 1)[train].tolist())
    joined = sum(1 for t, a, b in zip(tags, us + 1, ps + 1)
                 if t == "V" and a in tu and b in tp)
    return {"ratings": int(len(pairs)), "train": int(train.sum()),
            "validation": int((~train).sum()), "joined_expected": joined,
            "users": n_users, "products": n_products,
            "csv_bytes": os.path.getsize(path),
            "_train_users": tu, "_train_products": tp}


def score_pairs(path, seed, n_users, n_products, n_batches, batch,
                train_users, train_products):
    """Write (batch, user, product) scoring requests; return the expected
    number of scored rows per batch (cold-start pairs are dropped)."""
    rng = np.random.default_rng(seed + 7)
    b = np.repeat(np.arange(n_batches, dtype=np.int32), batch)
    us = rng.integers(1, n_users + 1, n_batches * batch).astype(np.int32)
    ps = rng.integers(1, n_products + 1, n_batches * batch).astype(np.int32)
    _write(pa.table({"batch": b, "user": us, "product": ps}), path)
    known = np.array([a in train_users and c in train_products
                      for a, c in zip(us.tolist(), ps.tolist())])
    return [int(known[i * batch:(i + 1) * batch].sum())
            for i in range(n_batches)]


def query_order(names, seed, passes):
    rng = np.random.default_rng(seed + 13)
    return [[names[i] for i in rng.permutation(len(names))]
            for _ in range(passes)]

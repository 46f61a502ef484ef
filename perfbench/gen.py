"""Seeded input generator for the benchmark.

Writes the ten tables graft's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), plus a
`drift_baseline` for the workflow's drift stage, as one parquet file
each, with the schemas and value ranges of the TPC-H-ish test tier graft
is developed against. Everything is a function of the seed: key offsets,
per-replica letter permutations of the documents, and the planted nulls,
duplicate rows and outliers in `orders`.

Row counts scale with `scale` (1.0 = 600k lineitem rows); `orders_scale`
sizes `orders` on its own, so a workflow workload can run over a large
orders table without paying for a large lineitem table. `documents` is
built as `doc_replicas` replicas of a seeded base corpus, each replica's
letters permuted by a seeded shift, so replicas are not near-duplicates
of each other and the near-duplicate density per document stays constant
as the corpus grows.

`generate()` returns the rows and bytes written per table.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark line column order small sort fast value scan a hash slow "
         "group batch agg filter query big key window row part table stream "
         "merge data the join vector customer").split()
ALPHABET = "aeiousnrtlc"  # 11 letters: shifts 1..10 are all distinct
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def ts_col(us):
    return pa.array(us, type=pa.timestamp("us"))


def pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng, scale):
    n_cust = max(50, int(15000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_part = max(50, int(20000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = ["blue", "cold", "hot", "red", "small", "large", "green", "dark"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "nut", "pipe"]
    names = [f"{a} {b}" for a in adj for b in noun]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick(rng, names, n_part),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    return t, n_cust, n_supp, n_part


def orders_table(rng, n_orders, n_cust, key_offset):
    keys = key_offset + np.arange(n_orders, dtype=np.int64)
    price = money(rng, 1000.0, 500000.0, n_orders)
    # planted outliers (0.2%) and nulls (1%) in the workflow's measure column
    out_idx = rng.choice(n_orders, max(1, n_orders // 500), replace=False)
    price[out_idx] = np.round(price[out_idx] * rng.uniform(20, 60, len(out_idx)), 2)
    null_mask = np.zeros(n_orders, dtype=bool)
    null_mask[rng.choice(n_orders, max(1, n_orders // 100), replace=False)] = True
    days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tbl = pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(price, mask=null_mask),
        "o_orderdate": ts_col(EPOCH_1995 + days * DAY_US),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    # planted exact duplicate rows (0.5%)
    dup = rng.choice(n_orders, max(1, n_orders // 200), replace=False)
    return pa.concat_tables([tbl, tbl.take(pa.array(np.sort(dup)))])


def lineitem_table(rng, n_lines, n_order_keys, key_offset, n_part, n_supp):
    okeys = key_offset + rng.integers(0, n_order_keys, n_lines).astype(np.int64)
    days = rng.integers(1, 2499, n_lines)  # 1995-01-02 .. 2001-11-04
    return pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_lines)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": pick(rng, ["F", "O"], n_lines),
        "l_shipdate": ts_col(EPOCH_1995 + days * DAY_US),
    })


def events_table(rng, n_events, n_users):
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": ts_col(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n_events),
        "value": pa.array(money(rng, 0.0, 500.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def base_corpus(rng, n_docs):
    """Seeded documents: bag-of-words lines, shared boilerplate lines,
    exact copies and near-duplicates (a few words changed)."""
    words = np.asarray(WORDS, dtype=object)
    boiler = [" ".join(words[rng.integers(0, len(words), 12)]) for _ in range(40)]
    docs = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact copy
            docs.append(docs[rng.integers(0, i)])
            continue
        if i > 10 and r < 0.08:  # near-duplicate: change ~5% of words
            toks = docs[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = words[rng.integers(0, len(words))]
            docs.append(" ".join(toks))
            continue
        lines = []
        for _ in range(rng.integers(1, 4)):
            if rng.random() < 0.25:
                lines.append(boiler[rng.integers(0, len(boiler))])
            else:
                lines.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 40))]))
        docs.append("\n".join(lines))
    return docs


def documents_table(rng, n_docs, replicas):
    base = base_corpus(rng, n_docs)
    lang = np.asarray(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
    shifts = rng.permutation(np.arange(1, len(ALPHABET)))
    texts, ids = [], []
    for r in range(replicas):
        k = 0 if r == 0 else int(shifts[(r - 1) % len(shifts)])
        table = str.maketrans(ALPHABET, ALPHABET[k:] + ALPHABET[:k])
        texts.extend(d.translate(table) for d in base)
        ids.extend(range(r * n_docs, (r + 1) * n_docs))
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang[rng.integers(0, len(lang), n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.asarray([len(s) for s in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n_vec, dim=64):
    vecs = rng.normal(0, 0.12, (n_vec, dim)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })


def generate(seed, out, scale=1.0, orders_scale=None, doc_replicas=1):
    rng = np.random.default_rng(seed)
    tables, n_cust, n_supp, n_part = base_tables(rng, scale)
    key_offset = int(rng.integers(0, 1_000_000)) * 10
    n_orders = max(100, int(150000 * (orders_scale or scale)))
    n_lines = max(400, int(600000 * scale))
    tables["orders"] = orders_table(rng, n_orders, n_cust, key_offset)
    # lineitem joins the first `scale`-sized slice of the order keys, so
    # the graph queries' edge sets do not grow with orders_scale
    tables["lineitem"] = lineitem_table(
        rng, n_lines, max(100, int(150000 * scale)), key_offset, n_part, n_supp)
    tables["events"] = events_table(rng, max(100, int(100000 * scale)),
                                    max(10, int(1500 * scale)))
    tables["documents"] = documents_table(rng, max(50, int(5000 * scale)), doc_replicas)
    tables["embeddings"] = embeddings_table(rng, max(50, int(2000 * scale)))
    # the workflow's drift baseline: an earlier, slightly cheaper period
    n_base = max(100, n_orders // 4)
    tables["drift_baseline"] = pa.table(
        {"o_totalprice": pa.array(money(rng, 800.0, 450000.0, n_base))})
    os.makedirs(out, exist_ok=True)
    report = {}
    for name, tbl in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tbl, path)
        report[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return report

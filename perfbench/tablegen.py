"""Tables for the query_mix workload: a TPC-H-like star schema plus the
`documents` and `embeddings` tables the similarity queries read, in the
same parquet encodings as the repo's test data.

The table contents come from a fixed content seed, so the query outputs
can be checked against `expected/query_mix.json`. The run seed permutes
the row order of every table, which changes the physical input but not
the answer of an order-insensitive query.
"""
import hashlib
import math
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
WORDS = ("a the data spark row column table query scan filter sort hash join "
         "group agg window stream batch merge key value vector line part order "
         "customer fast slow big small").split()
LANGS = [("en", 40), ("de", 15), ("fr", 15), ("es", 15), ("zh", 15)]


def _docs(rnd, n):
    langs = [lang for lang, w in LANGS for _ in range(w)]
    texts = []
    for i in range(n):
        if i > 10 and rnd.random() < 0.12:
            # near-duplicate of an earlier document: one or two words edited
            words = texts[rnd.randrange(len(texts))].split()
            for _ in range(rnd.randint(0, 2)):
                words[rnd.randrange(len(words))] = rnd.choice(WORDS)
        else:
            words = [rnd.choice(WORDS) for _ in range(rnd.randint(8, 95))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rnd.choice(langs) for _ in range(n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _unit(v):
    norm = math.sqrt(sum(x * x for x in v))
    return [x / norm for x in v]


def _embeddings(rnd, n, dim=64, labels=10):
    centers = [_unit([rnd.gauss(0, 1) for _ in range(dim)]) for _ in range(labels)]
    vecs, labs = [], []
    for _ in range(n):
        lab = rnd.randrange(labels)
        vecs.append(_unit([c + rnd.gauss(0, 0.12) for c in centers[lab]]))
        labs.append(lab)
    return {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labs, pa.int32()),
    }


def _star(rnd, n_cust, n_supp, n_orders):
    day0 = datetime(1995, 1, 1)
    region = {"r_regionkey": pa.array(range(5), pa.int32()),
              "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}
    nation = {"n_nationkey": pa.array(range(25), pa.int32()),
              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    customer = {"c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array([rnd.randrange(25) for _ in range(n_cust)], pa.int32()),
                "c_acctbal": pa.array([round(rnd.uniform(-999, 9999), 2) for _ in range(n_cust)]),
                "c_mktsegment": pa.array([rnd.choice(segs) for _ in range(n_cust)])}
    supplier = {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array([rnd.randrange(25) for _ in range(n_supp)], pa.int32()),
                "s_acctbal": pa.array([round(rnd.uniform(-999, 9999), 2) for _ in range(n_supp)])}
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    o_cols = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    l_cols = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                              "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                              "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        odate = day0 + timedelta(days=rnd.randrange(2404))
        total = 0.0
        for ln in range(1, rnd.randint(1, 7) + 1):
            qty = float(rnd.randint(1, 50))
            price = round(qty * rnd.uniform(900, 2100), 2)
            total += price
            l_cols["l_orderkey"].append(o)
            l_cols["l_partkey"].append(rnd.randrange(2000))
            l_cols["l_suppkey"].append(rnd.randrange(n_supp))
            l_cols["l_linenumber"].append(ln)
            l_cols["l_quantity"].append(qty)
            l_cols["l_extendedprice"].append(price)
            l_cols["l_discount"].append(rnd.randint(0, 10) / 100)
            l_cols["l_tax"].append(rnd.randint(0, 8) / 100)
            l_cols["l_returnflag"].append(rnd.choice("ANR"))
            l_cols["l_linestatus"].append(rnd.choice("FO"))
            l_cols["l_shipdate"].append(odate + timedelta(days=rnd.randint(1, 121)))
        o_cols["o_orderkey"].append(o)
        o_cols["o_custkey"].append(rnd.randrange(n_cust))
        o_cols["o_orderstatus"].append(rnd.choice("FOP"))
        o_cols["o_totalprice"].append(round(total, 2))
        o_cols["o_orderdate"].append(odate)
        o_cols["o_orderpriority"].append(rnd.choice(prios))
    ts = pa.timestamp("us")
    orders = {k: pa.array(v, ts if k == "o_orderdate" else
                          pa.int64() if k in ("o_orderkey", "o_custkey") else None)
              for k, v in o_cols.items()}
    ltypes = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
              "l_linenumber": pa.int32(), "l_shipdate": ts}
    lineitem = {k: pa.array(v, ltypes.get(k)) for k, v in l_cols.items()}
    part = {"p_partkey": pa.array(range(2000), pa.int64()),
            "p_name": pa.array([f"{rnd.choice(WORDS)} {rnd.choice(WORDS)}" for _ in range(2000)]),
            "p_brand": pa.array([f"Brand#{rnd.randint(1, 25)}" for _ in range(2000)]),
            "p_type": pa.array([rnd.choice(["LARGE", "SMALL", "ECONOMY", "PROMO"])
                                for _ in range(2000)]),
            "p_size": pa.array([rnd.randint(1, 50) for _ in range(2000)], pa.int32()),
            "p_retailprice": pa.array([900 + (i % 1000) / 10 for i in range(2000)])}
    t0 = datetime(2024, 1, 1)
    kinds = ["view", "click", "signup", "purchase", "error"]
    events = {"event_id": pa.array(range(n_orders), pa.int64()),
              "ts": pa.array([t0 + timedelta(seconds=17 * i + rnd.randrange(17))
                              for i in range(n_orders)], pa.timestamp("us")),
              "user_id": pa.array([rnd.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
              "event_type": pa.array([rnd.choice(kinds) for _ in range(n_orders)]),
              "value": pa.array([round(rnd.uniform(0, 200), 2) for _ in range(n_orders)]),
              "props": pa.array([f'{{"k": {rnd.randrange(100)}}}' for _ in range(n_orders)])}
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders, "lineitem": lineitem,
            "part": part, "events": events}


def tables(n_docs=1000, n_vecs=1000, n_cust=1500, n_supp=100, n_orders=15000):
    """All tables as {name: {column: pyarrow array}}, from the content seed."""
    rnd = random.Random(CONTENT_SEED)
    out = _star(rnd, n_cust, n_supp, n_orders)
    out["documents"] = _docs(rnd, n_docs)
    out["embeddings"] = _embeddings(rnd, n_vecs)
    return out


def _content(cache_dir):
    """The tables in content order, generated once per version of this file
    and kept under `cache_dir`."""
    with open(os.path.abspath(__file__), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(cache_dir, f"tables-{key}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        os.makedirs(tmp)
        for name, cols in tables().items():
            pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
        os.replace(tmp, d)
    return {f[:-len(".parquet")]: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def write(out_dir, seed, cache_dir):
    """Write every table as `<out_dir>/<name>.parquet`, rows permuted by
    `seed`. Returns the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in _content(cache_dir).items():
        order = list(range(t.num_rows))
        random.Random(seed * 1000003 + len(name)).shuffle(order)
        f = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t.take(pa.array(order, pa.int64())), f)
        total += os.path.getsize(f)
    return total

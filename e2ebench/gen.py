"""Deterministic input generators. The same seed gives the same inputs.

- `transactions`: BankSim-shaped card transactions for the fraud stream,
  with numeric customer and merchant ids (graft reads the importance
  dimension back with Long ids) and power-law key skew.
- `importance`: the CustomerImportance dimension over pairs drawn from
  the same traffic.
- `expected_state`: the three state tables as a plain aggregation of the
  generated input (exact counts and cent sums).
- `star_schema`: the TPC-H-like star schema plus events, documents and
  embeddings that graft's registered queries read, at a small scale.
"""
import json
import os
from dataclasses import dataclass, asdict

import numpy as np

CATEGORIES = ["es_transportation", "es_food", "es_health", "es_wellnessandbeauty",
              "es_fashion", "es_barsandrestaurants", "es_hyper", "es_sportsandtoys",
              "es_tech", "es_home", "es_hotelservices", "es_otherservices",
              "es_contents", "es_travel", "es_leisure"]
TX_COLUMNS = ["step", "customer", "age", "gender", "zipcodeOri", "merchant",
              "zipMerchant", "category", "amount", "fraud"]
CUSTOMER_BASE = 100000
MERCHANT_BASE = 5000


# Fixed for every stream workload; recorded with the parameters.
CHUNK_ROWS = 10000      # the reference's stated chunk size
CUSTOMER_SKEW = 0.8     # power-law exponent of customer traffic


@dataclass(frozen=True)
class StreamParams:
    """What differs between the stream workloads."""
    customers: int
    merchants: int
    chunks: int
    merchant_skew: float       # power-law exponent of merchant traffic
    child_share: float         # customers spending below PatId2's average cap
    female_share: float
    importance_pairs: int

    def as_dict(self):
        return dict(asdict(self), chunk_rows=CHUNK_ROWS, customer_skew=CUSTOMER_SKEW)


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _power_law(rng, order, s, size):
    """`size` keys drawn with P(rank r) ~ r^-s; `order` maps rank to key."""
    p = 1.0 / np.arange(1, len(order) + 1) ** s
    return order[rng.choice(len(order), size=size, p=p / p.sum())]


def _population(seed, p):
    """Per-key attributes, fixed for the whole stream."""
    rng = _rng(seed, 1)
    return {
        "female": rng.random(p.customers) < p.female_share,
        "age": rng.integers(0, 7, p.customers),
        "child": rng.random(p.customers) < p.child_share,
        "category": rng.integers(0, len(CATEGORIES), p.merchants),
        "customer_rank": rng.permutation(p.customers),
        "merchant_rank": rng.permutation(p.merchants),
    }


def transactions(seed, p):
    """Column arrays of chunks * CHUNK_ROWS transactions. Amounts are
    whole cents (so DECIMAL(18,2) sums are exact): ordinary customers
    spend 32 000-120 000, the `child_share` customers 1-30 000."""
    pop = _population(seed, p)
    rng = _rng(seed, 2)
    n = p.chunks * CHUNK_ROWS
    cust = _power_law(rng, pop["customer_rank"], CUSTOMER_SKEW, n)
    merch = _power_law(rng, pop["merchant_rank"], p.merchant_skew, n)
    child = pop["child"][cust]
    cents = np.where(child, rng.integers(100, 3_000_000, n),
                     rng.integers(3_200_000, 12_000_000, n))
    return {
        "step": np.repeat(np.arange(p.chunks), CHUNK_ROWS),
        "customer": cust + CUSTOMER_BASE,
        "age": pop["age"][cust],
        "female": pop["female"][cust],
        "merchant": merch + MERCHANT_BASE,
        "category": pop["category"][merch],
        "cents": cents,
        "fraud": (rng.random(n) < 0.01).astype(np.int64),
    }


def write_transactions_csv(path, tx):
    cents = tx["cents"]
    with open(path, "w") as f:
        f.write(",".join(TX_COLUMNS) + "\n")
        for i in range(len(cents)):
            c = int(cents[i])
            f.write(f"{tx['step'][i]},{tx['customer'][i]},{tx['age'][i]},"
                    f"{'F' if tx['female'][i] else 'M'},28007,{tx['merchant'][i]},28007,"
                    f"{CATEGORIES[tx['category'][i]]},{c // 100}.{c % 100:02d},{tx['fraud'][i]}\n")


def importance(seed, p):
    """Distinct (customer, merchant, category, weight) rows over pairs
    drawn from the stream's own traffic distribution."""
    pop = _population(seed, p)
    rng = _rng(seed, 3)
    cust = _power_law(rng, pop["customer_rank"], CUSTOMER_SKEW, p.importance_pairs)
    merch = _power_law(rng, pop["merchant_rank"], p.merchant_skew, p.importance_pairs)
    pairs = sorted(set(zip(cust.tolist(), merch.tolist())))
    weights = rng.random(len(pairs))
    return [(c + CUSTOMER_BASE, m + MERCHANT_BASE, CATEGORIES[pop["category"][m]],
             round(float(w), 4)) for (c, m), w in zip(pairs, weights)]


def write_importance_csv(path, rows):
    with open(path, "w") as f:
        f.write("customer,merchant,category,weight\n")
        for c, m, cat, w in rows:
            f.write(f"{c},{m},{cat},{w}\n")


def expected_state(tx):
    """The three state tables as plain aggregations: {table: {key: values}}
    with string keys, integer counts and integer cent sums."""
    merchant, customer, cents, female = tx["merchant"], tx["customer"], tx["cents"], tx["female"]
    ms = {}
    mg = {}
    um, cnt = np.unique(merchant, return_counts=True)
    fem = dict(zip(*np.unique(merchant[female], return_counts=True)))
    for m, c in zip(um.tolist(), cnt.tolist()):
        ms[(str(m),)] = (c,)
        f = int(fem.get(m, 0))
        mg[(str(m),)] = (c - f, f)
    key = customer.astype(np.int64) * 1_000_000 + merchant
    uk, inv, cnt = np.unique(key, return_inverse=True, return_counts=True)
    sums = np.zeros(len(uk), dtype=np.int64)
    np.add.at(sums, inv, cents)
    cms = {(str(k // 1_000_000), str(k % 1_000_000)): (int(c), int(s))
           for k, c, s in zip(uk.tolist(), cnt.tolist(), sums.tolist())}
    return {"merchant_summary": ms, "customer_merchant_summary": cms,
            "merchant_gender_summary": mg}


# ---- star schema for the query suite ---------------------------------

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
         "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
         "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast",
         "the"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def star_schema(seed, scale):
    """{table: pyarrow.Table}. scale=0.01 gives 60 000 lineitem rows."""
    import pyarrow as pa
    rng = _rng(seed, 4)
    n_cust, n_ord, n_li = int(150_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    n_part, n_supp = int(200_000 * scale), max(10, int(10_000 * scale))
    n_docs, n_vec, n_ev = int(50_000 * scale), int(50_000 * scale), int(1_000_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5), i32),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999, 9999, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                              "HOUSEHOLD", "MACHINERY"], n_cust), s)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999, 9999, n_supp), f64)})
    adj = ["small", "red", "blue", "hot", "old", "green", "big", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                        "STANDARD"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2), f64)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), ts),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                 "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(900, 105000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(days("1995-01-02", 2497, n_li), ts)})
    n_users = max(20, int(15_000 * scale))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(days("2024-01-01", 30, n_ev)
                               + rng.integers(0, 86_400_000_000, n_ev).astype("timedelta64[us]")), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01, f64),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)], s)})
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:   # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def write_star_schema(data_dir, tables):
    import pyarrow.parquet as pq
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))

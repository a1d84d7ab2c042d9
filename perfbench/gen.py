"""Seeded request generation.

Every input a run sends is drawn here from a `random.Random(seed)` over
the raw parquet tables; the same seed gives the same requests.
"""
import json

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# graph id bands of the test graph projection (graft.model.TestGraph)
OFF = 1000000000
ORDER_B, DOCUMENT_B, EMBEDDING_B = 6, 9, 10
# keys of nodes the writer adds sit far above every generated key
NEW_KEY_BASE = 10000000
TOKEN_SPLIT = "[^a-z0-9]+"

# one round of the read mix holds each kind once: groups lookup, hop,
# agg, vector and text
READ_KINDS = ["lookup_key", "lookup_id", "hop_1", "hop_2", "agg_count",
              "agg_group", "agg_order", "vector_knn", "text_bm25"]


def connect(data):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def envelope(name, steps, write=False):
    return json.dumps({
        "request_type": "write" if write else "read",
        "query": {"queries": [{"Query": {"name": name, "steps": steps,
                                         "condition": None}}],
                  "returns": [name]},
        "parameters": {}})


def label_where(label, *preds):
    eq = {"Eq": ["$label", {"String": label}]}
    return {"NWhere": {"And": [eq, *preds]} if preds else eq}


def i64(k):
    return {"I64": int(k)}


def f64(x):
    return {"F64": float(x)}


class Corpus:
    """Key ranges, vectors and vocabulary the generator draws from."""

    def __init__(self, con):
        self.custkeys = [r[0] for r in con.sql(
            "SELECT c_custkey FROM customer ORDER BY 1").fetchall()]
        self.orderkeys = [r[0] for r in con.sql(
            "SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
        self.vec_ids = [r[0] for r in con.sql(
            "SELECT vec_id FROM embeddings ORDER BY 1").fetchall()]
        self.vocab = [r[0] for r in con.sql(
            "SELECT t FROM (SELECT unnest(list_filter(string_split_regex("
            f"lower(text), '{TOKEN_SPLIT}'), x -> x <> '')) AS t FROM documents) "
            "GROUP BY t HAVING count(*) >= 5 ORDER BY t").fetchall()]
        self.price_q = list(con.sql(
            "SELECT quantile_disc(o_totalprice, [0.1, 0.3, 0.5, 0.7, 0.9]) "
            "FROM orders").fetchall()[0][0])
        self.counts = {t: con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
                       for t in ("customer", "documents", "orders")}


def read_request(kind, rng, c, con):
    """One read: (body, spec) where spec tells the checker what to compute."""
    if kind == "lookup_key":
        k = rng.choice(c.custkeys)
        steps = [label_where("Customer", {"Eq": ["c_custkey", i64(k)]}),
                 {"Values": ["c_name", "c_nationkey", "c_mktsegment"]}]
        return steps, {"custkey": k}
    if kind == "lookup_id":
        k = rng.choice(c.orderkeys)
        steps = [{"N": {"Ids": [ORDER_B * OFF + k]}},
                 {"Values": ["o_orderstatus", "o_totalprice"]}]
        return steps, {"orderkey": k}
    if kind in ("hop_1", "hop_2"):
        k = rng.choice(c.custkeys)
        steps = [label_where("Customer", {"Eq": ["c_custkey", i64(k)]}),
                 {"Out": "PLACED"}]
        if kind == "hop_2":
            steps.append({"Out": "CONTAINS"})
        return steps + ["Count"], {"custkey": k}
    if kind == "agg_count":
        t = round(rng.uniform(c.price_q[0], c.price_q[-1]), 2)
        return [label_where("Order", {"Gt": ["o_totalprice", f64(t)]}),
                "Count"], {"price": t}
    if kind == "agg_group":
        t = round(rng.uniform(c.price_q[0], c.price_q[-1]), 2)
        return [label_where("Order", {"Gt": ["o_totalprice", f64(t)]}),
                {"GroupCount": "o_orderpriority"}], {"price": t}
    if kind == "agg_order":
        t = round(rng.uniform(c.price_q[1], c.price_q[-1]), 2)
        return [label_where("Order", {"Lt": ["o_totalprice", f64(t)]}),
                {"OrderBy": ["o_totalprice", "Desc"]}, {"Limit": 10},
                {"Values": ["o_orderkey", "o_totalprice"]}], {"price": t}
    if kind == "vector_knn":
        v = rng.choice(c.vec_ids)
        q = con.sql(f"SELECT embedding FROM embeddings WHERE vec_id = {v}").fetchone()[0]
        return [{"VectorSearchNodes": {
            "label": "Embedding", "property": "embedding", "tenant_value": None,
            "query_vector": {"Value": {"F32Array": q}}, "k": {"Literal": 10}}},
            "Id"], {"vec_id": v}
    if kind == "text_bm25":
        terms = rng.sample(c.vocab, rng.randint(2, 4))
        return [{"TextSearchNodes": {
            "label": "Document", "property": "text", "tenant_value": None,
            "query_text": {"Value": {"String": " ".join(terms)}},
            "k": {"Literal": 10}}}, "Id"], {"terms": terms}
    raise ValueError(kind)


def read_pool(rng, c, con, rounds, fresh=0):
    """Distinct reads in seeded order, in rounds that each hold every
    kind once (plus `fresh` pinned reads of the last acked write in
    serve_mixed), shuffled within the round. Returns (pool, round size)."""
    block = READ_KINDS + ["fresh"] * fresh
    kinds = []
    for _ in range(rounds):
        b = list(block)
        rng.shuffle(b)
        kinds += b
    pool = []
    for i, kind in enumerate(kinds):
        steps, spec = read_request("lookup_key" if kind == "fresh" else kind, rng, c, con)
        pool.append({"id": f"r{i:04d}", "kind": kind, "body": envelope("r", steps),
                     "spec": spec})
    return pool, len(block)


SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def writes(rng, c, n):
    """`n` write batches for the single writer, each with a read that
    shows it took effect. Every write touches its own node, so a later
    write can never change an earlier write's verify answer."""
    out = []
    set_keys = rng.sample(c.custkeys, n)
    for i in range(n):
        kind = rng.choice(["add_customer", "add_customer", "set_property",
                           "add_document"])
        key = NEW_KEY_BASE + i
        if kind == "add_customer":
            steps = [{"AddN": {"label": "Customer", "properties": [
                ["c_custkey", {"Value": i64(key)}],
                ["c_name", {"Value": {"String": f"Customer#{key:09d}"}}],
                ["c_nationkey", {"Value": i64(rng.randrange(25))}],
                ["c_acctbal", {"Value": f64(round(rng.uniform(-999, 9999), 2))}],
                ["c_mktsegment", {"Value": {"String": rng.choice(SEGMENTS)}}]]}},
                {"AddE": {"label": "PLACED",
                          "to": {"Ids": [ORDER_B * OFF + rng.choice(c.orderkeys)]},
                          "properties": []}}]
            label, verify = "Customer", [label_where(
                "Customer", {"Eq": ["c_custkey", i64(key)]}), "Count"]
            expect = 1
        elif kind == "set_property":
            k = set_keys[i]
            x = round(rng.uniform(-999, 9999), 2)
            steps = [label_where("Customer", {"Eq": ["c_custkey", i64(k)]}),
                     {"SetProperty": ["c_acctbal", {"Value": f64(x)}]}]
            label, verify = "Customer", [label_where(
                "Customer", {"Eq": ["c_custkey", i64(k)]}), {"Values": ["c_acctbal"]}]
            expect = x
        else:
            words = [rng.choice(c.vocab) for _ in range(rng.randint(8, 24))]
            text = " ".join(words)
            steps = [{"AddN": {"label": "Document", "properties": [
                ["doc_id", {"Value": i64(key)}],
                ["text", {"Value": {"String": text}}],
                ["lang", {"Value": {"String": "en"}}],
                ["source", {"Value": {"String": "perfbench"}}],
                ["n_chars", {"Value": i64(len(text))}]]}}]
            label, verify = "Document", [label_where(
                "Document", {"Eq": ["doc_id", i64(key)]}), "Count"]
            expect = 1
        out.append({"id": f"w{i:04d}", "kind": kind, "label": label,
                    "body": envelope("w", steps, write=True),
                    "verify": envelope("v", verify), "expect": expect})
    return out

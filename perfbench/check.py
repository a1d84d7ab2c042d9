"""Output checks, computed apart from the engine.

Serving answers are recomputed with DuckDB over the raw parquet (or by
brute force over all candidates for the top-k searches, where equal
scores may legitimately order either way). serve_mixed is checked for
the properties a single-writer WAL store must have. Analytics outputs
are compared with the registry's oracle SQL.
"""
import glob
import json
import os

import gen

EPS = 1e-6
OFF = gen.OFF


def _rows(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def _bm25(con, terms):
    """Okapi BM25 (k1 = 1.2, b = 0.75, Lucene idf) of every document
    holding at least one of `terms`, over the whole corpus."""
    tl = ", ".join("'" + t + "'" for t in terms)
    return con.sql(
        "WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), "
        f"'{gen.TOKEN_SPLIT}'), x -> x <> '') AS t FROM documents), "
        "lens AS (SELECT doc_id, len(t) AS len FROM toks), "
        "stats AS (SELECT count(*) AS n, avg(len) AS avglen FROM lens), "
        "post AS (SELECT doc_id, term, count(*) AS tf FROM "
        f"(SELECT doc_id, unnest(t) AS term FROM toks) WHERE term IN ({tl}) "
        "GROUP BY doc_id, term), "
        "dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term) "
        "SELECT doc_id, sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 / "
        "(tf + 1.2 * (0.25 + 0.75 * len / avglen))) AS s "
        "FROM post JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats "
        "GROUP BY doc_id").fetchall()


def expected(con, r):
    """The answer to read `r`, computed with DuckDB."""
    k, s = r["kind"], r["spec"]
    if k in ("lookup_key", "fresh"):
        return _rows(con, "SELECT c_name, c_nationkey, c_mktsegment FROM customer "
                          f"WHERE c_custkey = {s['custkey']}")
    if k == "lookup_id":
        return _rows(con, "SELECT o_orderstatus, o_totalprice FROM orders "
                          f"WHERE o_orderkey = {s['orderkey']}")
    if k == "hop_1":
        return con.sql(f"SELECT count(*) FROM orders WHERE o_custkey = {s['custkey']}").fetchone()[0]
    if k == "hop_2":
        return con.sql("SELECT count(*) FROM orders o JOIN lineitem l "
                       "ON l.l_orderkey = o.o_orderkey "
                       f"WHERE o.o_custkey = {s['custkey']}").fetchone()[0]
    if k == "agg_count":
        return con.sql(f"SELECT count(*) FROM orders WHERE o_totalprice > {s['price']}").fetchone()[0]
    if k == "agg_group":
        return dict(con.sql("SELECT o_orderpriority, count(*) FROM orders "
                            f"WHERE o_totalprice > {s['price']} GROUP BY 1").fetchall())
    if k == "agg_order":
        return dict(con.sql("SELECT o_orderkey, o_totalprice FROM orders "
                            f"WHERE o_totalprice < {s['price']}").fetchall())
    if k == "vector_knn":
        return {OFF * gen.EMBEDDING_B + i: c for i, c in con.sql(
            "SELECT e.vec_id, list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
            "CAST(q.embedding AS DOUBLE[])) FROM embeddings e, "
            f"(SELECT embedding FROM embeddings WHERE vec_id = {s['vec_id']}) q").fetchall()}
    if k == "text_bm25":
        return {OFF * gen.DOCUMENT_B + d: sc for d, sc in _bm25(con, s["terms"])}
    raise ValueError(k)


def stable(r):
    """True when no generated write can change the read's answer: writes
    add Customers and Documents with fresh keys, move c_acctbal, and add
    PLACED edges from new Customers only. BM25 scores move with every
    added Document."""
    return r["kind"] != "text_bm25"


def _top_k(got, scores, k=10):
    """A top-k answer passes when its ids are distinct, known, and their
    scores equal the k best scores (ties may order either way)."""
    ids = [row["id"] for row in got]
    if len(set(ids)) != len(ids) or any(i not in scores for i in ids):
        return False
    best = sorted(scores.values(), reverse=True)[:k]
    mine = sorted((scores[i] for i in ids), reverse=True)
    return len(mine) == len(best) and all(
        abs(a - b) <= EPS * max(1.0, abs(b)) for a, b in zip(mine, best))


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return abs(a - b) <= EPS * max(1.0, abs(b))
    return a == b


def compare(r, got, want):
    k = r["kind"]
    if k in ("lookup_key", "lookup_id", "fresh"):
        return len(got) == len(want) and all(
            set(g) == set(w) and all(_close(g[c], w[c]) for c in w)
            for g, w in zip(got, want))
    if k in ("hop_1", "hop_2", "agg_count"):
        return got == want
    if k == "agg_group":
        rows = got if isinstance(got, list) else [got]
        return {row["o_orderpriority"]: row["cnt"] for row in rows} == want
    if k == "agg_order":
        keys = [row["o_orderkey"] for row in got]
        if any(key not in want or not _close(row["o_totalprice"], want[key])
               for key, row in zip(keys, got)):
            return False
        best = sorted(want.values(), reverse=True)[:10]
        return len(set(keys)) == len(keys) and \
            [row["o_totalprice"] for row in got] == sorted(best, reverse=True)
    if k in ("vector_knn", "text_bm25"):
        return _top_k(got if isinstance(got, list) else [got], want)
    raise ValueError(k)


def responses(requests, expected_by_id, got_by_id):
    """Every distinct checked response against its expected answer. A run
    that returned none of the checked requests fails: it showed nothing."""
    problems = []
    checked = 0
    for rid, want in expected_by_id.items():
        if rid not in got_by_id:
            continue
        checked += 1
        got = json.loads(got_by_id[rid])["r"]
        if not compare(requests[rid], got, want):
            problems.append(f"{rid} ({requests[rid]['kind']}): got {str(got)[:200]}")
    if not checked:
        problems.append("no checked request got a response")
    return problems


def mixed(m, counts):
    """Properties of a serve_mixed run."""
    p = []
    if m["invisible_writes"]:
        p.append(f"acked writes not visible at the final position: {m['invisible_writes'][:5]}")
    want = {"Customer": counts["customer"] + m["acked_add_customer"],
            "Document": counts["documents"] + m["acked_add_document"],
            "Order": counts["orders"]}
    if m["final_counts"] != want:
        p.append(f"final counts {m['final_counts']} != initial + acked AddN {want}")
    if m["recovered_counts"] != m["final_counts"]:
        p.append(f"recovered counts {m['recovered_counts']} != writer {m['final_counts']}")
    if m["duplicate_node_ids"] or m["duplicate_edge_ids"]:
        p.append(f"duplicate ids: nodes {m['duplicate_node_ids']}, edges {m['duplicate_edge_ids']}")
    return p


def _canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(repr(r[i]) if isinstance(r[i], float) else str(r[i]) for i in idx)
                 for r in rows)
    return [cols[i] for i in idx], out


def analytics(out, data):
    """Each query's output against its oracle SQL, rows and columns."""
    con = gen.connect(data)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out, "analytics", name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no output")
            continue
        srel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        orel = con.sql(sql)
        sc, sr = _canon(srel.fetchall(), srel.columns)
        oc, orows = _canon(orel.fetchall(), orel.columns)
        if (sc, sr) != (oc, orows):
            problems.append(f"{name}: {len(sr)} rows {sc} vs oracle {len(orows)} rows {oc}")
    con.close()
    return problems

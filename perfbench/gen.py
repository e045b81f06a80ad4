"""Seeded fixture generator for the olap16 and serve_dash workloads.

Writes the ten tables the bench queries read (region ... embeddings) as one
parquet file each, in the same schema and physical layout as the fixtures
the queries were written against (TESTDATA.md: pyarrow writer, one row
group, timestamp[us] without a zone). Values follow the same
domains those fixtures use, so every query's filters, joins and dedup
thresholds behave the same way; only the rows differ from seed to seed.

The documents table plants near-duplicates the way the fixtures do: about
one document in twenty is an earlier document's text with " dup" appended,
so shingle-Jaccard similarity is either >= 0.8 (a planted pair) or close
to zero, and the MinHash dedup queries have an exact answer.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large", "old", "new", "black"]
NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "valve", "spring", "lever"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(start, end, n, rng):
    lo = (np.datetime64(start, "D") - EPOCH.astype("datetime64[D]")).astype(int)
    hi = (np.datetime64(end, "D") - EPOCH.astype("datetime64[D]")).astype(int)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """The ten tables for one seed, as pyarrow Tables keyed by name."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_vec = int(50_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(COLORS, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(1000, 500000, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(900, 105000, n_li, rng),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400_000_000
    ts = np.sort(start + rng.integers(0, span, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 91)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    vec = rng.standard_normal((n_vec, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return out


def write(seed, sf, out_dir):
    """Write the tables under out_dir; return the fixture fingerprint, a
    digest of every file's bytes (equal bytes, equal answers)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, table in sorted(tables(seed, sf).items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=len(table) or 1)
        with open(path, "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def _zipf(rng, size, s=1.2):
    """A draw from 0..size-1 with probability proportional to 1/(i+1)^s."""
    w = 1.0 / np.arange(1, size + 1) ** s
    return int(rng.choice(size, p=w / w.sum()))


def requests(seed, sf, clients=2, per_client=4000):
    """The serve_dash request mix for one seed.

    Returns (cold, scripts, oracle): `cold` has one request per template,
    `scripts` one request list per client, and `oracle` maps every request
    to its DuckDB twin (same SQL where the dialects agree).
    """
    rng = np.random.default_rng(seed + 7_919)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_vec = int(50_000 * sf)
    span = int(n_ord * 50_000 / n_li)  # ~50k lineitem rows per streaming reply
    custs = rng.choice(n_cust, 200, replace=False)
    weeks = rng.choice(340, 100, replace=False)
    vecs = rng.choice(n_vec, 50, replace=False)
    starts = rng.choice(n_ord - span, 4, replace=False)

    def lookup(i):
        return (f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
                f"WHERE o_custkey = {custs[i]} ORDER BY o_orderkey")

    def week(i):
        d0 = np.datetime64("1995-01-02") + np.timedelta64(7 * int(weeks[i]), "D")
        d1 = d0 + np.timedelta64(7, "D")
        return ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue "
                f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{d0}' "
                f"AND l_shipdate < TIMESTAMP '{d1}' "
                "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")

    def segment(i):
        return ("SELECT n_name, count(*) AS n FROM customer JOIN nation "
                f"ON c_nationkey = n_nationkey WHERE c_mktsegment = '{SEGMENTS[i]}' "
                "GROUP BY n_name ORDER BY n_name")

    def topk(i, fn="cosine_sim(e.embedding, q.embedding)"):
        v = vecs[i]
        return (f"SELECT e.vec_id, e.label, round({fn}, 6) AS cos "
                "FROM embeddings e CROSS JOIN "
                f"(SELECT embedding FROM embeddings WHERE vec_id = {v}) q "
                f"WHERE e.vec_id <> {v} ORDER BY cos DESC, e.vec_id LIMIT 10")

    def stream(i):
        k = starts[i]
        return ("SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
                f"l_quantity, l_extendedprice FROM lineitem "
                f"WHERE l_orderkey >= {k} AND l_orderkey < {k + span}")

    duck_cos = ("list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
                "CAST(q.embedding AS DOUBLE[]))")
    # (template, literal pool size, requests per block of 20): 80% short, 20%
    # streaming in every block
    templates = [(lookup, len(custs), 6), (week, len(weeks), 5),
                 (segment, len(SEGMENTS), 3), (topk, len(vecs), 2),
                 (stream, len(starts), 4)]
    oracle = {}

    def emit(t, i):
        sql = templates[t][0](i)
        oracle[sql] = topk(i, duck_cos) if templates[t][0] is topk else sql
        return sql

    # A template's requests alternate between a literal not used before, in
    # a seeded order, and a repeat of one already used, drawn Zipf-skewed
    # towards the earliest; once its pool is used up it only repeats. So
    # the repeat share, which sets how much planning and code generation a
    # request can reuse, is the same for every seed; only the literals vary.
    cold = [emit(t, 0) for t in range(len(templates))]
    used = [[0] for _ in templates]
    fresh = [list(rng.permutation(np.arange(1, size))) for _, size, _ in templates]
    drawn = [0] * len(templates)

    def draw(t):
        if drawn[t] % 2 == 0 and fresh[t]:
            used[t].append(int(fresh[t].pop(0)))
            i = used[t][-1]
        else:
            i = used[t][_zipf(rng, len(used[t]))]
        drawn[t] += 1
        return emit(t, i)

    # The same evenly spread order for every seed, so that any stretch of a
    # script has nearly the block's mix; each client runs it out of phase
    # with the others. Requests are drawn in the order the clients would
    # send them if they kept pace.
    block = _spread([k for _, _, k in templates])
    orders = [block[c * len(block) // clients:] + block[:c * len(block) // clients]
              for c in range(clients)]
    scripts = [[] for _ in range(clients)]
    for j in range(per_client):
        for c in range(clients):
            scripts[c].append(draw(orders[c][j % len(block)]))
    return cold, scripts, oracle


def _spread(counts):
    """One block in which item t appears counts[t] times, each item's
    occurrences as evenly spaced as the others allow (smooth weighted
    round-robin)."""
    total = sum(counts)
    credit = [0] * len(counts)
    out = []
    for _ in range(total):
        for t, k in enumerate(counts):
            credit[t] += k
        t = max(range(len(counts)), key=lambda i: credit[i])
        credit[t] -= total
        out.append(t)
    return out

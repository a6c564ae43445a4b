"""Seeded input generation and DuckDB oracle results for the benchmark.

Every table is a pure function of (workload, seed): the same seed writes the
same parquet bytes. Shapes follow the engine's testdata (TESTDATA.md, written
by pyarrow) and the ETL lifecycle's input columns (graft.BenchEtl).
"""
import datetime
import decimal
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of each workload's inputs; see README.md for why they are this size.
ETL_LISTINGS = 264
ETL_REVIEWS = 13882
GRAPH_CUSTOMERS = 300
DEDUP_DOCS = 200
DEDUP_VECTORS = 500

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _day_ts(first, last, days):
    base = datetime.datetime(*first)
    span = (datetime.datetime(*last) - base).days
    return pa.array([base + datetime.timedelta(days=int(d % span)) for d in days],
                    pa.timestamp("us"))


def gen_graph(out_dir, seed):
    """customer / orders / lineitem / events at the testdata's proportions."""
    n_cust = GRAPH_CUSTOMERS
    n_ord, n_supp, n_part, n_user = n_cust * 10, max(10, n_cust // 15), n_cust * 20, n_cust // 10
    r = _rng(seed, 1)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": r.choice(["MACHINERY", "FURNITURE", "AUTOMOBILE",
                                  "HOUSEHOLD", "BUILDING"], n_cust).tolist()})
    r = _rng(seed, 2)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _day_ts((1995, 1, 1), (2001, 8, 1), r.integers(0, 2404, n_ord)),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()})
    r = _rng(seed, 3)
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105000, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["N", "A", "R"], n_li).tolist(),
        "l_linestatus": r.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": _day_ts((1995, 1, 2), (2001, 11, 4), r.integers(0, 2498, n_li))})
    r = _rng(seed, 4)
    n_ev = n_cust * 20 // 3
    secs = np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(base + secs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_user, n_ev), pa.int64()),
        "event_type": r.choice(["view", "click", "purchase", "signup", "error"], n_ev).tolist(),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})


def gen_dedup(out_dir, seed):
    """documents (30-word vocab, 5 % planted near-dups) and embeddings."""
    n = DEDUP_DOCS
    r = _rng(seed, 5)
    words = np.array(VOCAB)
    texts = [" ".join(words[r.integers(0, len(VOCAB), int(k))])
             for k in r.integers(10, 101, n)]
    is_dup = r.random(n) < 0.05
    bases = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[int(r.choice(bases))] + " dup"
    lang = np.where(r.random(n) < 0.41, "en", r.choice(["zh", "es", "fr", "de"], n))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{s}" for s in r.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = _rng(seed, 6)
    m = DEDUP_VECTORS
    g = r.standard_normal((m, 64))
    emb = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32())})


def gen_etl(out_dir, seed):
    """listings and reviews in graft.BenchEtl's column shape."""
    n = ETL_LISTINGS
    r = _rng(seed, 7)
    ids = np.arange(n)
    pick = lambda xs, k: np.array(xs)[r.integers(0, len(xs), k)].tolist()
    days = lambda first, span, k: [
        (datetime.date(*first) + datetime.timedelta(days=int(d))).isoformat()
        for d in r.integers(0, span, k)]
    _write(out_dir, "listings", {
        "id": pa.array(ids, pa.int64()),
        "latitude": np.round(19.0 + r.random(n) / 2, 6),
        "longitude": np.round(-99.0 - r.random(n) / 2, 6),
        "price": [f"${v:,.2f}" for v in r.integers(20000, 1253000, n) / 100.0],
        "host_since": days((2015, 1, 1), 3000, n),
        "calendar_last_scraped": ["2025-10-15"] * n,
        "last_scraped": ["2025-10-15"] * n,
        "amenities": [f'["Wifi", "Kitchen", "Cable TV", "Free parking on premises", "Heating #{k}"]'
                      for k in r.integers(0, 50, n)],
        "room_type": pick(["Entire home/apt", "Private room", "Shared room", "Hotel room"], n),
        "property_type": pick(["Apartment", "House", "Loft", "Entire rental unit"], n),
        "host_is_superhost": pick(["t", "f", "true", "si"], n),
        "host_identity_verified": pick(["t", "f"], n),
        "has_availability": ["t"] * n,
        "accommodates": pa.array(r.integers(1, 9, n), pa.int64()),
        "bedrooms": r.integers(0, 4, n).astype(np.float64),
        "beds": r.integers(0, 5, n).astype(np.float64),
        "minimum_nights": pa.array(r.integers(1, 31, n), pa.int64()),
        "maximum_nights": pa.array(np.full(n, 365), pa.int64()),
        "availability_30": pa.array(r.integers(0, 30, n), pa.int64()),
        "availability_60": pa.array(r.integers(0, 60, n), pa.int64()),
        "availability_90": pa.array(r.integers(0, 90, n), pa.int64()),
        "availability_365": pa.array(r.integers(0, 365, n), pa.int64()),
        "neighbourhood_cleansed": pick(["Cuauhtémoc", "Miguel Hidalgo", "Benito Juárez", "Coyoacán"], n),
        "name": [f"Listing number {i}" for i in ids],
        "description": [f"A lovely place to stay, description {i}" for i in ids]})
    m = ETL_REVIEWS
    r = _rng(seed, 8)
    _write(out_dir, "reviews", {
        "id": pa.array(np.arange(m), pa.int64()),
        "listing_id": pa.array(r.integers(0, n, m), pa.int64()),
        "date": days((2016, 1, 1), 3500, m),
        "reviewer_id": pa.array(r.integers(0, 40000, m), pa.int64()),
        "reviewer_name": [f"reviewer o'name {k}" for k in r.integers(0, 1000, m)],
        "comments": pick([
            "The flat is very nice newly renovated, excellent host and good location",
            "terrible experience, dirty and bad",
            "Fue algo express pero bueno, perfecto para una noche",
            "ok stay nothing special about it",
            "wonderful amazing perfect great good"], m)})
    return {"listings": n, "reviews": m}


def gen_queries(out_dir, seed):
    """The graph tables and the dedup tables side by side."""
    gen_graph(out_dir, seed)
    gen_dedup(out_dir, seed)


GENERATORS = {"etl": gen_etl, "queries": gen_queries}


def _jsonable(v):
    """DuckDB result value -> JSON value the harness's checker reads back."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return {"float": repr(v)}
        return v
    if isinstance(v, decimal.Decimal):
        return {"decimal": str(v)}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    raise TypeError(f"oracle value of unsupported type {type(v).__name__}: {v!r}")


def oracle_results(data_dir, sqls):
    """Run each query's oracle SQL in DuckDB over the generated tables.

    Returns {query: {"columns": [...], "rows": [[...], ...]}} with columns in
    name order, the order the checker compares in.
    """
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    out = {}
    for name, sql in sorted(sqls.items()):
        rel = con.sql(sql)
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = rel.fetchall()
        out[name] = {"columns": [cols[i] for i in order],
                     "rows": [[_jsonable(row[i]) for i in order] for row in rows]}
    con.close()
    return out


def prepare(workload, seed, data_dir, sqls):
    """Write the workload's tables and its expected results into data_dir."""
    os.makedirs(data_dir, exist_ok=True)
    counts = GENERATORS[workload](data_dir, seed) or {}
    with open(os.path.join(data_dir, "expected.json"), "w") as f:
        json.dump({"tables": counts, "queries": oracle_results(data_dir, sqls)}, f)

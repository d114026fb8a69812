"""Seeded input generator for the benchmark.

Everything the program reads is made here from the workload seed: the ten
fixture tables (same names, column types and value domains as the sf
fixtures FIXTURES.md describes, at the sf0.01 row counts) and the event
batches of the ingest workload, with the exact aggregates the ingest
workload is checked against.
The same seed gives byte-identical parquet files; the program never sees the
seed itself.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixtures (FIXTURES.md scales the fact tables 10x
# per sf step; documents and embeddings stay at 500 below sf0.1).
FIXTURE_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
EVENT_USERS = 150
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# dimension table of the ingest workload's join query
EVENT_TYPE_DIM = [("click", "engagement", 1), ("error", "health", 3),
                  ("purchase", "revenue", 5), ("signup", "growth", 4),
                  ("view", "engagement", 2)]
DOC_VOCAB = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
EMB_DIM = 64
DAY_US = 86_400_000_000
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_DAYS = 30

# Ingest workload: unique rows, split into seeded batches; a seeded share of
# the batches is appended a second time (a resubmission).
INGEST_ROWS = 250_000
INGEST_BATCHES = 8
RESUBMIT_SHARE = (0.2, 0.3)


def _rng(seed, stream):
    """Independent stream per table, so adding a table never shifts another."""
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts_us(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n, users, start_us=EVENTS_START_US, span_days=EVENTS_SPAN_DAYS):
    """Events in time order: strictly increasing µs timestamps spread over
    `span_days`, so (ts) alone identifies a row."""
    gaps = 1 + np.floor(rng.exponential(1.0, n) * (span_days * DAY_US - n) / n)
    ts = start_us + np.cumsum(gaps).astype(np.int64)
    ts = np.minimum(ts, start_us + span_days * DAY_US - 1 - (n - 1 - np.arange(n)))
    return {
        "ts": ts,
        "user_id": rng.integers(0, users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, n)],
    }


def _events_table(event_id, ev):
    return pa.table({
        "event_id": pa.array(event_id, type=pa.int64()),
        "ts": _ts_us(ev["ts"]),
        "user_id": pa.array(ev["user_id"], type=pa.int64()),
        "event_type": pa.array(ev["event_type"], type=pa.string()),
        "value": pa.array(ev["value"], type=pa.float64()),
        "props": pa.array(ev["props"], type=pa.string()),
    })


def fixture_tables(seed):
    """name -> pyarrow Table for the ten fixture tables."""
    n = FIXTURE_ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})

    r = _rng(seed, 1)
    nc = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), type=pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, nc),
        "c_mktsegment": segs[r.integers(0, 5, nc)]})

    r = _rng(seed, 2)
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), type=pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, ns)})

    r = _rng(seed, 3)
    npart = n["part"]
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, type=pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, npart)], " "),
                              noun[r.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, npart).astype(str)),
        "p_type": types[r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = _rng(seed, 4)
    no = n["orders"]
    day0 = 788_918_400_000_000  # 1995-01-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), type=pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), type=pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
        "o_totalprice": _cents(r, 1000.0, 500000.0, no),
        "o_orderdate": _ts_us(day0 + r.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, no)]})

    r = _rng(seed, 5)
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), type=pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), type=pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), type=pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), type=pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105000.0, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
        "l_shipdate": _ts_us(day0 + DAY_US + r.integers(0, 2499, nl) * DAY_US)})

    r = _rng(seed, 6)
    ne = n["events"]
    t["events"] = _events_table(np.arange(ne), _events(r, ne, EVENT_USERS))

    r = _rng(seed, 7)
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 0 and r.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(DOC_VOCAB, int(r.integers(10, 100)))))
    langs = np.array(["en", "zh", "es", "de", "fr"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), type=pa.int64()),
        "text": texts,
        "lang": langs[r.choice(5, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64())})

    r = _rng(seed, 8)
    nv = n["embeddings"]
    v = r.standard_normal((nv, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), type=pa.int32())})
    return t


def write_fixtures(seed, out_dir):
    """Write `<out_dir>/<table>.parquet`; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def ingest_plan(seed, rows=INGEST_ROWS, batches=INGEST_BATCHES):
    """Seeded batch boundaries and resubmissions.

    Returns (bounds, order): batch i holds unique rows bounds[i]:bounds[i+1];
    `order` is the append sequence of batch indexes, each resubmitted batch
    appearing again right after its successor (a late duplicate delivery)."""
    r = _rng(seed, 20)
    sizes = r.uniform(0.8, 1.2, batches)
    cuts = np.cumsum(sizes)[:-1] / sizes.sum() * rows
    bounds = [0] + [int(c) // 1000 * 1000 for c in cuts] + [rows]
    share = r.uniform(*RESUBMIT_SHARE)
    resub = set(int(i) for i in r.choice(batches, max(1, round(share * batches)), replace=False))
    order = []
    for i in range(batches):
        order.append(i)
        if i - 1 in resub:
            order.append(i - 1)
    if batches - 1 in resub:
        order.append(batches - 1)
    return bounds, order


def ingest_events(seed, rows=INGEST_ROWS):
    ev = _events(_rng(seed, 21), rows, EVENT_USERS * 10)
    return _events_table(np.arange(rows), ev)


# Literals of the hot queries in hot_queries.kql that the expected results
# depend on.
HOUR_US = 3_600_000_000
WINDOW_US = (EVENTS_START_US + 7 * DAY_US, EVENTS_START_US + 14 * DAY_US)  # inclusive
TERM_TYPE = "signup"
LOOKUP_USER = 42
TOP_N = 20
PERCENTILES = (50, 90, 99)


def _group(keys, values=None):
    """(unique keys, counts, exact cent sums of `values` or None)."""
    uniq, inv, counts = np.unique(keys, return_inverse=True, return_counts=True)
    if values is None:
        return uniq, counts, None
    cents = np.bincount(inv, weights=np.round(values * 100)).round().astype(np.int64)
    return uniq, counts, cents / 100


def expected_ingest(table):
    """Exact results of the unique rows: the number of distinct dedup keys
    (ts is unique per row by construction) and, per hot query, its result as
    lists of rows. Sums are exact cent sums."""
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    types = table.column("event_type").to_numpy(zero_copy_only=False)
    users = table.column("user_id").to_numpy()
    value = table.column("value").to_numpy()
    nt = len(EVENT_TYPES)
    type_ix = np.searchsorted(EVENT_TYPES, types)
    day = ts // DAY_US * DAY_US

    keys, counts, _ = _group((ts // DAY_US) * nt + type_ix)
    day_type = [[int(k // nt) * DAY_US, EVENT_TYPES[k % nt], int(c)]
                for k, c in zip(keys.tolist(), counts.tolist())]

    w = (ts >= WINDOW_US[0]) & (ts <= WINDOW_US[1])
    keys, counts, sums = _group((ts[w] // HOUR_US) * nt + type_ix[w], value[w])
    window = [[int(k // nt) * HOUR_US, EVENT_TYPES[k % nt], int(c), float(s)]
              for k, c, s in zip(keys.tolist(), counts.tolist(), sums.tolist())]

    dcount = [[t, int(len(np.unique(users[types == t])))] for t in EVENT_TYPES]
    pct = [[t] + [float(np.percentile(value[types == t], p)) for p in PERCENTILES]
           for t in EVENT_TYPES]

    term = types == TERM_TYPE
    keys, counts, _ = _group(day[term])
    has_term = [[int(k), int(c)] for k, c in zip(keys.tolist(), counts.tolist())]

    category = dict((d[0], d[1]) for d in EVENT_TYPE_DIM)
    cats = np.array([category[t] for t in types])
    keys, counts, sums = _group(cats, value)
    join = [[k, int(c), float(s)] for k, c, s in zip(keys.tolist(), counts.tolist(),
                                                     sums.tolist())]

    series = []  # one row per type and day of the grid, empty days included
    for t in EVENT_TYPES:
        d = (ts[types == t] - EVENTS_START_US) // DAY_US
        series += [[t, EVENTS_START_US + i * DAY_US, int(c)] for i, c in
                   enumerate(np.bincount(d, minlength=EVENTS_SPAN_DAYS).tolist())]

    u = users == LOOKUP_USER
    order = np.argsort(ts[u], kind="stable")
    lookup = [[int(a), str(b), float(c)]
              for a, b, c in zip(ts[u][order], types[u][order], value[u][order])]

    return {
        "distinct_keys": int(len(np.unique(ts))),
        "hot": {
            "day_type_counts": day_type,
            "window_bin_summarize": window,
            "dcount_users": dcount,
            "value_percentiles": pct,
            "top_values": np.sort(value)[::-1][:TOP_N].tolist(),
            "has_term": has_term,
            "dimension_join": join,
            "make_series": series,
            "dedup_latest": [[int(len(np.unique(users)))]],
            "user_lookup": lookup,
        },
    }


def write_ingest(seed, out_dir, rows=INGEST_ROWS, batches=INGEST_BATCHES):
    """Write the batches (`batch_<i>.parquet`), the event-type dimension and
    `expected.json`; returns the manifest of the ingest workload."""
    os.makedirs(out_dir, exist_ok=True)
    table = ingest_events(seed, rows)
    bounds, order = ingest_plan(seed, rows, batches)
    for i in range(batches):
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
               os.path.join(out_dir, f"batch_{i}.parquet"))
    _write(pa.table({
        "event_type": [d[0] for d in EVENT_TYPE_DIM],
        "category": [d[1] for d in EVENT_TYPE_DIM],
        "severity": pa.array([d[2] for d in EVENT_TYPE_DIM], type=pa.int64())}),
        os.path.join(out_dir, "EventTypes.parquet"))
    expected = expected_ingest(table)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    unique_bytes = _unique_bytes(table, out_dir)
    appended = sum(bounds[i + 1] - bounds[i] for i in order)
    return {"unique_rows": rows, "appended_rows": appended, "batches": batches,
            "appends": order, "unique_parquet_bytes": unique_bytes,
            "expected": expected}


def _unique_bytes(table, out_dir):
    """Bytes of the unique rows written once as plain parquet (the user-byte
    base of bytes_per_user_byte)."""
    path = os.path.join(out_dir, "unique.parquet")
    _write(table, path)
    size = os.path.getsize(path)
    os.remove(path)
    return size

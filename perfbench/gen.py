"""Seeded input generator for the graft benchmark.

Writes the ten batch tables the declared queries read (the schemas of
TESTDATA.md: a TPC-H-like star schema plus `events`, `documents` and
`embeddings`) and, for the streaming workload, a directory of time-ordered
`events`-schema parquet files that the stream pipelines replay one file per
micro-batch. The same seed always produces byte-identical values.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Batch table sizes: the sf0.01 shape of TESTDATA.md.
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 10000, 150, 500, 500, 64

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the data row column table key value hash join merge sort scan filter "
         "group agg order line part customer query spark stream batch window "
         "vector small big fast slow").split()
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
EPOCH_2024 = dt.datetime(2024, 1, 1)

# Stream replay: file sizes, event-time span and disorder. Every
# out-of-order row is pulled back by less than half the watermark delay, so
# no row can arrive behind the watermark.
STREAM_FILES, STREAM_ROWS, STREAM_USERS = 10, 1000, 400
FILE_SPAN_US = 20 * 60 * 1_000_000          # event time covered by one file
WATERMARK_DELAY_US = 10 * 60 * 1_000_000    # must match the Scala side
DISORDER_SHARE = 0.1
SESSION_GAP_US = 30 * 60 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, span_days, rng, n):
    base = int((dt.datetime(*start) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return base + rng.integers(0, span_days, n) * 86_400_000_000


def _events(rng, n, users, t0_us, span_us, zipf=None):
    """`events` rows in (ts, event_id) order, uniform or Zipf-skewed users."""
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    if zipf is None:
        uid = rng.integers(0, users, n)
    else:
        ranks = np.arange(1, users + 1, dtype=float)
        p = ranks ** -zipf
        uid = rng.choice(users, n, p=p / p.sum())
    return {
        "ts": ts,
        "user_id": uid.astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
    }


def _events_table(cols, first_id):
    n = len(cols["ts"])
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(cols["ts"]),
        "user_id": pa.array(cols["user_id"]),
        "event_type": pa.array(cols["event_type"], type=pa.string()),
        "value": pa.array(cols["value"]),
        "props": pa.array(cols["props"], type=pa.string()),
    }


def tables(out_dir, seed):
    """The batch tables, one `<name>.parquet` each."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")

    _write(p("region"), {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(p("nation"), {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
                                  "AUTOMOBILE"])[rng.integers(0, 5, N_CUSTOMER)].tolist()})
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    _write(p("part"), {
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
                            "LARGE"])[rng.integers(0, 6, N_PART)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 1)})
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64)),
        "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, N_ORDERS)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(_days((1995, 1, 1), 2404, rng, N_ORDERS)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, N_ORDERS)].tolist()})
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    _write(p("lineitem"), {
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li).astype(np.int64)),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines])
                                 .astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(_days((1995, 1, 2), 2498, rng, n_li))})

    t0 = int((EPOCH_2024 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ev = _events(rng, N_EVENTS, N_USERS, t0, 30 * 86_400_000_000)
    _write(p("events"), _events_table(ev, 0))

    # documents: word salad over a small vocabulary; 5% are a copy of an
    # earlier document with " dup" appended (the near-duplicates the dedup
    # queries look for)
    # (document lengths and the number of copies are the same for every
    # seed, so every seed asks for the same amount of work)
    lengths = rng.permutation(np.linspace(10, 99, N_DOCS).astype(int))
    dups = set(rng.choice(np.arange(11, N_DOCS), N_DOCS // 20, replace=False).tolist())
    texts = []
    for i in range(N_DOCS):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), lengths[i])]))
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    # embeddings: unit vectors, 5% near-copies of an earlier vector
    vecs = rng.normal(size=(N_VECS, DIM))
    for i in sorted(rng.choice(np.arange(10, N_VECS), N_VECS // 20, replace=False)):
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=1e-4, size=DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32))})


def _write_stream_file(out_dir, i, cols):
    # the file source replays in modification-time order: space them 1 s
    path = os.path.join(out_dir, f"part-{i:04d}.parquet")
    _write(path, cols)
    os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def stream(out_dir, seed):
    """Stream replay input: STREAM_FILES time-ordered files of STREAM_ROWS
    rows with Zipf-skewed users and bounded disorder, then one sentinel
    file far enough ahead that the watermark closes every open session.
    Returns the first sentinel event id (rows from it on are the
    sentinel's own)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    t0 = int((EPOCH_2024 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    next_id = 0
    for f in range(STREAM_FILES):
        ev = _events(rng, STREAM_ROWS, STREAM_USERS, t0 + f * FILE_SPAN_US, FILE_SPAN_US,
                     zipf=1.1)
        late = rng.random(STREAM_ROWS) < DISORDER_SHARE
        ev["ts"] = ev["ts"] - late * rng.integers(0, WATERMARK_DELAY_US // 2, STREAM_ROWS)
        _write_stream_file(out_dir, f, _events_table(ev, next_id))
        next_id += STREAM_ROWS
    end = t0 + STREAM_FILES * FILE_SPAN_US
    sentinel = {
        "ts": np.array([end + 4 * (SESSION_GAP_US + WATERMARK_DELAY_US)]),
        "user_id": np.array([0], dtype=np.int64),
        "event_type": np.array(["view"], dtype=object),
        "value": np.array([1.0]),
        "props": np.array(['{"k": 0}'], dtype=object),
    }
    _write_stream_file(out_dir, STREAM_FILES, _events_table(sentinel, next_id))
    return next_id

"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its arguments: the same seed
writes byte-identical files. Nothing reads the repository's fixtures;
the tables mimic their schemas and value distributions (FIXTURES.md).

  tables(out_dir, seed, scale, n_docs, n_vecs)   the ten engine tables
  corpus(out_dir, seed, n_files, total_mb)       text corpus for WordCount
  events_split(out_dir, stage_dir, seed, n, k)   events cut into k files

The registry workload's query order is the seed's shuffle of its query
list, drawn in the harness (perfbench.Registry.select).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.386, 0.164, 0.16, 0.148, 0.142]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]
P_ADJ = ["cold", "small", "large", "blue", "red", "green", "hot", "tiny"]
P_NOUN = ["widget", "bolt", "rod", "gear", "nut", "screw", "pipe", "valve"]
EPOCH_US = 788918400 * 1_000_000  # 1995-01-01
EVENTS_T0_US = 1704067200 * 1_000_000  # 2024-01-01
DAY_US = 86400 * 1_000_000

# rows per unit of scale (scale 0.001 reproduces the sf0.001 fixture sizes)
PER_SCALE = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def tables(out_dir, seed, scale, n_docs=500, n_vecs=500):
    """Write region..embeddings as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in PER_SCALE.items()}

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]}),
        f"{out_dir}/customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}),
        f"{out_dir}/supplier.parquet")

    npart = n["part"]
    _write(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 200) * 0.1, 2)}),
        f"{out_dir}/part.parquet")

    no = n["orders"]
    odate = EPOCH_US + rng.integers(0, 2400, no) * DAY_US
    _write(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]}),
        f"{out_dir}/orders.parquet")

    nl = n["lineitem"]
    lok = rng.integers(0, no, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, nl) * DAY_US)}),
        f"{out_dir}/lineitem.parquet")

    _write(events_table(rng, n["events"]), f"{out_dir}/events.parquet")

    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")


def events_table(rng, n, t0_us=EVENTS_T0_US):
    """`events`: strictly increasing ts over 30 days, ~n/67 users."""
    gaps = rng.exponential(1.0, n)
    ts = t0_us + np.floor(np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.999).astype(np.int64)
    ts = np.maximum.accumulate(ts + np.arange(n))  # strictly increasing
    n_users = max(15, n // 67)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def events_split(out_dir, stage_dir, seed, n, k):
    """Write the full `events` table to `<out_dir>/events.parquet` (the
    batch form) and the same rows cut into k equal, time-ordered files
    `<stage_dir>/events-NNN.parquet` (the streamed form), plus one
    sentinel file far in the future that closes every open window."""
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(stage_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ev = events_table(rng, n)
    _write(ev, f"{out_dir}/events.parquet")
    bounds = [i * n // k for i in range(k + 1)]
    for i in range(k):
        _write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]),
               f"{stage_dir}/events-{i:03d}.parquet")
    last = ev.column("ts").cast(pa.int64())[n - 1].as_py()
    sentinel = pa.table({
        "event_id": np.array([n], dtype=np.int64),
        "ts": _ts(np.array([last + 7 * DAY_US])),
        "user_id": np.array([SENTINEL_USER], dtype=np.int64),
        "event_type": [SENTINEL_TYPE], "value": [0.0], "props": ['{"k": 0}']})
    _write(sentinel, f"{stage_dir}/events-{k:03d}.parquet")
    return k + 1


SENTINEL_USER = -1
SENTINEL_TYPE = "sentinel"

CORPUS_VOCAB = 20_000


def corpus(out_dir, seed, n_files, total_mb):
    """Zipfian English-like text: mixed case, punctuation, and lines
    broken mid-sentence, so n-grams cross line breaks inside a file."""
    os.makedirs(out_dir, exist_ok=True)
    # the vocabulary is the same for every seed; the seed draws the text
    rng = np.random.default_rng(0)
    syll = ["ka", "lo", "mi", "tre", "su", "an", "or", "ve", "dul", "pra",
            "nek", "is", "zo", "ber", "gu", "ha", "ti", "fen"]
    vocab, seen = [], set()
    while len(vocab) < CORPUS_VOCAB:
        w = "".join(syll[j] for j in rng.integers(0, len(syll), int(rng.integers(1, 5))))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    # each word as written lower-case, capitalized and upper-case
    forms = vocab + [w.capitalize() for w in vocab] + [w.upper() for w in vocab]
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, CORPUS_VOCAB + 1) ** 1.07
    p /= p.sum()
    punct = ["", "", "", "", "", "", ",", ".", ";", "!", "?", "'s", "--"]
    tokens = int(total_mb * (1 << 20) / 8.2 / n_files)
    for f in range(n_files):
        word = rng.choice(CORPUS_VOCAB, tokens, p=p)
        r = rng.random(tokens)
        case = np.where(r < 0.01, 2, np.where(r < 0.13, 1, 0))
        idx = (case * CORPUS_VOCAB + word).tolist()
        pun = rng.integers(0, len(punct), tokens).tolist()
        newline = (rng.random(tokens) < 0.1).tolist()
        text = "".join(forms[i] + punct[j] + ("\n" if nl else " ")
                       for i, j, nl in zip(idx, pun, newline))
        with open(f"{out_dir}/book-{f:03d}.txt", "w", encoding="ascii", newline="\n") as fh:
            fh.write(text.rstrip(" ") + "\n")

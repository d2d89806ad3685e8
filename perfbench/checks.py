"""Output checks, run after the timed passes and outside their timing.

Each function returns (mismatches, notes): the number of outputs that
differ from an independent computation, and a line per difference.
"""
import collections
import glob
import json
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def registry(data_dir, results_dir):
    """Every query's first output against DuckDB: the query's oracle SQL
    over the same parquet, compared as an order-insensitive multiset of
    rows (columns sorted by name, cells compared as text). A query with
    no oracle must return rows."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    names = sorted(d for d in os.listdir(results_dir)
                   if os.path.isdir(os.path.join(results_dir, d)))
    bad, notes = 0, []
    for name in names:
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            bad += 1
            notes.append(f"{name}: no output")
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')").fetchdf()
        if name not in oracle:
            if len(got) == 0:
                bad += 1
                notes.append(f"{name}: empty output")
            continue
        want = con.execute(oracle[name]).fetchdf()
        why = _differ(got, want)
        if why:
            bad += 1
            notes.append(f"{name}: {why}")
    return bad, notes


def _differ(got, want):
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    cols = sorted(got.columns)
    g = sorted(map(tuple, got[cols].astype(str).values.tolist()))
    w = sorted(map(tuple, want[cols].astype(str).values.tolist()))
    if g != w:
        first = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
        return f"row {first}: spark={g[first]} duck={w[first]}"
    return None


_STRIP = re.compile(r"[^a-zA-Z0-9\s]+")


def ngram_counts(corpus_dir, n):
    """Single-threaded n-gram count of each file as one document: strip
    non-alphanumerics, lowercase, split on whitespace."""
    counts = collections.Counter()
    for path in sorted(glob.glob(os.path.join(corpus_dir, "*"))):
        with open(path, encoding="ascii") as f:
            toks = _STRIP.sub("", f.read()).lower().split()
        counts.update(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))
    return counts


def ngram(corpus_dir, out_dir, n):
    """WordCount's TSV parts against an independent count, as an exact
    multiset; the parts, concatenated in order, must be globally sorted.
    Returns (mismatches, notes, facts)."""
    want = ngram_counts(corpus_dir, n)
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    got, keys, rows_per_part, notes = {}, [], [], []
    dupes = 0
    for p in parts:
        rows = 0
        with open(p, encoding="utf-8") as f:
            for line in f:
                k, _, v = line.rstrip("\n").rpartition("\t")
                if k in got:
                    dupes += 1
                got[k] = int(v)
                keys.append(k)
                rows += 1
        rows_per_part.append(rows)
    bad = 0
    if dupes:
        bad += 1
        notes.append(f"{dupes} n-grams appear more than once")
    if got != dict(want):
        bad += 1
        missing = len(set(want) - set(got))
        extra = len(set(got) - set(want))
        notes.append(f"counts differ: {missing} missing, {extra} extra")
    if any(a > b for a, b in zip(keys, keys[1:])):
        bad += 1
        notes.append("parts are not globally sorted")
    mean = sum(rows_per_part) / max(1, len(rows_per_part))
    facts = {
        "ngrams_emitted": sum(want.values()),
        "distinct_ngrams": len(want),
        "parts": len(parts),
        "placement_skew": max(rows_per_part) / mean if mean else 0.0,
        "output_bytes": sum(os.path.getsize(p) for p in parts),
    }
    return bad, notes, facts

"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical tables, and `content_hash` fingerprints them so two
runs can show it. The program under test only ever sees these files.

Shapes follow the repository's testdata so the library's oracle
SQL applies unchanged: `documents` keeps its columns, types and value
domains (30-word vocabulary, 10..100-word documents, `src{doc_id % 20}`
sources, the language mix), and the streamed events keep the columns
and the measured shape of sf0.1's `events` (1,500 users drawn
uniformly, 100,000 events over 30 days, five uniform event types,
exponential values of mean 50 on a cent grid).
"""
import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
T0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC

# Tables every DuckDB oracle session declares; the ones a workload does
# not read are written empty with the testdata schema.
EMPTY_SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])


def rng_for(seed, stream):
    """Independent generator per (seed, purpose) so adding one input never
    shifts another's draws."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def top_key_share(keys, top=0.01):
    _, counts = np.unique(keys, return_counts=True)
    counts = np.sort(counts)[::-1]
    k = max(1, int(len(counts) * top))
    return float(counts[:k].sum() / counts.sum())


class Hasher:
    """Content hash over the generated tables (column buffers, in order)."""

    def __init__(self):
        self.h = hashlib.sha256()

    def table(self, name, t):
        self.h.update(name.encode())
        for col in t.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        self.h.update(buf)

    def hexdigest(self):
        return self.h.hexdigest()[:16]


def write(t, path):
    pq.write_table(t, path, compression="snappy")


# --------------------------------------------------------------------------
# window_stream: sf0.1-shaped events staged by the library's w15 protocol
# --------------------------------------------------------------------------

def window_stream(out, seed, n_files, rows_per_file, n_keys, mean_gap_s,
                  bump_mod, drop_mod):
    """`n_files` files of events shaped like the testdata's sf0.1
    `events` (`n_keys` uniform user ids, Poisson arrivals `mean_gap_s`
    apart, five uniform event types, exponential values of mean 50 on a
    cent grid), staged the way the library's w15 oracle row stages them:
    file = event_id // rows_per_file (event-time order), plus one file for
    event_id % bump_mod == 0 (stragglers the two-value watermark still
    accepts) and plus three files for event_id % drop_mod == 0
    (stragglers beyond the allowed lateness). Rows staged past the last
    file never arrive."""
    os.makedirs(out, exist_ok=True)
    rng = rng_for(seed, "window_stream")
    hasher = Hasher()
    n = n_files * rows_per_file
    eid = np.arange(n, dtype=np.int64)
    gaps = rng.exponential(mean_gap_s * 1e6, n)
    ts = T0_US + np.floor(np.cumsum(gaps)).astype(np.int64)
    users = rng.integers(0, n_keys, n).astype(np.int64)
    etype = np.array(EVENT_TYPES)[rng.integers(0, 5, n)]
    value = np.round(rng.exponential(50.0, n), 2)
    bump = (eid % bump_mod == 0).astype(np.int64)
    drop = 3 * (eid % drop_mod == 0).astype(np.int64)
    b = eid // rows_per_file + bump + drop
    for k in range(n_files):
        m = b == k
        t = pa.table({
            "event_id": pa.array(eid[m]),
            "ts": pa.array(ts[m], type=pa.timestamp("us")),
            "user_id": pa.array(users[m]),
            "event_type": pa.array(etype[m]),
            "value": pa.array(value[m]),
        })
        hasher.table(f"b{k}", t)
        write(t, os.path.join(out, f"b{k:04d}.parquet"))
    arrived = b < n_files
    ks = users[arrived]
    return {
        "files": n_files, "rows_per_file": rows_per_file,
        "rows": int(arrived.sum()), "keys": n_keys,
        "distinct_keys": int(len(np.unique(ks))), "key_draw": "uniform",
        "top1pct_key_share": round(top_key_share(ks), 4),
        "mean_gap_s": mean_gap_s,
        "file_span_s": round(float(mean_gap_s * rows_per_file), 1),
        "late_by_one_file_share": round(float(((bump > 0) & (drop == 0))[arrived].mean()), 4),
        "late_by_three_files_share": round(float((drop > 0)[arrived].mean()), 4),
        "content_hash": hasher.hexdigest(),
    }


# --------------------------------------------------------------------------
# index_state: the reference's value and hash-table benchmark key streams
# --------------------------------------------------------------------------

def index_state(out, flush_dir, seed, n_files, rows_per_file, n_items):
    """One operation per row on one grouping key (one state store, like
    the reference's single table instance). Map keys are drawn over
    `n_items` item keys, alternating per file between the reference's
    two draws: uniform, and "hot" (each drawn pair pushed twice:
    a, b, a, b). `flush_dir` holds the key's marker row (item = -1): the
    operator emits its final state when it sees the marker."""
    os.makedirs(out, exist_ok=True)
    os.makedirs(flush_dir, exist_ok=True)
    rng = rng_for(seed, "index_state")
    hasher = Hasher()
    assert rows_per_file % 4 == 0
    items_all = []
    for b in range(n_files):
        if b % 2 == 0:
            items = rng.integers(0, n_items, rows_per_file)
        else:
            q = rows_per_file // 4
            a = rng.integers(0, n_items, q)
            c = rng.integers(0, n_items, q)
            items = np.stack([a, c, a, c], axis=1).reshape(-1)
        items_all.append(items)
        t = pa.table({"key": pa.array(np.zeros(rows_per_file, dtype=np.int64)),
                      "item": pa.array(items.astype(np.int64))})
        hasher.table(f"b{b}", t)
        write(t, os.path.join(out, f"b{b:04d}.parquet"))
    flush = pa.table({"key": pa.array(np.zeros(1, dtype=np.int64)),
                      "item": pa.array(np.full(1, -1, dtype=np.int64))})
    hasher.table("flush", flush)
    write(flush, os.path.join(flush_dir, "flush.parquet"))
    its = np.concatenate(items_all)
    return {
        "files": n_files, "rows_per_file": rows_per_file,
        "rows": n_files * rows_per_file, "grouping_keys": 1,
        "item_keys": n_items, "distinct_items": int(len(np.unique(its))),
        "pattern": "files alternate uniform / hot pairs (a,b,a,b)",
        "content_hash": hasher.hexdigest(),
    }


# --------------------------------------------------------------------------
# testdata-shaped tables for the oracle-checked query rows
# --------------------------------------------------------------------------

def documents_table(rng, n, near_dup_share):
    """`documents` in the testdata's shape. A `near_dup_share` of docs are
    near-copies of an earlier doc (a few words swapped, a `dup` token
    appended), so LSH blocking sees real near-duplicate clusters while
    the rest stay pairwise dissimilar."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = []
    dup = rng.random(n) < near_dup_share
    dup[0] = False
    for i in range(n):
        if dup[i]:
            src = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                src[int(rng.integers(0, len(src)))] = words[rng.integers(0, 30)]
            texts.append(" ".join(src + ["dup"]))
        else:
            texts.append(" ".join(words[rng.integers(0, 30, lens[i])]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }, schema=DOCS_SCHEMA), int(dup.sum())


def table_dir(out, seed, docs, near_dup_share):
    """A testdata-shaped table directory: `documents` at the given size,
    every other table empty with its schema (the oracle session declares
    all of them)."""
    os.makedirs(out, exist_ok=True)
    hasher = Hasher()
    t, n_dup = documents_table(rng_for(seed, "documents"), docs, near_dup_share)
    hasher.table("documents", t)
    write(t, os.path.join(out, "documents.parquet"))
    for name, fields in EMPTY_SCHEMAS.items():
        write(pa.schema(fields).empty_table(), os.path.join(out, f"{name}.parquet"))
    return {"docs": docs, "near_dup_share": round(n_dup / docs, 4),
            "mean_words": round(float(np.mean([len(x.split(" ")) for x in t["text"].to_pylist()])), 2),
            "content_hash": hasher.hexdigest()}

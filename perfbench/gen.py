"""Seeded input generator for the benchmark.

Writes the ten parquet tables the engine's query registry reads (the
TPC-H-like star schema plus events, documents and embeddings), with the
same schemas and value domains as the repository's test data, so every
registered query runs on them and the DuckDB oracles apply unchanged.
The same seed always gives byte-identical rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# the test corpus vocabulary: 30 words, plus the "dup" marker that
# near-duplicate documents carry
SMALL_VOCAB = ("join hash row batch scan column customer filter small slow merge order "
               "vector line table data agg value key stream window a spark part group big "
               "sort query fast the").split()
EPOCH_1995_DAYS = 9131  # days from 1970-01-01 to 1995-01-01
DAY_US = 86_400_000_000


def _days_to_ts(days):
    return pa.array(days.astype(np.int64) * DAY_US, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tpch(rng, sf):
    """region .. lineitem plus events at scale factor `sf` (sf 1 = 6M lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(P_ADJ)[rng.integers(0, 8, n_part)], " "),
                        np.array(P_NOUN)[rng.integers(0, 8, n_part)])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names.tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days_to_ts(EPOCH_1995_DAYS + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days_to_ts(EPOCH_1995_DAYS + 1 + rng.integers(0, 2498, n_line))})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + 19723 * DAY_US  # 2024-01-01
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    return t


def _join_tokens(vocab, idx, lengths):
    """One space-joined string per document from flat token indices."""
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    words = pa.array(np.asarray(vocab, dtype=object)[idx])
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")


def documents(rng, n, vocab=SMALL_VOCAB, zipf_s=None, min_len=10, max_len=99,
              dup_share=0.05):
    """Documents with uniform (or Zipf, exponent `zipf_s`) token draws over
    `vocab`. A `dup_share` of them are near-duplicates: an earlier
    document's text plus the token "dup". Returns (table, stats)."""
    lengths = rng.integers(min_len, max_len + 1, n)
    total = int(lengths.sum())
    if zipf_s is None:
        idx = rng.integers(0, len(vocab), total)
    else:
        w = 1.0 / np.arange(1, len(vocab) + 1) ** zipf_s
        idx = np.minimum(np.searchsorted(np.cumsum(w / w.sum()), rng.random(total)),
                         len(vocab) - 1)
    text = _join_tokens(vocab, idx, lengths).to_numpy(zero_copy_only=False).astype(object)
    dup = rng.random(n) < dup_share
    dup[0] = False
    src = (rng.random(n) * np.arange(n)).astype(np.int64)
    for i in np.flatnonzero(dup):
        text[i] = text[src[i]] + " dup"
    text_arr = pa.array(text.tolist(), pa.string())
    n_tokens = int(pc.sum(pc.count_substring(text_arr, " ")).as_py()) + n
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": text_arr,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(s) for s in text], pa.int64())})
    stats = {"docs": n, "tokens": n_tokens,
             "distinct_tokens": pc.count_distinct(pc.list_flatten(pc.split_pattern(text_arr, " "))).as_py(),
             "dup_share": float(dup.mean())}
    return table, stats


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))})


def zipf_vocab(n):
    return [f"w{i:x}" for i in range(n)]


def write(tables, out_dir, files=1):
    """Each table as `<name>.parquet`: one file, or with `files` > 1 a
    directory of that many files (tables of 1000 rows or more), so that a
    scan splits into as many tasks."""
    for name, t in tables.items():
        path = f"{out_dir}/{name}.parquet"
        if files == 1 or t.num_rows < 1000:
            pq.write_table(t, path)
            continue
        os.makedirs(path)
        step = -(-t.num_rows // files)
        for i in range(files):
            pq.write_table(t.slice(i * step, step), f"{path}/part-{i:05d}.parquet")
    return {name: t.num_rows for name, t in tables.items()}

"""Seeded generator of the benchmark's input tables.

Writes the ten tables the query catalog reads (TPC-H-style star schema,
`events`, `documents`, `embeddings`) as one Parquet file each, with the
schemas, value ranges and writer settings of the repository's fixture
tables (see FIXTURES.md): SNAPPY, dictionary encoding, statistics, one
row group per table.  Each table is also written as a multi-part dataset
with the file counts of the repository's multi-part bench layout.  The same (seed, scale) always yields byte-identical
tables.  `documents` carries planted near-duplicates (a copy of another
document plus the marker token `dup`) so the dedup operators have work.
"""
import datetime
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.40, 0.15, 0.15, 0.16]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DUP_SHARE = 0.05


def _days(lo, hi):
    epoch = datetime.date(1970, 1, 1)
    return (datetime.date(*lo) - epoch).days, (datetime.date(*hi) - epoch).days


def _day_ts(rng, n, lo, hi):
    a, b = _days(lo, hi)
    days = rng.integers(a, b + 1, n)
    return pa.array(days.astype(np.int64) * 86_400_000_000,
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def documents(rng, n):
    """`n` word-soup documents; DUP_SHARE of them near-copy another one."""
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        src = texts[int(rng.integers(0, n))].split()
        if rng.random() < 0.5:
            src[int(rng.integers(0, len(src)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(src + ["dup"])
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _dim_tables(rng, sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    return {
        "region": lambda: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": lambda: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": lambda: pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": lambda: pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
    }


def _part(rng, n_part):
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    return pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})


def _orders(rng, n_ord, n_cust):
    return pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _day_ts(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})


def _lineitem(rng, n_li, n_ord, n_part, n_supp):
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _day_ts(rng, n_li, (1995, 1, 2), (2001, 11, 4))})


def _events(rng, n_ev, n_users):
    start = _days((2024, 1, 1), (2024, 1, 1))[0] * 86_400_000_000
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    return pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})


def _embeddings(rng, n_emb):
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def table(name, seed, sf, n_doc=None):
    """One table at scale `sf` (0.1 gives 600k lineitem rows). Each table
    draws from its own stream of the seed, so any subset is consistent."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    make = dict(_dim_tables(rng, sf))
    make.update({
        "part": lambda: _part(rng, n_part),
        "orders": lambda: _orders(rng, n_ord, n_cust),
        "lineitem": lambda: _lineitem(rng, int(6_000_000 * sf), n_ord,
                                      n_part, n_supp),
        "events": lambda: _events(rng, int(1_000_000 * sf),
                                  max(10, int(15_000 * sf))),
        "documents": lambda: documents(
            rng, n_doc if n_doc else int(50_000 * sf)),
        "embeddings": lambda: _embeddings(rng, int(20_000 * sf)),
    })
    return make[name]()


def parts_for(nbytes):
    """File count of the multi-part layout: about 1 MiB per file, at least
    2 and at most 32 (graft.sources.MultipartFixture.partsFor)."""
    return max(2, min(32, math.ceil(nbytes / (1024 * 1024))))


def write(seed, sf, out_dir, mirror_dir, names=TABLES, n_doc=None):
    """Writes the named tables as one file each, `<out_dir>/<table>.parquet`,
    and as a multi-part dataset, `<mirror_dir>/<table>.parquet/part-*`."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        tbl = table(name, seed, sf, n_doc)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy",
                       row_group_size=1 << 30)
        parts = parts_for(os.path.getsize(path))
        step = -(-tbl.num_rows // parts)
        part_dir = os.path.join(mirror_dir, f"{name}.parquet")
        os.makedirs(part_dir, exist_ok=True)
        for i in range(parts):
            pq.write_table(tbl.slice(i * step, step),
                           os.path.join(part_dir, f"part-{i:05d}.parquet"),
                           compression="snappy")

"""Seeded inputs for the benchmark workloads.

Everything here derives from the ``--seed`` argument alone, and each
generated directory is cached under the work dir by (kind, seed, version),
so a re-run with the same seed reuses identical bytes.

- ``star_tables``: the seven TPC-H tables of the fixture (``STAR_TABLES``)
  at about the 0.01 scale factor, with the fixture's column types and
  value domains, so the headline catalog builders and their DuckDB
  oracles run on them unchanged.
- ``zipf_corpus``: a seeded eighth of the Zipf corpus that
  ``tools/gen_zipf_corpus.py`` generates, built with its own helpers.
- ``query_keys`` / ``QUERY_TERMS`` / ``tick_posts``: the ETL cadence, 2
  keys x 2 terms of API queries per tick; see ``posts.py`` for the posts
  each query returns.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import posts

STAR_VERSION = 2
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
CORPUS_SHARE = 0.125

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
_ITEMS = ["widget", "bolt", "ring", "gear", "valve", "spring"]

SUBREDDITS = [
    "college", "gradschool", "university", "highschool", "phd",
    "studentloans", "communitycollege", "apstudents", "csmajors",
    "engineeringstudents", "premed", "lawschool",
]
# 2 keys x 2 terms, not the reference's 4 x 7: the tick cost grows with
# the query matrix, and a run with 4 x 7 ticks takes about 110 s against
# the minute a run has (see README.md)
QUERY_TERMS = ["dropout", "quit school"]
KEYS_PER_TICK = 2


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark(path: str) -> str:
    open(os.path.join(path, "_DONE"), "w").close()
    return path


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D")
    b = np.datetime64(hi, "D")
    return a + rng.integers(0, int((b - a).astype(int)) + 1, n).astype("timedelta64[D]")


def star_tables(work: str, seed: int, scale: float = 1.0) -> str:
    """Write the seven TPC-H tables for ``seed``; returns their dir.
    ``scale`` 1.0 is about the 0.01 scale factor."""
    out = os.path.join(work, "inputs", f"star-s{seed}-x{scale:g}-v{STAR_VERSION}")
    if _done(out):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(_REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
    })
    n_cust, n_supp, n_part, n_ord = (max(20, int(n * scale)) for n in (1500, 100, 2000, 15000))
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1), i64),
        "c_name": pa.array([f"Customer#{i}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), i64),
        "s_name": pa.array([f"Supplier#{i}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2), f64),
    })
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1), i64),
        "p_name": pa.array([f"{c} {t}" for c, t in zip(rng.choice(_COLORS, n_part), rng.choice(_ITEMS, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2), f64),
    })

    orderdate = _days(rng, n_ord, "1995-01-01", "2001-08-01")
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(1, n_ord + 1), i64),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": pa.array(orderdate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })

    lines = rng.integers(0, 8, n_ord)  # 0..7 lines: some orders have none
    l_order = np.repeat(np.arange(1, n_ord + 1), lines)
    n_li = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines if k])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), i64),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), i64),
        "l_linenumber": pa.array(l_linenumber, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(
            (orderdate[l_order - 1] + rng.integers(1, 122, n_li).astype("timedelta64[D]")).astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
    })

    return _mark(out)


def zipf_corpus(work: str, seed: int, share: float = CORPUS_SHARE) -> str:
    """A seeded ``share`` of the Zipf documents and embeddings, generated
    by ``tools/gen_zipf_corpus.py``'s helpers from ``seed``."""
    from tools import gen_zipf_corpus as gen

    out = os.path.join(work, "inputs", f"zipf-s{seed}-x{share:g}-v{gen.CORPUS_VERSION}")
    if _done(out):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    docs, _ = gen._gen_documents(rng)
    vecs, labels, _ = gen._gen_embeddings(rng)

    keep = np.flatnonzero(rng.random(len(docs["doc_id"])) < share)
    _write(out, "documents", {
        "doc_id": pa.array(docs["doc_id"][keep], pa.int64()),
        "text": pa.array([docs["text"][i] for i in keep], pa.string()),
        "lang": pa.array([docs["lang"][i] for i in keep], pa.string()),
        "source": pa.array([docs["source"][i] for i in keep], pa.string()),
        "n_chars": pa.array(docs["n_chars"][keep], pa.int64()),
    })
    keep = np.flatnonzero(rng.random(len(vecs)) < share)
    _write(out, "embeddings", {
        "vec_id": pa.array(keep, pa.int64()),
        "embedding": pa.array(list(vecs[keep]), pa.list_(pa.float32())),
        "label": pa.array(labels[keep], pa.int32()),
    })
    return _mark(out)


def query_keys(seed: int, tick: int, rotating: bool = False) -> list[str]:
    """The keys (subreddits) queried at ``tick``. The reference re-ran one
    fixed query matrix, so by default every tick queries the same
    ``KEYS_PER_TICK`` keys. With ``rotating`` the key window moves on by
    half its width each tick, so half the keys are new and half are
    queried again. The seed picks where the subreddit names start."""
    step = KEYS_PER_TICK // 2 if rotating else 0
    return [
        f"{SUBREDDITS[(seed + i) % len(SUBREDDITS)]}_{i}"
        for i in range(tick * step, tick * step + KEYS_PER_TICK)
    ]


def tick_posts(seed: int, tick: int, rotating: bool = False) -> list[dict]:
    """The distinct posts the API serves at ``tick``, in id order."""
    by_id = {
        p["id"]: p
        for key in query_keys(seed, tick, rotating)
        for term in QUERY_TERMS
        for p in posts.posts_for(seed, key, term, 1000, tick)
    }
    return [by_id[i] for i in sorted(by_id)]


RAW_POSTS_ARROW = pa.schema([
    ("id", pa.string()),
    ("content", pa.string()),
    ("date", pa.timestamp("us", tz="UTC")),
    ("url", pa.string()),
    ("subreddit", pa.string()),
])


def write_posts_file(rows: list[dict], directory: str) -> int:
    """Land one tick's posts as a single parquet file for the stream;
    returns the posts' in-memory size in bytes."""
    table = pa.Table.from_pylist(rows, schema=RAW_POSTS_ARROW)
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "part-0.parquet"))
    return table.nbytes

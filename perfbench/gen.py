"""Seeded input generation for the lakeflow benchmark.

Two tiers:

* ``write_base`` writes TPC-H-shaped source tables (``customer``,
  ``part``, ``orders``, ``lineitem``) and ``documents`` from a FIXED
  base seed, with the schemas and value formats of the repository's
  testdata, at sf0.01 row counts.
  They are the same on every run, so every workload does the same work
  whatever ``--seed`` is; the oracle SQL reads them too.
* The per-seed functions decide what the program sees: row order and
  file split of the landing tables, the per-copy perturbation of the 4x
  near-duplicate corpus, and the index/arrival split and arrival order
  of the standing-ingest stream.

Everything here is numpy + pyarrow, so the tests run without Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# sf0.01 row counts: a tenth of the repository's sf0.1 testdata
N_CUSTOMER = 1_500
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_DOCS = 5_000

VOCAB = (
    "a the spark stream batch table column row key value data query join "
    "agg group filter sort scan hash merge window order line part customer "
    "vector big small fast slow"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "red", "small", "shiny", "cold"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_DAY_US = 86_400 * 1_000_000


def _dates(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def base_tables(names: tuple[str, ...]) -> dict[str, pa.Table]:
    """The named source tables, identical on every call: the four
    TPC-H-shaped ones at ``SCALE`` of sf0.1's row counts and
    ``documents`` with ``N_DOCS`` rows. Each table draws from its own
    seeded stream, so asking for fewer tables changes none of them."""
    return {name: _BUILDERS[name](np.random.default_rng(_STREAMS[name])) for name in names}


def _customer(rng: np.random.Generator) -> pa.Table:
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    return pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
    })


def _part(rng: np.random.Generator) -> pa.Table:
    pk = np.arange(N_PART, dtype=np.int64)
    return pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })


def _orders(rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINEITEM
    return pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _dates(rng, n, "1995-01-02", "2001-12-31"),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    lengths = rng.integers(8, 101, N_DOCS)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), n)]) for n in lengths]
    langs, probs = zip(*LANGS)
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), N_DOCS, p=probs)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


_BUILDERS = {
    "customer": _customer,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "documents": _documents,
}
_STREAMS = {
    "documents": BASE_SEED + 1,
    "customer": BASE_SEED + 2,
    "part": BASE_SEED + 3,
    "orders": BASE_SEED + 4,
    "lineitem": BASE_SEED + 5,
}


def write_base(root: str, tables: dict[str, pa.Table]) -> str:
    """Write tables as ``<root>/<name>.parquet`` (the layout
    ``session.load`` and the oracle SQL read) and return ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
    return root


def write_shuffled(table: pa.Table, out_dir: str, seed: int) -> list[str]:
    """Write ``table`` in a seeded row order, split at seeded points into
    2 to 5 parquet files. The same seed gives byte-identical files; any
    seed gives the same row multiset."""
    rng = np.random.default_rng(seed)
    n = table.num_rows
    order = rng.permutation(n)
    n_files = int(rng.integers(2, 6))
    cuts = np.sort(rng.choice(np.arange(1, n), n_files - 1, replace=False))
    bounds = [0, *[int(c) for c in cuts], n]
    shuffled = table.take(pa.array(order))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(shuffled.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths


def near_dup_corpus(docs: pa.Table, seed: int, copies: int = 4) -> pa.Table:
    """``copies`` copies of ``docs`` with fresh ids drawn from a seeded
    permutation. Copy 0 is verbatim; every later copy of a document has
    one or two words replaced by seeded vocabulary words (documents under
    12 words stay verbatim, so exact dedup has work too)."""
    rng = np.random.default_rng(seed)
    n = docs.num_rows
    ids = rng.permutation(n * copies).astype(np.int64)
    texts = docs.column("text").to_pylist()
    out_text = list(texts)
    for _ in range(1, copies):
        for t in texts:
            words = len(t.split(" "))
            out_text.append(_replace_words(t, rng, int(rng.integers(1, 3))) if words >= 12 else t)
    return pa.table({
        "doc_id": ids,
        "text": out_text,
        "lang": pa.concat_arrays([docs.column("lang").combine_chunks()] * copies),
        "source": pa.concat_arrays([docs.column("source").combine_chunks()] * copies),
        "n_chars": np.array([len(t) for t in out_text], dtype=np.int64),
    })


def _replace_words(text: str, rng: np.random.Generator, k: int) -> str:
    """``text`` with ``k`` words at seeded positions replaced by seeded
    vocabulary words."""
    w = text.split(" ")
    for pos in rng.choice(len(w), k, replace=False):
        w[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(w)


def _near_copies(docs: pa.Table, rows: np.ndarray, first_id: int,
                 rng: np.random.Generator) -> pa.Table:
    """Copies of ``docs[rows]`` with one word replaced each and fresh
    ids from ``first_id`` on."""
    src = docs.take(pa.array(rows))
    texts = [_replace_words(t, rng, 1) for t in src.column("text").to_pylist()]
    ids = np.arange(first_id, first_id + len(texts), dtype=np.int64)
    for name, values in (("doc_id", ids), ("text", texts),
                         ("n_chars", np.array([len(t) for t in texts], dtype=np.int64))):
        src = src.set_column(src.schema.get_field_index(name), name, pa.array(values))
    return src


def ingest_split(
    docs: pa.Table, seed: int, n_batches: int, batch_rows: int
) -> tuple[pa.Table, list[pa.Table]]:
    """Split ``docs`` into a seeded half to index up front and
    ``n_batches`` arrival batches of ``batch_rows`` documents each, in a
    seeded order. A batch is four fifths new documents from the other
    half; the rest are near copies (one word replaced, fresh ids above
    every id of ``docs``), half of indexed documents and half of new
    documents of the same batch, so the ingest drops near-duplicates
    against the index and within the batch."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(docs.num_rows)
    half = docs.num_rows // 2
    n_copies = batch_rows // 5
    n_fresh = batch_rows - n_copies
    if n_batches * n_fresh > docs.num_rows - half:
        raise ValueError("arrival batches exceed the unindexed half")
    indexed, arrivals = np.sort(perm[:half]), perm[half:]
    next_id = docs.num_rows
    batches = []
    for i in range(n_batches):
        fresh = arrivals[i * n_fresh:(i + 1) * n_fresh]
        of_index = rng.choice(indexed, n_copies // 2, replace=False)
        of_batch = rng.choice(fresh, n_copies - n_copies // 2, replace=False)
        batch = pa.concat_tables([
            docs.take(pa.array(fresh)),
            _near_copies(docs, np.concatenate([of_index, of_batch]), next_id, rng),
        ])
        next_id += n_copies
        batches.append(batch.take(pa.array(rng.permutation(batch_rows))))
    return docs.take(pa.array(indexed)), batches

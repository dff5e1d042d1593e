"""Output checks, run outside the timed region.

Oracle-backed outputs are compared with their DuckDB ``oracle_sql()``
twin the way ``tools/check_oracle.py`` compares them (sorted column
names, row count, order-insensitive exact values), but as a multiset
difference inside DuckDB, so a 2M-row result never passes through
pandas.

The MinHash outputs have no SQL twin. They are recomputed here from the
documented semantics of the operators (crc32 word shingles mixed by the
2-universal family seeded with 1, bands of four signature values,
round(matches / 64, 6) against the threshold, star pairs to the min id
in a band bucket over the cap), in plain Python and numpy, and compared
with the program's output: the batch survivors as a digest (row count
plus an order-insensitive hash, observed on the sink's own job), the
ingest survivors and index rows row by row.
"""

from __future__ import annotations

import re
import zlib
from collections import defaultdict

import duckdb
import numpy as np

NUM_HASHES = 64
BANDS = 16
ROWS_PER_BAND = NUM_HASHES // BANDS
SIGNATURE_SEED = 1
MAX_BUCKET_SIZE = 64  # the cap the benchmark passes to both MinHash calls
_WS = re.compile(r"\s+")


def oracle_diff(actual_files: list[str], oracle_sql: str, views: dict[str, str]) -> str | None:
    """Compare parquet ``actual_files`` with ``oracle_sql`` evaluated over
    ``views`` (name -> parquet path or glob). Returns None when they
    match, else a one-line reason."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        con.execute(f"CREATE TEMP TABLE expected AS {oracle_sql}")
        files = ", ".join(f"'{f}'" for f in actual_files)
        con.execute(f"CREATE TEMP TABLE actual AS SELECT * FROM read_parquet([{files}])")
        cols_e = sorted(r[0] for r in con.execute("DESCRIBE expected").fetchall())
        cols_a = sorted(r[0] for r in con.execute("DESCRIBE actual").fetchall())
        if cols_e != cols_a:
            return f"columns {cols_a} != oracle {cols_e}"
        n_e = con.execute("SELECT count(*) FROM expected").fetchone()[0]
        n_a = con.execute("SELECT count(*) FROM actual").fetchone()[0]
        if n_e != n_a:
            return f"{n_a} rows != oracle {n_e}"
        # both sides cast to text, column by column, like check_oracle's
        # exact string comparison (doubles in shortest round-trip form)
        sel = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols_e)
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM actual EXCEPT ALL SELECT {sel} FROM expected)"
        ).fetchone()[0]
        if extra:
            return f"{extra} of {n_a} rows differ from the oracle"
        return None
    finally:
        con.close()


def spark_digest(df) -> list:
    """[row count, sum of per-row xxhash64] — order-insensitive; the sum
    is exact (decimal), so it cannot wrap."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [int(row["n"]), str(row["h"])]


# ---------------------------------------------------------------- MinHash


def signatures(texts: list[str], shingle_n: int) -> list[np.ndarray | None]:
    """MinHash signature per text: distinct word ``shingle_n``-grams,
    crc32 each, then min over shingles of a*x + b (mod 2^64), read as
    int64. None when a text has no shingle."""
    rng = np.random.default_rng(SIGNATURE_SEED)
    a = (rng.integers(1, 2**62, size=NUM_HASHES, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=NUM_HASHES, dtype=np.uint64)
    out: list[np.ndarray | None] = []
    for text in texts:
        toks = _WS.split(text.strip()) if text and text.strip() else []
        shingles = {" ".join(toks[i:i + shingle_n]) for i in range(len(toks) - shingle_n + 1)}
        if not shingles:
            out.append(None)
            continue
        x = np.array([zlib.crc32(sh.encode()) for sh in shingles], dtype=np.uint64)
        mixed = np.multiply(a[:, None], x[None, :])
        np.add(mixed, b[:, None], out=mixed)
        out.append(mixed.min(axis=1).astype(np.int64))
    return out


def _bands(sig: np.ndarray):
    for band in range(BANDS):
        yield band, tuple(sig[band * ROWS_PER_BAND:(band + 1) * ROWS_PER_BAND].tolist())


def _similar(x: np.ndarray, y: np.ndarray, threshold: float) -> bool:
    # matches / 64 has at most six decimals, so rounding to six is exact
    return int(np.count_nonzero(x == y)) / NUM_HASHES >= threshold


def lsh_dedup_survivors(ids: list[int], texts: list[str],
                        max_bucket_size: int = MAX_BUCKET_SIZE) -> list[int]:
    """Ids kept by ``exact_dedup`` on text (min id per text) followed by
    ``minhash_lsh_dedup(transitive=True)`` at its defaults (3-word
    shingles, threshold 0.7): one survivor, the min id, per connected
    component of the candidate-pair graph."""
    first: dict[str, int] = {}
    for i, t in sorted(zip(ids, texts)):
        first.setdefault(t, i)
    kept = sorted(first.values())
    text_of = {i: t for t, i in first.items()}
    sigs = dict(zip(kept, signatures([text_of[i] for i in kept], 3)))
    buckets = defaultdict(list)
    for i in kept:
        if sigs[i] is not None:
            for key in _bands(sigs[i]):
                buckets[key].append(i)
    root = {i: i for i in kept}

    def find(i: int) -> int:
        while root[i] != i:
            root[i] = root[root[i]]
            i = root[i]
        return i

    def union(i: int, j: int) -> None:
        ri, rj = find(i), find(j)
        if ri != rj:
            root[max(ri, rj)] = min(ri, rj)

    for members in buckets.values():
        if len(members) > max_bucket_size:
            for m in members[1:]:
                union(members[0], m)
            continue
        for x, i in enumerate(members):
            for j in members[x + 1:]:
                if _similar(sigs[i], sigs[j], 0.7):
                    union(i, j)
    return [i for i in kept if find(i) == i]


def incremental_dedup(index_docs: tuple[list[int], list[str]],
                      batches: list[tuple[list[int], list[str]]]):
    """``minhash_build_index`` over ``index_docs``, then one
    ``minhash_incremental_dedup(append=True)`` per batch in order, at
    their defaults (5-word shingles, threshold 0.8): a new
    document is dropped when it lands in an index bucket over the cap,
    matches an indexed document in a shared bucket, is a non-min member
    of a batch bucket over the cap, or matches a lower id of its own
    batch in a shared bucket. Returns (survivor ids, index rows as
    (doc_id, band, signature))."""
    index = defaultdict(list)
    rows = []

    def add(ids, sigs):
        for i, sig in zip(ids, sigs):
            if sig is None:
                continue
            for band, key in _bands(sig):
                index[band, key].append(sig)
                rows.append((i, band, sig.tolist()))

    add(index_docs[0], signatures(index_docs[1], 5))
    survivors = []
    for ids, texts in batches:
        sigs = dict(zip(ids, signatures(texts, 5)))
        losers = set()
        in_batch = defaultdict(list)
        for i in sorted(ids):
            if sigs[i] is None:
                continue
            for key in _bands(sigs[i]):
                indexed = index.get(key, [])
                if len(indexed) > MAX_BUCKET_SIZE or any(
                    _similar(sigs[i], s, 0.8) for s in indexed
                ):
                    losers.add(i)
                in_batch[key].append(i)
        for members in in_batch.values():
            if len(members) > MAX_BUCKET_SIZE:
                losers.update(members[1:])
                continue
            for x, i in enumerate(members):
                if any(_similar(sigs[j], sigs[i], 0.8) for j in members[:x]):
                    losers.add(i)
        kept = [i for i in ids if i not in losers]
        survivors += kept
        add(kept, [sigs[i] for i in kept])
    return sorted(survivors), rows

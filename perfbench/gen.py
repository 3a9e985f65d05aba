"""Seeded input generator for the benchmark.

Two input directories per seed, written once and reused by every later
run with that seed:

- ``sf0.1``: the ten tables the engine reads (``piper_spark.session.
  TABLE_NAMES``) in the shape of the sf0.1 test tables: 600,000
  lineitem, 150,000 orders, 5,000 documents (5% near duplicates that
  append `` dup`` to another document, 0.2% exact copies) and 2,000
  unit-norm 64-dim embeddings.
- ``x10``: the ``sf0.1`` tables with ``documents`` and ``embeddings``
  replaced by a 10x corpus in the shape of ``scripts/gen_scale_docs.py``
  (vocabulary scaled by 10) and ``scripts/gen_scale_vecs.py``: 50,000
  documents where every 20-block plants a root, an exact copy
  (``doc_id % 20 == 7``) and a near copy (``doc_id % 20 == 13``), and
  20,000 vectors where ``vec_id % 50 == 13`` twins ``vec_id - 6``.
  Every value derives from a 64-bit hash of (seed, row id, position),
  so the corpus is a pure function of the seed.

Generation runs in numpy/pyarrow only: the engine receives nothing but
the finished parquet files.

Usage: python3 perfbench/gen.py OUT_DIR SEED
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
           "orders": 150_000, "lineitem": 600_000, "events": 100_000,
           "documents": 5_000, "embeddings": 2_000}
X10_DOCS, X10_VECS, X10_VOCAB_SCALE = 50_000, 20_000, 10
DIMS = 64

DOC_VOCAB = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
# scripts/gen_scale_docs.py's vocabulary, so the 10x corpus has its shape.
SCALE_VOCAB = (
    "spark sort hash join scan agg group filter batch line column order "
    "small fast slow value part merge shuffle read write cache disk page "
    "index key row table query plan stage task core node rack wide deep "
    "cold warm dense sparse left right inner outer"
).split()
SCALE_LANGS = ["en", "de", "fr", "es", "pt"]
SCALE_SOURCES = ["web", "books", "code", "wiki"]

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def mix64(*parts) -> np.ndarray:
    """splitmix64 fold of integer arrays/scalars into uint64 hashes."""
    h = np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        for p in parts:
            h = h ^ np.asarray(p).astype(np.uint64)
            h = h + np.uint64(0x9E3779B97F4A7C15)
            h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            h = h ^ (h >> np.uint64(31))
    return h


def _write(out: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    us = (np.datetime64(start, "D") + rng.integers(0, span + 1, n)).astype("datetime64[us]")
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _docs_sf(rng, n: int) -> dict[str, pa.Array]:
    vocab = np.asarray(DOC_VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # 5% near duplicates (another document plus " dup"), 0.2% exact copies.
    near = rng.choice(n, n // 20, replace=False)
    exact = rng.choice(np.setdiff1d(np.arange(n), near), n // 500, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n, [0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _unit_vectors(rng, n: int) -> pa.Array:
    x = rng.standard_normal((n, DIMS))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.FixedSizeListArray.from_arrays(pa.array(x.astype(np.float32).ravel()), DIMS).cast(
        pa.list_(pa.float32())
    )


def write_sf(out: str, seed: int) -> None:
    """The ten sf0.1-shaped tables for `seed`."""
    rng = np.random.default_rng([seed, 1])
    n = SF_ROWS
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                           "r_name": pa.array(regions)})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    adj = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    names = [f"{a} {b}" for a in adj for b in noun]
    pk = np.arange(p, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), o),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    _write(out, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    })
    _write(out, "documents", _docs_sf(rng, n["documents"]))
    v = n["embeddings"]
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(v, dtype=np.int64)),
        "embedding": _unit_vectors(rng, v),
        "label": pa.array(rng.integers(0, 10, v).astype(np.int32)),
    })


def x10_documents(seed: int, n: int = X10_DOCS, vocab_scale: int = X10_VOCAB_SCALE) -> dict:
    """gen_scale_docs-shaped corpus: word salads of 10-49 hashed words,
    each word suffixed with one of `vocab_scale` digits; every 20-block
    plants {root, exact copy at +7, root + "extra tail" at +13}."""
    doc_id = np.arange(n, dtype=np.int64)
    r = doc_id % 20
    root = np.where(r == 7, doc_id - 7, np.where(r == 13, doc_id - 13, doc_id))
    n_words = (mix64(seed, root, 1 << 40) % np.uint64(40)).astype(np.int64) + 10
    pos = np.arange(1, 50, dtype=np.int64)
    word = (mix64(seed, root[:, None], pos[None, :]) % np.uint64(len(SCALE_VOCAB))).astype(np.int64)
    suffix = (mix64(seed, root[:, None], pos[None, :], 7) % np.uint64(vocab_scale)).astype(np.int64)
    vocab = np.asarray(SCALE_VOCAB, dtype=object)
    texts = []
    for i in range(n):
        k = n_words[i]
        t = " ".join(f"{w}{s}" for w, s in zip(vocab[word[i, :k]], suffix[i, :k]))
        texts.append(t + " extra tail" if r[i] == 13 else t)
    lang = (mix64(seed, doc_id, 2) % np.uint64(len(SCALE_LANGS))).astype(np.int64)
    src = (mix64(seed, doc_id, 3) % np.uint64(len(SCALE_SOURCES))).astype(np.int64)
    return {
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(SCALE_LANGS, dtype=object)[lang], pa.string()),
        "source": pa.array(np.asarray(SCALE_SOURCES, dtype=object)[src], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def x10_embeddings(seed: int, n: int = X10_VECS) -> dict:
    """gen_scale_vecs-shaped vectors: hashed components in [-0.5, 0.5);
    vec_id % 50 == 13 copies vec_id - 6 plus per-dim noise of ±0.005."""
    vec_id = np.arange(n, dtype=np.int64)
    dims = np.arange(DIMS, dtype=np.int64)[None, :]

    def comp(ids):
        return (mix64(seed, ids[:, None], dims) % np.uint64(100_000)).astype(np.float64) / 100_000.0 - 0.5

    x = comp(vec_id)
    twin = (vec_id % 50 == 13) & (vec_id >= 6)
    noise = (mix64(seed, vec_id[:, None], dims, 1) % np.uint64(11)).astype(np.float64) / 1000.0 - 0.005
    x[twin] = comp(vec_id[twin] - 6) + noise[twin]
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.astype(np.float32).ravel()), DIMS)
    return {
        "vec_id": pa.array(vec_id),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array((mix64(seed, vec_id, 2) % np.uint64(10)).astype(np.int32)),
    }


def write_x10(out: str, sf_dir: str, seed: int) -> None:
    """The 10x corpus; every other table is linked from `sf_dir`."""
    for name in os.listdir(sf_dir):
        if name not in ("documents.parquet", "embeddings.parquet"):
            src, dst = os.path.join(sf_dir, name), os.path.join(out, name)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copyfile(src, dst)
    _write(out, "documents", x10_documents(seed))
    _write(out, "embeddings", x10_embeddings(seed))


def ensure(root: str, seed: int, name: str) -> str:
    """Build (once) and return input directory `name` ('sf0.1' or
    'x10') for `seed`. A directory is built under a temporary name and
    renamed into place, so a half-written corpus is never reused."""
    final = os.path.join(root, f"seed-{seed}", name)
    if not os.path.isdir(final):
        sf_dir = ensure(root, seed, "sf0.1") if name == "x10" else None
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if name == "x10":
            write_x10(tmp, sf_dir, seed)
        else:
            write_sf(tmp, seed)
        os.rename(tmp, final)
    return final


if __name__ == "__main__":
    for which in ("sf0.1", "x10"):
        print(ensure(sys.argv[1], int(sys.argv[2]), which))

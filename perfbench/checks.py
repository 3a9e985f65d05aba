"""Output checks made outside the engine.

Each key's Spark output is compared with DuckDB running the key's
registered oracle SQL over the same parquet files: columns and row
count first, then every value, order-insensitively and bit-exact (the
comparison ``scripts/check_oracle.py`` makes). Keys without an oracle
are held to a stated property instead.

Expected answers are cached per seed next to its inputs
(``perfbench/.data/seed-N/expected/``). Run alone, this recomputes
them anew for one input directory, without the cache, and prints their
shapes:

    python3 perfbench/checks.py perfbench/.data/seed-1/x10 dedup_minhash
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")

#: Rows-only keys: key -> (exact oracle key it approximates, min recall).
RECALL = {"sim_ann_ivf": ("sim_topk", 0.7)}
#: Keys whose output is (id1, id2) near-duplicate pairs; on a corpus
#: with planted exact copies every planted pair must be among them.
PAIR_KEYS = ("dedup_minhash",)


def duck_connection(input_dir: str) -> duckdb.DuckDBPyConnection:
    """Views over single-file tables and Spark-written directory tables
    (``<table>.parquet/*.parquet``) alike."""
    con = duckdb.connect(config={"threads": str(len(os.sched_getaffinity(0)))})
    for name in TABLE_NAMES:
        path = os.path.join(input_dir, f"{name}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between two results, as ``scripts/check_oracle.py``
    reports them; empty when they are equal."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns: spark={sorted(got.columns)} duck={sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows: spark={len(got)} duck={len(want)}"]
    s, d = _normalize(got), _normalize(want)
    errs = [f"dtype {c}: spark={s[c].dtype} duck={d[c].dtype}"
            for c in s.columns if s[c].dtype != d[c].dtype]
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(dv.dtype, np.floating):
            sv, dv = sv.astype(np.float64), dv.astype(np.float64)
            eq = (sv == dv) | (np.isnan(sv) & np.isnan(dv))
        else:
            ss, ds = pd.Series(sv).astype(object), pd.Series(dv).astype(object)
            eq = (ss.eq(ds) | (ss.isna() & ds.isna())).to_numpy()
        if not eq.all():
            bad = np.flatnonzero(~eq)[:3]
            errs.append(f"col {c}: {int((~eq).sum())} mismatches, e.g. "
                        f"{[f'{sv[i]!r} vs {dv[i]!r}' for i in bad]}")
    return errs


PLANTED_SQL = (
    "SELECT a.doc_id AS id1, b.doc_id AS id2 FROM documents a JOIN documents b "
    "ON b.doc_id = a.doc_id + 7 AND b.doc_id % 20 = 7 AND a.text = b.text"
)


def expected(con, sql: str, cache_dir: str | None) -> pd.DataFrame:
    """DuckDB's answer to `sql`, kept in `cache_dir` under a hash of the
    SQL: the inputs of a seed never change, so each answer is computed
    once per seed (and anew whenever the oracle SQL changes)."""
    if cache_dir is None:
        return con.execute(sql).df()
    path = os.path.join(cache_dir, hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check(keys: list[str], input_dir: str, outputs: dict[str, pd.DataFrame],
          planted: bool, cache_dir: str | None = None) -> dict[str, list[str]]:
    """{key: errors} for every key in `keys` (empty list = passed). A
    key without an output (its capture raised) is an error: it was not
    checked."""
    from piper_spark import registry

    oracles = registry.all_oracles()
    con = duck_connection(input_dir)
    answer = lambda sql: expected(con, sql, cache_dir)  # noqa: E731
    try:
        result: dict[str, list[str]] = {}
        for key in keys:
            if key not in outputs:
                result[key] = ["no output"]
                continue
            got = outputs[key]
            if key in RECALL:
                exact_key, floor = RECALL[key]
                exact = set(answer(oracles[exact_key])["vec_id"].tolist())
                approx = set(got["vec_id"].tolist())
                recall = len(exact & approx) / max(1, len(exact))
                result[key] = ([] if len(approx) == len(exact) and recall >= floor
                               else [f"recall@{len(exact)} {recall:.2f} < {floor} "
                                     f"or {len(approx)} rows"])
                continue
            errs = compare(got, answer(oracles[key]))
            if planted and key in PAIR_KEYS:
                want = set(answer(PLANTED_SQL).itertuples(index=False, name=None))
                found = set(zip(got["id1"].tolist(), got["id2"].tolist()))
                missing = want - found
                if not want or missing:
                    errs.append(f"planted exact copies: {len(missing)} of {len(want)} missing")
            result[key] = errs
        return result
    finally:
        con.close()


if __name__ == "__main__":
    from piper_spark import registry

    con = duck_connection(sys.argv[1])
    for k in sys.argv[2:]:
        sql = registry.all_oracles()[RECALL.get(k, (k,))[0]]
        df = con.execute(sql).df()
        print(k, len(df), list(df.columns))

"""Oracle digests for the query_mix keys, computed by DuckDB from each
key's `registry.oracle_sql()` text over the benchmark corpus, and cached.

A digest is (rows, sorted column names, order-insensitive value hash),
the canonical form of tests/oracle_check.py, restated here so the
benchmark does not depend on test code. The cache entry of a key is
valid while both its oracle SQL text and the corpus bytes are unchanged;
a stale or missing entry is recomputed on first use and kept in the
run's work directory. Rebuild the committed cache with

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus")
CACHE = os.path.join(HERE, "oracle_digests.json")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def canon(df) -> list:
    """[rows, columns, hash] of a pandas frame, insensitive to row order."""
    import pandas as pd

    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6).map(lambda v: "" if pd.isna(v) else f"{v:.6f}")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f").fillna("")
        else:
            df[c] = s.map(lambda v: "" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    rows = sorted("\x1f".join(r) for r in df.astype(str).itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return [len(df), cols, h]


def corpus_digest(corpus: str = CORPUS) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(corpus, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def entry_key(sql: str, corpus_id: str) -> str:
    return hashlib.sha256(f"{corpus_id}\x00{sql}".encode()).hexdigest()[:16]


def _load(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def duckdb_digests(keys, sqls: dict[str, str], corpus: str = CORPUS) -> dict[str, list]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    try:
        return {k: canon(con.execute(sqls[k]).df()) for k in keys}
    finally:
        con.close()


def expected_digests(keys, sqls: dict[str, str], spill_path: str) -> dict[str, list]:
    """Digest per key: from the committed cache, else from `spill_path`,
    else computed now with DuckDB and stored in `spill_path`."""
    cid = corpus_digest()
    cached = {**_load(CACHE).get("entries", {}), **_load(spill_path).get("entries", {})}
    want = {k: entry_key(sqls[k], cid) for k in keys}
    missing = [k for k in keys if want[k] not in cached]
    if missing:
        fresh = duckdb_digests(missing, sqls)
        spill = _load(spill_path).get("entries", {})
        for k in missing:
            cached[want[k]] = spill[want[k]] = {"key": k, "digest": fresh[k]}
        os.makedirs(os.path.dirname(spill_path), exist_ok=True)
        with open(spill_path, "w") as f:
            json.dump({"entries": spill}, f, indent=1, sort_keys=True)
    return {k: cached[want[k]]["digest"] for k in keys}


def rebuild() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from flinkproj_spark import registry

    from workloads import QUERY_KEYS

    sqls = registry.oracle_sql()
    cid = corpus_digest()
    fresh = duckdb_digests(QUERY_KEYS, sqls)
    entries = {entry_key(sqls[k], cid): {"key": k, "digest": fresh[k]} for k in QUERY_KEYS}
    with open(CACHE, "w") as f:
        json.dump({"corpus": cid, "entries": entries}, f, indent=1, sort_keys=True)
        f.write("\n")
    for k in QUERY_KEYS:
        print(k, fresh[k])


if __name__ == "__main__":
    rebuild()

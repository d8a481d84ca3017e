"""Order-free result digests: DuckDB oracle side and the shared digest.

A digest covers a query's sorted column names, its row count and its rows,
normalized by scripts/driver_check.py:norm (numpy scalars unwrapped,
floats rounded to 6 places and integral floats made ints, rows sorted by
their string form), so Spark and DuckDB results of the same query digest
identically.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_norm():
    """scripts/driver_check.py:norm itself, so the benchmark's digests
    follow the correctness check's normalization if it ever changes."""
    spec = importlib.util.spec_from_file_location(
        "driver_check", os.path.join(ROOT, "scripts", "driver_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


norm = _load_norm()


def digest(cols: list[str], rows: list[tuple]) -> dict:
    body = repr((cols, norm(rows))).encode()
    return {"cols": cols, "rows": len(rows),
            "digest": hashlib.sha256(body).hexdigest()}


def duckdb_digests(data_dir: str, tables: tuple, sqls: dict[str, str]) -> dict:
    """Run each oracle query on DuckDB over ``data_dir`` and digest it."""
    import duckdb

    con = duckdb.connect(config={"threads": "4", "memory_limit": "2GB"})
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in sqls.items():
            df = con.execute(sql).fetch_df()
            cols = sorted(df.columns.tolist())
            out[name] = digest(
                cols, [tuple(r) for r in df[cols].itertuples(index=False)]
            )
        return out
    finally:
        con.close()


def cached_digests(cache_path: str, data_dir: str, tables: tuple,
                   sqls: dict[str, str]) -> dict:
    """Digests for ``sqls``, computed once per dataset checksum (the
    checksum is part of ``cache_path``) and per oracle text."""
    cached: dict = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    sql_hash = {n: hashlib.sha256(s.encode()).hexdigest() for n, s in sqls.items()}
    missing = {n: s for n, s in sqls.items()
               if cached.get(n, {}).get("sql") != sql_hash[n]}
    if missing:
        for name, d in duckdb_digests(data_dir, tables, missing).items():
            cached[name] = dict(d, sql=sql_hash[name])
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cached[n] for n in sqls}

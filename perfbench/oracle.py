#!/usr/bin/env python3
"""Gate results computed apart from the program: each gate's
`Registry.oracleSql` run in DuckDB over the same generated tables, and
the comparison against the program's output.

Results are cached under .bench_build/oracle_cache/, keyed by the SQL
text and the bytes of every input table, beside a small JSON that
records how to remake them (workload, seed, scale, gate, SQL).

  python3 perfbench/oracle.py --rebuild
      drops every cached result and recomputes each one from a freshly
      generated copy of its inputs.
"""
import glob
import hashlib
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_build", "oracle_cache")
# the project's own comparison (scripts/oracle_check.py), so that the
# benchmark and the correctness gate compare results the same way
sys.path.insert(0, os.path.join(ROOT, "scripts"))
from oracle_check import TABLES, cmp_frames  # noqa: E402


def _tables_digest(tables_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{tables_dir}/{t}.parquet", "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _run_sql(sql: str, tables_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def oracle_result(gate: str, sql: str, tables_dir: str, meta: dict,
                  digest: str = None) -> pd.DataFrame:
    digest = digest or _tables_digest(tables_dir)
    key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()
    path = os.path.join(CACHE, key + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = _run_sql(sql, tables_dir)
    os.makedirs(CACHE, exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    with open(os.path.join(CACHE, key + ".json"), "w") as f:
        json.dump(dict(meta, gate=gate, sql=sql), f)
    return df


def check_gates(check_dir: str, tables_dir: str, meta: dict) -> dict:
    """gate -> '' (equal) or a mismatch description."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    digest = _tables_digest(tables_dir)
    out = {}
    for gate, sql in sorted(sqls.items()):
        try:
            files = sorted(glob.glob(os.path.join(check_dir, gate,
                                                  "*.parquet")))
            got = pd.concat([pd.read_parquet(f) for f in files],
                            ignore_index=True)
            want = oracle_result(gate, sql, tables_dir, meta, digest)
            out[gate] = cmp_frames(gate, got, want) or ""
        except Exception as e:  # a missing or unreadable result fails
            out[gate] = f"{type(e).__name__}: {e}"[:300]
    return out


def rebuild() -> None:
    import tempfile
    from gen_inputs import gen_tables
    metas = []
    for m in glob.glob(os.path.join(CACHE, "*.json")):
        with open(m) as f:
            metas.append(json.load(f))
    shutil.rmtree(CACHE, ignore_errors=True)
    by_input = {}
    for m in metas:
        by_input.setdefault((m["seed"], m["sf"]), []).append(m)
    for (seed, sf), ms in sorted(by_input.items()):
        with tempfile.TemporaryDirectory(dir=os.path.join(
                ROOT, ".bench_build")) as tmp:
            gen_tables(seed, sf, tmp)
            for m in ms:
                oracle_result(m["gate"], m["sql"], tmp, m)
    print(f"rebuilt {len(metas)} oracle results")


if __name__ == "__main__":
    if sys.argv[1:] != ["--rebuild"]:
        sys.exit(__doc__)
    rebuild()

#!/usr/bin/env python
"""sf0.1 oracle check for the scale-sensitive gate subset (r12 verdict #2).

Same table views and normalize (imported from check_oracles.py) with
its own value compare (atol=1e-9 on floats), but sequential with
unbuffered per-query progress, a memory/temp-bounded DuckDB connection
(the suffix oracles spill hundreds of GB unbounded), and a per-query
wall-clock report so pathological oracles are identified instead of
silently hanging the whole run. check_one() is importable —
run_sf01_gates.py uses it to build the per-round SF01_rN.json artifact.

Usage: python tools/check_oracles_sf01.py SF_DIR OUT_DIR [query ...]
"""
import json
import sys
import time

import duckdb
import pandas as pd

from check_oracles import TABLES, norm


CACHE_DIR = "/root/.cache/graft_oracle_sf01"


def _cache_key(name: str, sql: str, sf_dir: str) -> str:
    """Oracle-result cache key (r15 verdict #6: q44's oracle alone is
    52 min of DuckDB per sf0.1 recheck, and the fixtures are static
    across rounds): md5 over the oracle SQL + the fixture identity
    (per-table path+size — the driver-generated parquet never changes in
    place, and an edited oracle re-keys automatically)."""
    import hashlib
    import os
    h = hashlib.md5()
    h.update(sql.encode())
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        try:
            h.update(f"{p}:{os.path.getsize(p)}".encode())
        except OSError:
            h.update(f"{p}:absent".encode())
    return f"{name}_{h.hexdigest()}"


def check_one(name: str, sf_dir: str, out_dir: str, oracles=None) -> dict:
    """Compare one Verify parquet against its DuckDB oracle.

    Returns {"status": "ok"|"fail", "rows": int, "oracle_sec": float,
    "detail": str?, "oracle_cached": bool}. A fresh bounded connection
    per query: the suffix oracles spill hundreds of GB on an unbounded
    one. Oracle RESULTS are cached keyed on (sql, fixture identity) —
    the SPARK side is always re-read fresh, so a Spark regression still
    fails against a cached oracle; only the (static-input, deterministic)
    DuckDB recompute is skipped.
    """
    import os
    if oracles is None:
        with open(f"{out_dir}/oracle_sql.json") as f:
            oracles = json.load(f)
    try:
        got = pd.read_parquet(f"{out_dir}/{name}")
    except Exception as e:
        return {"status": "fail", "detail": f"no spark output ({e})"}
    cache_path = os.path.join(CACHE_DIR, _cache_key(name, oracles[name], sf_dir) + ".parquet")
    cached = os.path.exists(cache_path)
    if cached:
        t0 = time.time()
        exp = pd.read_parquet(cache_path)
        oracle_sec = round(time.time() - t0, 1)
    else:
        con = duckdb.connect()  # fresh connection: bounded, isolated spill
        con.execute("SET memory_limit='48GB'")
        con.execute("SET temp_directory='/tmp/duck_sf01_spill'")
        con.execute("SET max_temp_directory_size='60GB'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        t0 = time.time()
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            con.close()
            return {"status": "fail", "oracle_sec": round(time.time() - t0, 1),
                    "detail": f"oracle error: {e}"}
        con.close()
        oracle_sec = round(time.time() - t0, 1)
        try:
            os.makedirs(CACHE_DIR, exist_ok=True)
            exp.to_parquet(cache_path)
        except Exception as e:
            print(f"[oracle-cache] skip write for {name}: {e}", flush=True)
    g, x = norm(got), norm(exp)
    if list(g.columns) != list(x.columns) or len(g) != len(x):
        return {"status": "fail", "oracle_sec": oracle_sec,
                "oracle_cached": cached,
                "detail": f"shape {g.shape} vs {x.shape}"}
    bad = []
    for c in g.columns:
        a, b = g[c], x[c]
        try:
            import numpy as np
            if np.issubdtype(a.dtype, np.floating) or \
               np.issubdtype(b.dtype, np.floating):
                same = np.allclose(a.astype(float), b.astype(float),
                                   rtol=0, atol=1e-9, equal_nan=True)
            else:
                same = a.astype(str).equals(b.astype(str))
        except Exception:
            same = a.astype(str).equals(b.astype(str))
        if not same:
            bad.append(c)
    if bad:
        return {"status": "fail", "oracle_sec": oracle_sec,
                "oracle_cached": cached, "detail": f"value mismatch in {bad}"}
    return {"status": "ok", "rows": int(len(g)), "oracle_sec": oracle_sec,
            "oracle_cached": cached}


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    names = sys.argv[3:] or sorted(oracles)
    n_fail = 0
    import os
    for name in names:
        if not os.path.exists(f"{out_dir}/{name}"):
            continue  # not in this Verify subset
        r = check_one(name, sf_dir, out_dir, oracles)
        if r["status"] == "ok":
            print(f"ok   {name} ({r['rows']} rows, oracle {r['oracle_sec']}s)",
                  flush=True)
        else:
            print(f"FAIL {name}: {r.get('detail')}", flush=True)
            n_fail += 1
    print(f"{'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILED'}", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

"""DuckDB oracle compare of a query dump, as tools/check.py does it.

For every query directory in the dump: when `oracle_sql.json` has SQL
for it, run that SQL in DuckDB over the same parquet tables and compare
column names, row count and a value hash over column-name-sorted rows;
otherwise the query is rows-only and must not be empty.
"""
import glob
import hashlib
import json
import os
import time


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(_norm(r[i]) for i in order) + "\x1e").encode())
    return h.hexdigest()


def check(sf_dir, dump_dir, names, threads):
    """Return ({query: None if it matches, else a one-line reason},
    {query: seconds the check took})."""
    import duckdb
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect(config={"threads": threads})
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    verdict, seconds = {}, {}
    for q in names:
        t0 = time.time()
        verdict[q] = _check_one(con, oracle, dump_dir, q)
        seconds[q] = time.time() - t0
    con.close()
    return verdict, seconds


def _check_one(con, oracle, dump_dir, q):
    qdir = os.path.join(dump_dir, q)
    if not glob.glob(os.path.join(qdir, "*.parquet")):
        return "no dump"
    res = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
    cols = [c[0] for c in res.description]
    rows = res.fetchall()
    if q not in oracle:
        return None if rows else "rows-only query returned no rows"
    try:
        ores = con.execute(oracle[q])
        ocols = [c[0] for c in ores.description]
        orows = ores.fetchall()
    except Exception as e:  # a broken oracle is a failed check
        return f"oracle SQL failed: {e}"
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    if _table_hash(rows, cols) != _table_hash(orows, ocols):
        return "value hash differs from oracle"
    return None

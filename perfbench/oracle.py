"""DuckDB oracle compare for the query workload.

Each query result the harness wrote (one Parquet directory per query) is
compared with its DuckDB oracle from `oracle_sql.json`: same column names,
same row count, and the same hash over the rows with floats rounded to six
places, columns taken in name order. This is the comparison
`tools/check_oracle.py` makes.
"""
import glob
import hashlib
import json
import os

import duckdb


def _norm(v):
    return round(v, 6) if isinstance(v, float) else v


def _table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in rows:
        for i in order:
            h.update(repr(_norm(row[i])).encode())
        h.update(b"\x00")
    return h.hexdigest()


def compare(data_dir, out_dir, names):
    """Return {query: problem} for every query in `names` whose output does
    not match its oracle; an empty dict means all match."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name in names:
        d = os.path.join(out_dir, name)
        if name not in oracles:
            bad[name] = "no oracle"
            continue
        try:
            rel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
            s_cols, s_rows = rel.columns, rel.fetchall()
            rel = con.sql(oracles[name])
            o_cols, o_rows = rel.columns, rel.fetchall()
        except Exception as e:  # a missing output or a failing oracle
            bad[name] = f"error: {e}"
            continue
        if sorted(s_cols) != sorted(o_cols):
            bad[name] = f"columns {sorted(s_cols)} != oracle {sorted(o_cols)}"
        elif len(s_rows) != len(o_rows):
            bad[name] = f"rows {len(s_rows)} != oracle {len(o_rows)}"
        elif _table_hash(s_rows, s_cols) != _table_hash(o_rows, o_cols):
            bad[name] = "values differ from the oracle"
    con.close()
    return bad


def drop_one_row(out_dir, name):
    """Rewrite one query's output without its first row (self-test fault)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(out_dir, name)
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    t = pa.concat_tables([pq.read_table(f) for f in files])
    for f in files:
        os.remove(f)
    pq.write_table(t.slice(1), os.path.join(d, "part-00000.parquet"))

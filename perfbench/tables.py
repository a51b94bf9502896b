"""Seeded generator for the query workload's input tables.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one Parquet file each, in the layout of the
repository's test tables (TESTDATA.md): the same column names and types,
the same row counts at each scale factor `sf`, and the same value
distributions (key ranges, categorical values and shares, numeric ranges,
date spans, document vocabulary, length and duplicate rule, unit-norm
embeddings). The same seed gives byte-identical tables.

Usage:
  python3 perfbench/tables.py <out_dir> <seed> <sf>
  python3 perfbench/tables.py --compare <reference_dir> [seed]
      generate at the reference's scale and print, per table and column,
      the generated and the reference schema, row count and value summary
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table key value hash join sort merge group "
         "agg filter scan query stream batch window vector spark line order "
         "customer part small big fast slow").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150000 * sf))
    n_supp = max(5, int(10000 * sf))
    n_part = max(10, int(200000 * sf))
    n_ord = max(10, int(1500000 * sf))
    n_line = max(10, int(6000000 * sf))
    n_ev = max(10, int(1000000 * sf))
    n_users = max(2, int(15000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_vec = max(500, int(20000 * sf))
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": i64(n_cust),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(n_supp),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": i64(n_part),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": i64(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _choice(rng, ["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["O", "F"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_line))})
    # event times spread uniformly over 30 days, in id order
    ts = (np.datetime64("2024-01-01", "us")
          + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
          .astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": i64(n_ev),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # documents: 10 to 99 words over a small vocabulary; one in twenty,
    # taken in id order, is replaced by a copy of a random document with a
    # " dup" suffix (a copy of a copy reads "... dup dup"), so the dedup
    # queries find near-duplicate pairs and a few exact ones
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 100, n_doc)]
    for i in np.sort(rng.choice(n_doc, n_doc // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": i64(n_doc),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(n_vec),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32))})
    return out


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _summary(con, path, col, typ):
    """One tuple that sums up a column's values, and what it holds."""
    c = f'"{col}"'
    if typ.endswith("[]"):
        label = "len min/max, mean squared norm"
        q = (f"SELECT min(len({c})), max(len({c})), "
             f"avg(list_sum(list_transform({c}, x -> x * x))) FROM '{path}'")
    elif typ == "VARCHAR":
        label = "distinct, mean length, top share"
        q = (f"SELECT count(*), avg(length(v) * n) / avg(n), max(n) / sum(n) "
             f"FROM (SELECT {c} v, count(*) n FROM '{path}' GROUP BY v)")
    elif typ == "TIMESTAMP":
        label = "min, max, distinct"
        q = f"SELECT min({c}), max({c}), count(DISTINCT {c}) FROM '{path}'"
    else:
        label = "min, max, mean, distinct"
        q = (f"SELECT min({c}), max({c}), avg({c}), count(DISTINCT {c}) "
             f"FROM '{path}'")
    row = con.sql(q).fetchone()
    return label, tuple(round(v, 3) if isinstance(v, float) else v
                        for v in row)


def compare(ref_dir, seed=1):
    """Print the generated and the reference tables side by side."""
    import tempfile
    import duckdb
    con = duckdb.connect()
    ref = lambda t: os.path.join(ref_dir, f"{t}.parquet")
    sf = con.sql(f"SELECT count(*) FROM '{ref('lineitem')}'").fetchone()[0] / 6e6
    with tempfile.TemporaryDirectory() as gen_dir:
        write(gen_dir, seed, sf)
        print(f"scale factor {sf:g}, seed {seed}")
        for t in sorted(os.listdir(gen_dir)):
            t = t[:-len(".parquet")]
            g = os.path.join(gen_dir, f"{t}.parquet")
            g_cols = con.sql(f"DESCRIBE SELECT * FROM '{g}'").fetchall()
            r_cols = con.sql(f"DESCRIBE SELECT * FROM '{ref(t)}'").fetchall()
            rows = [con.sql(f"SELECT count(*) FROM '{p}'").fetchone()[0]
                    for p in (g, ref(t))]
            same = [c[:2] for c in g_cols] == [c[:2] for c in r_cols]
            print(f"{t}: rows {rows[0]} vs {rows[1]}; schema "
                  f"{'same' if same else 'DIFFERS'}")
            for name, typ, *_ in g_cols:
                label, gs = _summary(con, g, name, typ)
                _, rs = _summary(con, ref(t), name, typ)
                print(f"  {name} ({label}): {gs} vs {rs}")


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        compare(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 1)
    else:
        write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))

"""Oracle digests for the board.

A digest is the SHA-256 of a query result in a canonical form: columns in
name order, rows in result order (every board query orders its rows), and
each value reduced to a plain JSON value that keeps integers and floats
apart. Spark's full result, read from parquet, and the DuckDB oracle's
result, fetched as Python values, reduce to the same digest exactly when the
two results are equal.

The DuckDB oracles of some board queries take minutes, so their digests on
the board's fixed input are computed once, by `run.py --make-oracle`, and
stored in `board_oracle.json` with the SHA-256 of the SQL they came from.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

ORACLE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "board_oracle.json")


def canonical(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else ["float", repr(v)]
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else ["float", repr(float(v))]
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canonical(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canonical(x) for k, x in sorted(v.items())}
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(columns, rows):
    """Digest of a result given as column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = {"columns": [columns[i] for i in order],
            "rows": [[canonical(r[i]) for i in order] for r in rows]}
    return hashlib.sha256(json.dumps(body, separators=(",", ":")).encode()).hexdigest(), len(rows)


def spark_digest(parquet_dir):
    import pyarrow.parquet as pq
    t = pq.read_table(parquet_dir)
    cols = t.column_names
    return digest(cols, [tuple(r[c] for c in cols) for r in t.to_pylist()])


def duckdb_digest(con, sql):
    rel = con.sql(sql)
    return digest(rel.columns, rel.fetchall())


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def load():
    with open(ORACLE_FILE) as fh:
        return json.load(fh)


def check(results_dir, sqls):
    """Failure messages for board results that differ from the stored
    oracle digests, or whose oracle SQL changed since they were made."""
    stored = load()["queries"]
    fails = []
    for name, sql in sorted(sqls.items()):
        want = stored.get(name)
        path = os.path.join(results_dir, name)
        if want is None or want["sql_sha256"] != sql_sha(sql):
            fails.append(f"{name}: oracle SQL differs from the one the stored digest was made"
                         " from; run `python3 perfbench/run.py --make-oracle`")
        elif not os.path.isdir(path):
            fails.append(f"{name}: no result written")
        else:
            got, n = spark_digest(path)
            if got != want["digest"]:
                fails.append(f"{name}: result ({n} rows) differs from the DuckDB oracle"
                             f" ({want['rows']} rows)")
    return fails


def make(data_dir, sqls, meta):
    """Run every oracle SQL in DuckDB on `data_dir` and store the digests."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    queries = {}
    for name, sql in sorted(sqls.items()):
        d, n = duckdb_digest(con, sql)
        queries[name] = {"sql_sha256": sql_sha(sql), "digest": d, "rows": n}
    with open(ORACLE_FILE, "w") as fh:
        json.dump(dict(meta, queries=queries), fh, indent=1, sort_keys=True)
        fh.write("\n")
    return queries

"""Output checks: graft's query results against DuckDB running each key's
oracle SQL (`graft.SparkEntry.oracleSql`) over the same parquet tables."""
import datetime as dt
import decimal
import hashlib
import math

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(v):
    """A value in a form that compares equal across Spark's and DuckDB's
    types: floats to 9 significant digits (integral ones as ints),
    timestamps as naive UTC, arrays as tuples."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 2**53:
            return int(v)
        return float(f"{v:.9g}")
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def canon_rows(rows):
    """Rows as sorted canonical strings: a multiset, whatever the order."""
    return sorted(repr(tuple(_canon(v) for v in r)) for r in rows)


def canon_hash(canon):
    """Order-insensitive hash of a multiset of rows, from `canon_rows`."""
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _rows(con, sql):
    """Column names then rows, columns sorted by name."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(cols[i] for i in order)] + [("row",) + tuple(r[i] for i in order)
                                              for r in cur.fetchall()]


def recall(got, want):
    """Share of the canonical rows in `want` that `got` also holds."""
    left = {}
    for r in got:
        left[r] = left.get(r, 0) + 1
    hit = 0
    for r in want:
        if left.get(r, 0) > 0:
            left[r] -= 1
            hit += 1
    return hit / max(1, len(want))


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_rows(data_dir, sql):
    return _rows(connect(data_dir), sql)


def result_rows(result_dir):
    """The parquet result graft wrote for one key."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return _rows(con, f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")

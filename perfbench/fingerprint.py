"""Result fingerprints in the convention of the repo's DuckDB oracle gate
(tools/check.py): row count plus a hash over typed values, with columns
sorted by name, rows sorted, floats rounded to 6 decimals and a midnight
datetime equal to its date. One implementation serves both the Spark
outputs (parquet written by the harness) and the DuckDB oracle results."""
import datetime as dt
import hashlib
import json
import re

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events documents "
          "embeddings").split()


def connect(data_dir=None):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    if data_dir:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def type_class(t):
    s = re.sub(r"\(.*\)", "", str(t).upper())
    suffix = "[]" if s.endswith("[]") else ""
    s = s.rstrip("[]")
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
             "UINTEGER", "UBIGINT"):
        c = "int"
    elif s in ("FLOAT", "REAL", "DOUBLE", "DECIMAL", "HUGEINT", "UHUGEINT"):
        c = "float"
    elif s.startswith("TIMESTAMP") or s == "DATE":
        c = "time"
    else:
        c = s
    return c + suffix


def norm(v):
    if isinstance(v, float):
        r = round(v, 6)
        return 0.0 if r == 0 else r
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in sorted(v.items())}
    return v


def of_relation(rel):
    """{"rows": n, "hash": sha256} of a DuckDB relation."""
    cols, types = list(rel.columns), list(rel.types)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[norm(r[i]) for i in order] for r in rel.fetchall()]
    rows.sort(key=lambda r: json.dumps(r, default=str))
    body = json.dumps([[cols[i] for i in order], [type_class(types[i]) for i in order], rows],
                      default=str)
    return {"rows": len(rows), "hash": hashlib.sha256(body.encode()).hexdigest()}


def of_parquet(con, directory):
    return of_relation(con.sql(f"SELECT * FROM '{directory}/*.parquet'"))


def of_sql(con, sql):
    return of_relation(con.sql(sql))

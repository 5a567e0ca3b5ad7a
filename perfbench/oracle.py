"""DuckDB check of the ops-gated results: each query's Spark result, as
written by the benchmark's warm-up, must equal its oracle SQL run by
DuckDB over the same tables. Rows are compared as sorted, stringified
tuples with columns in name order and floats to six significant digits.
The oracle's rows depend only on its SQL and the tables, so they are kept
in a cache directory keyed by both and computed once per checkout.
"""
import hashlib
import json
import math

import duckdb

TABLES = ["documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows(rel):
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(canon(r[i]) for i in order) for r in rel.fetchall())


def oracle_rows(con, data, sql, cache):
    """The oracle's (columns, rows) for `sql`, from `cache` when present."""
    key = hashlib.sha256(sql.encode())
    for t in TABLES:
        key.update((data / f"{t}.parquet").read_bytes())
    path = cache / f"{key.hexdigest()}.json"
    if path.is_file():
        cols, rs = json.loads(path.read_text())
        return cols, [tuple(r) for r in rs]
    cols, rs = rows(con.sql(sql))
    cache.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps([cols, rs]))
    tmp.replace(path)
    return cols, rs


def check(data, work, cache):
    """Returns one message per query whose result differs from its oracle.
    `data` holds the input tables, `work` the results and oracle_sql.json,
    `cache` the oracle rows computed before.
    """
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    oracle = json.loads((work / "oracle_sql.json").read_text())
    problems = []
    for name, sql in sorted(oracle.items()):
        spark_cols, spark_rows = rows(con.sql(
            f"SELECT * FROM read_parquet('{work}/results/{name}/*.parquet')"))
        try:
            duck_cols, duck_rows = oracle_rows(con, data, sql, cache)
        except duckdb.Error as e:
            problems.append(f"{name}: oracle SQL failed: {e}")
            continue
        if spark_cols != duck_cols:
            problems.append(f"{name}: columns {spark_cols} differ from oracle {duck_cols}")
        elif spark_rows != duck_rows:
            problems.append(f"{name}: {len(spark_rows)} rows differ from the oracle's "
                            f"{len(duck_rows)}")
    return problems

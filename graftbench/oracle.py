"""Checks the curation leaves against `SparkEntry.oracleSql` in DuckDB."""
import math
from decimal import Decimal
from pathlib import Path

import duckdb


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=0, abs_tol=1e-9) or (math.isnan(a) and math.isnan(b))
    return a == b


def _norm(row):
    return tuple(float(x) if isinstance(x, Decimal) else x for x in row)


def _key(row):
    return tuple((x is None, "" if x is None else str(x)) for x in row)


def check(spec):
    """spec: {"data_dir", "spark_dir", "sql": {query: oracle sql}}.
    Returns [(query, ok, detail)]."""
    con = duckdb.connect()
    data = Path(spec["data_dir"])
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / (t + '.parquet')}/*.parquet')")
    results = []
    for q, sql in sorted(spec["sql"].items()):
        try:
            exp = con.execute(sql)
            exp_cols = [d[0] for d in exp.description]
            exp_rows = exp.fetchall()
            got = con.execute(f"SELECT * FROM read_parquet('{Path(spec['spark_dir']) / q}/*.parquet')")
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
        except duckdb.Error as e:
            results.append((q, False, f"oracle error: {e}"))
            continue
        if sorted(exp_cols) != sorted(got_cols):
            results.append((q, False, f"columns {got_cols} != oracle {exp_cols}"))
            continue
        order = [got_cols.index(c) for c in exp_cols]
        got_rows = sorted((_norm(tuple(r[i] for i in order)) for r in got_rows), key=_key)
        exp_rows = sorted((_norm(r) for r in exp_rows), key=_key)
        if len(got_rows) != len(exp_rows):
            results.append((q, False, f"{len(got_rows)} rows != oracle {len(exp_rows)}"))
            continue
        bad = next((i for i, (g, e) in enumerate(zip(got_rows, exp_rows))
                    if not all(_same(x, y) for x, y in zip(g, e))), None)
        results.append((q, bad is None,
                        "" if bad is None else f"row {bad}: {got_rows[bad]} != oracle {exp_rows[bad]}"))
    return results

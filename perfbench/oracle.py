"""Diff the analytics queries' results against their DuckDB oracle SQL.

Each Spark result is one ordered parquet file; the oracle statement is
`SparkEntry.oracleSql` for the query, run in DuckDB over the same
generated tables. Columns are compared by name, rows in order, with
timestamps as ISO strings and floats rounded to 9 digits.
"""
import json
import math
import os

import duckdb


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") \
            else v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], \
        [tuple(_cell(r[i]) for i in order) for r in rel.fetchall()]


def diff_all(oracle_json, tables_dir, results_dir):
    """One check dict per query: name, ok, detail."""
    with open(oracle_json) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("events", "customer"):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, tables_dir, t))
    checks = []
    for name, sql in sorted(oracle.items()):
        path = os.path.join(results_dir, name)
        try:
            mine_cols, mine = _rows(con.sql(
                "SELECT * FROM read_parquet('%s/*.parquet')" % path))
            ref_cols, ref = _rows(con.sql(sql))
        except (duckdb.Error, OSError) as e:
            checks.append({"name": "oracle." + name, "ok": False,
                           "detail": str(e)[:200]})
            continue
        if mine_cols != ref_cols:
            detail, ok = "columns %s vs %s" % (mine_cols, ref_cols), False
        elif len(mine) != len(ref):
            detail, ok = "rows %d vs %d" % (len(mine), len(ref)), False
        else:
            bad = [i for i, (x, y) in enumerate(zip(mine, ref)) if x != y]
            ok = not bad
            detail = ("%d rows equal" % len(ref)) if ok else \
                "%d/%d rows differ, first at %d: %s vs %s" % (
                    len(bad), len(ref), bad[0], mine[bad[0]], ref[bad[0]])
        checks.append({"name": "oracle." + name, "ok": ok,
                       "detail": detail[:300]})
    return checks

"""Output checks that run in DuckDB, outside the timed loop.

etl_ticks: every destination must equal the state the generator predicts
(row count plus an order-independent content hash). crawl_lifecycle's
query pass: every query's output must equal its `SparkEntry.oracleSql` run
over the same generated tables.
"""
import glob
import json
import math
import os

import duckdb

EVENT_COLS = ("event_id, epoch_us(ts), user_id, event_type, round(value, 2), props, "
              "epoch_us(updated_at), change_day")


def _parquet(path):
    """Every data file of a table directory; hidden and `_`-prefixed files
    and directories (commit logs, side indexes, tmp dirs) are skipped."""
    files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
             if not any(part.startswith((".", "_"))
                        for part in os.path.relpath(f, path).split(os.sep))]
    return ("read_parquet([" + ",".join(f"'{f}'" for f in sorted(files)) +
            "], hive_partitioning = false)")


def _digest(con, rel, cols):
    n, h = con.execute(f"SELECT count(*), sum(hash({cols})) FROM {rel}").fetchone()
    return int(n), str(h)


def etl_destinations(in_dir, dest_dirs, ticks_run):
    """name -> (ok, detail) for the flat, partitioned, JDBC, rollup and
    stream destinations after `ticks_run` delta ticks."""
    con = duckdb.connect()
    files = [os.path.join(in_dir, "events_base.parquet")] + [
        os.path.join(in_dir, "deltas", f"tick_{k:04d}.parquet") for k in range(ticks_run)]
    con.execute("CREATE VIEW log AS SELECT * FROM read_parquet([" +
                ",".join(f"'{f}'" for f in files) + "])")
    con.execute("CREATE VIEW latest AS SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() "
                "OVER (PARTITION BY event_id ORDER BY updated_at DESC) AS rn FROM log) WHERE rn = 1")
    rollup_cols = "user_id, change_day, n_changes, round(value_sum, 2), value_max, epoch_us(_wm)"
    con.execute("CREATE VIEW rollup AS SELECT user_id, change_day, count(*) AS n_changes, "
                "sum(value) AS value_sum, max(value) AS value_max, max(updated_at) AS _wm "
                "FROM log GROUP BY user_id, change_day")
    want = {"flat": ("latest", EVENT_COLS), "part": ("latest", EVENT_COLS),
            "jdbc": ("latest", EVENT_COLS), "stream": ("log", EVENT_COLS),
            "rollup": ("rollup", rollup_cols)}
    out = {}
    for name, (rel, cols) in want.items():
        try:
            exp = _digest(con, rel, cols)
            got = _digest(con, _parquet(dest_dirs[name]), cols)
            out[f"dest_{name}"] = (exp == got, f"expected {exp[0]} rows, got {got[0]}"
                                   + ("" if exp == got else " (content differs)"))
        except Exception as e:  # a missing or unreadable destination fails its check
            out[f"dest_{name}"] = (False, f"{type(e).__name__}: {e}")
    return out


def _rows_equal(exp, got):
    ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
    if ecols != gcols:
        return False, f"schema: oracle={ecols} spark={gcols}"
    e, g = exp.select(ecols).to_pylist(), got.select(gcols).to_pylist()
    if len(e) != len(g):
        return False, f"rows: oracle={len(e)} spark={len(g)}"
    key = lambda r: tuple(str(r[c]) for c in ecols)
    e.sort(key=key)
    g.sort(key=key)
    for i, (a, b) in enumerate(zip(e, g)):
        for c in ecols:
            x, y = a[c], b[c]
            if x != y and not (isinstance(x, float) and isinstance(y, float)
                               and math.isnan(x) and math.isnan(y)):
                return False, f"row {i} col {c}: oracle={x!r} spark={y!r}"
    return True, f"{len(e)} rows"


def query_oracles(tables_dir, results_dir, queries):
    """query -> (ok, detail): exact, order-independent equality of the
    query's output and its DuckDB oracle."""
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for q in queries:
        try:
            if not oracles.get(q):
                out[q] = (False, "no oracle")
                continue
            exp = con.execute(oracles[q]).fetch_arrow_table()
            got = duckdb.connect().execute(
                f"SELECT * FROM {_parquet(os.path.join(results_dir, q))}").fetch_arrow_table()
            out[q] = _rows_equal(exp, got)
        except Exception as e:
            out[q] = (False, f"{type(e).__name__}: {e}")
    return out

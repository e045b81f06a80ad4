"""Output checks. olap16 and serve_dash results are compared with DuckDB
over the same generated parquet; ingest_fresh was checked inside the
harness against the generator's exact running totals.

Values are canonicalized the way tools/oracle_check.py does it: columns in
name order (olap16), floats printed to ten significant digits unless they
are whole, NULL for nulls and NaN, timestamps in ISO form.
"""
import datetime
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    # exact-type fast paths for the common cells; the checks below give
    # the same strings, only slower
    t = type(v)
    if t is int or t is str:
        return str(v)
    if t is float and not math.isnan(v):
        return repr(v) if v == int(v) and abs(v) < 1e15 else f"{v:.10g}"
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if v == int(v) and abs(v) < 1e15:
            return repr(v)
        return f"{v:.10g}"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat() + "T00:00:00"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def rows_of(records):
    return [[cell(v) for v in r] for r in records]


def same(expected, got, ordered):
    return expected == got if ordered else sorted(expected) == sorted(got)


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{data}/duckdb.tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check_olap16(raw, data, fingerprint, answers_dir):
    """Each query's result (written by the harness's cold pass) against
    DuckDB's answer to its oracle SQL. Answers are stored under
    answers_dir, keyed by the fixture fingerprint they came from."""
    os.makedirs(answers_dir, exist_ok=True)
    path = os.path.join(answers_dir, f"{fingerprint}.json")
    answers = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    dirty = False
    wrong = {}
    for name, c in raw["checks"].items():
        if not c["oracle"]:
            wrong[name] = "no oracle SQL"
            continue
        ans = answers.get(name)
        if ans is None or ans["sql"] != c["oracle"]:
            con = con or connect(data)
            df = con.execute(c["oracle"]).fetchdf()
            df = df.reindex(sorted(df.columns), axis=1)
            ans = {"sql": c["oracle"], "columns": list(df.columns),
                   "rows": rows_of(df.itertuples(index=False))}
            answers[name] = ans
            dirty = True
        files = sorted(glob.glob(os.path.join(c["path"], "*.parquet")))
        sdf = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        sdf = sdf.reindex(sorted(sdf.columns), axis=1)
        if list(sdf.columns) != ans["columns"]:
            wrong[name] = f"columns {list(sdf.columns)} != {ans['columns']}"
        elif not same(ans["rows"], rows_of(sdf.itertuples(index=False)), ordered=False):
            wrong[name] = f"rows differ ({len(sdf)} vs {len(ans['rows'])} expected)"
    if dirty:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(answers, fh)
        os.replace(tmp, path)
    ops = raw["ops"]
    failed = sum(1 for o in ops if o["error"] or o["name"] in wrong)
    errors = {o["name"]: o["error"][:300] for o in ops if o["error"]}
    return len(ops), failed, {"queries_checked": len(raw["checks"]),
                              "queries_wrong": wrong, "query_errors": errors}


def check_serve(raw, data, duck_sql):
    """Each distinct request's first reply against DuckDB; the harness
    already compared every repeat with the first reply."""
    con = connect(data)
    wrong = {}
    for a in raw["answers"]:
        sql = a["sql"]
        expected = rows_of(con.execute(duck_sql[sql]).fetchall())
        if not same(expected, rows_of(a["rows"]), ordered="ORDER BY" in sql):
            wrong[sql] = f"{len(a['rows'])} rows vs {len(expected)} expected"
    ops = raw["ops"]
    failed = sum(1 for o in ops if o["error"] or o["sql"] in wrong)
    load = [o for o in ops if o["phase"] == "load"]
    return len(ops), failed, {
        "distinct_requests": len(raw["answers"]),
        "repeat_share": sum(o["repeat"] for o in load) / max(1, len(load)),
        "wrong": dict(list(wrong.items())[:5]),
        "errors": sorted({o["error"][:300] for o in ops if o["error"]})[:5]}


def check_ingest(raw):
    ops = raw["ops"]
    errors = [o["error"] for o in ops if o["error"]]
    return len(ops), len(errors), {"cycles": len(ops), "errors": errors[:5]}

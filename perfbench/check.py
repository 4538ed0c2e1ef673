"""Untimed output check of one run.  Runs after the program exited.

Every problem found is returned as (op id or None, text); an op with a
problem counts as failed.  Nothing here filters or retries."""
import json
import math
import os

import duckdb

import gen

TOL = "1e-9"


def _rows(con, path, fmt):
    src = (f"read_parquet('{path}/*.parquet')" if fmt == "parquet" else
           f"read_csv('{path}/*.csv', header=false, auto_detect=true)")
    return con.sql(f"SELECT count(*) FROM {src}").fetchone()[0]


def _expected_status(msg):
    """Rejected exactly when check_metadata must refuse the platform."""
    return "rejected" if msg["data"]["platform_name"] == gen.REJECTED else "ok"


def pipeline(res, in_dir, sp):
    """Files, row counts, published messages and statuses of every op;
    on scene_resample also values against an independent recomputation."""
    problems = []
    con = duckdb.connect()
    want = gen.expected_files(sp)
    grid = {(a["name"] or "native"): a["h"] * a["w"] for a in sp["areas"]}
    checked_values = 0
    for op in res["ops"]:
        oid = op["id"]
        msg = json.load(open(os.path.join(in_dir, "messages", oid)))
        exp_status = _expected_status(msg)
        # a crash already counts as failed; anything else must match
        if op["status"] not in (exp_status, "failed"):
            problems.append((oid, f"status {op['status']}, expected {exp_status}"))
        got_uris = sorted(p["uri"] for p in op["published"]
                          if p["msg_type"] == "file")
        if got_uris != sorted(f["path"] for f in op["files"]):
            problems.append((oid, "published messages do not name exactly "
                             "the committed files"))
        if op["status"] != "ok":
            continue
        got = sorted((f["area"], f["product"], f["format"]) for f in op["files"])
        if got != want:
            problems.append((oid, f"files {got} != expected {want}"))
            continue
        for f in op["files"]:
            exp_rows = grid[f["area"]]
            if not os.path.isdir(f["path"]):
                problems.append((oid, f"missing {f['path']}"))
            elif f["rows"] != exp_rows or \
                    _rows(con, f["path"], f["format"]) != exp_rows:
                problems.append((oid, f"{f['path']}: rows != {exp_rows}"))
        if sp["workload"] == "scene_resample" and checked_values < 2:
            checked_values += 1
            problems += [(oid, p) for p in _values(con, op, msg, sp)]
    if sp.get("check_metadata"):
        staging = os.path.join(in_dir, "staging")
        left = [x for x in os.listdir(staging) if not x.startswith(".")] \
            if os.path.isdir(staging) else []
        if left and not any(op["status"] == "failed" for op in res["ops"]):
            problems.append((None, f"staging zone not empty: {left[:3]}"))
    return problems


def _recompute_sql(area, n, product):
    """DuckDB recomputation of one product on one area of a scene view
    `scene` — the shapes of the q40 (average), q55 (nearest) and q63
    (bilinear) oracles, on the benchmark's grid."""
    mode, h, w = area["mode"], area["h"], area["w"]
    base = f"SELECT y::BIGINT AS y, x::BIGINT AS x, value FROM scene " \
           f"WHERE product = '{product}'"
    if mode is None:
        return base
    ty, tx = f"(y * {h}) // {n}", f"(x * {w}) // {n}"
    if mode == "average":
        return f"SELECT {ty} AS y, {tx} AS x, avg(value) AS value " \
               f"FROM ({base}) GROUP BY 1, 2"
    if mode == "nearest":
        return f"""
          SELECT ty AS y, tx AS x, value FROM (
            SELECT *, row_number() OVER (PARTITION BY ty, tx ORDER BY
              dy * dy * {w * w} + dx * dx * {h * h}, y, x) AS rn
            FROM (SELECT y, x, value, {ty} AS ty, {tx} AS tx,
                    y * {2 * h} + {h} - ({ty} * 2 + 1) * {n} AS dy,
                    x * {2 * w} + {w} - ({tx} * 2 + 1) * {n} AS dx
                  FROM ({base})))
          WHERE rn = 1"""
    assert mode == "bilinear"
    corner = "\n".join(
        f"LEFT JOIN cells c{t} ON c{t}.y = t.y0 + {t[0]} AND c{t}.x = t.x0 + {t[1]}"
        for t in ("00", "01", "10", "11"))
    wgt = {"00": "(1.0 - fy) * (1.0 - fx)", "01": "(1.0 - fy) * fx",
           "10": "fy * (1.0 - fx)", "11": "fy * fx"}
    num = " + ".join(f"{wgt[t]} * coalesce(c{t}.value, 0.0)" for t in wgt)
    den = " + ".join(f"{wgt[t]} * (CASE WHEN c{t}.value IS NULL THEN 0.0 "
                     f"ELSE 1.0 END)" for t in wgt)
    return f"""
      WITH cells AS (SELECT y, x, avg(value) AS value FROM ({base})
                     GROUP BY 1, 2),
      g AS (SELECT ty, tx, (2 * ty + 1) * {n} - {h} AS ny,
                   (2 * tx + 1) * {n} - {w} AS nx
            FROM range(0, {h}) r1(ty), range(0, {w}) r2(tx)),
      t AS (SELECT ty, tx, y0, x0, (ny - y0 * {2 * h}) / {2.0 * h} AS fy,
                   (nx - x0 * {2 * w}) / {2.0 * w} AS fx
            FROM (SELECT *, floor(ny / {2.0 * h})::BIGINT AS y0,
                         floor(nx / {2.0 * w})::BIGINT AS x0 FROM g)),
      b AS (SELECT t.ty, t.tx, {num} AS num, {den} AS den FROM t {corner})
      SELECT ty AS y, tx AS x, num / den AS value FROM b WHERE den > 0"""


def _values(con, op, msg, sp):
    """ch1 of every area of one message, against DuckDB."""
    out = []
    con.sql(f"CREATE OR REPLACE VIEW scene AS SELECT * FROM "
            f"read_parquet('{msg['data']['uri']}')")
    for f in op["files"]:
        if f["product"] != "ch1":
            continue
        area = next(a for a in sp["areas"] if (a["name"] or "native") == f["area"])
        exp = _recompute_sql(area, sp["n"], "ch1")
        bad = con.sql(f"""
          WITH e AS ({exp}),
          g AS (SELECT y::BIGINT AS y, x::BIGINT AS x, value
                FROM read_parquet('{f['path']}/*.parquet'))
          SELECT count(*) FROM e FULL OUTER JOIN g ON e.y = g.y AND e.x = g.x
          WHERE e.y IS NULL OR g.y IS NULL OR NOT (
            (e.value IS NULL AND g.value IS NULL) OR
            (e.value IS NOT NULL AND g.value IS NOT NULL AND (
              (isnan(e.value) AND isnan(g.value)) OR
              abs(e.value - g.value) <= {TOL} * greatest(1.0, abs(e.value)))))
        """).fetchone()[0]
        if bad:
            out.append(f"{f['path']}: {bad} cells differ from the recomputation")
    return out


def _cell_eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or \
            abs(fa - fb) <= float(TOL) * max(1.0, abs(fa))
    return a == b


def _order_key(row):
    """Sort key of a result row: values first, then NaN, then NULL."""
    return tuple((2, 0) if v is None else
                 (1, 0) if isinstance(v, float) and math.isnan(v) else (0, v)
                 for v in row)


def _sorted_rows(con, sql):
    """Rows of `sql` with columns in name order, sorted: the result's
    order does not matter, its multiset of rows does."""
    cols = sorted(con.sql(sql).columns)
    quoted = ", ".join(f'"{c}"' for c in cols)
    rows = con.sql(f"SELECT {quoted} FROM ({sql})").fetchall()
    return cols, sorted(rows, key=_order_key)


def queries(res, in_dir):
    """Every timed raster query against its `SparkEntry.oracleSql`,
    computed by DuckDB over the same generated tables: same columns,
    same row count, same rows in any order."""
    problems = []
    runs = res.get("queries", {}).get("runs", {})
    con = duckdb.connect()
    tables = os.path.join(in_dir, "tables")
    for f in sorted(os.listdir(tables)) if runs else ():
        con.sql(f"CREATE VIEW {f.split('.')[0]} AS "
                f"SELECT * FROM read_parquet('{tables}/{f}')")
    for name, r in runs.items():
        exp_cols, exp = _sorted_rows(con, r["oracle_sql"])
        got_cols, got = _sorted_rows(
            con, f"SELECT * FROM read_parquet('{r['path']}/*.parquet')")
        if exp_cols != got_cols:
            problems.append((name, f"columns {got_cols} != oracle {exp_cols}"))
        elif len(exp) != len(got):
            problems.append((name, f"{len(got)} rows != oracle {len(exp)}"))
        elif not all(_cell_eq(a, b) for x, y in zip(exp, got)
                     for a, b in zip(x, y)):
            problems.append((name, "rows differ from the oracle"))
    return problems

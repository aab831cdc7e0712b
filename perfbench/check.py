"""Correctness checks of one benchmark run against DuckDB.

query_suite: each query's verification output against its oracle SQL (row
count and order-insensitive hash). api_marts: the sampled /ratios and /screener bodies against DuckDB answers
over the oracle's `ratios` and `companies`. Each returns
{"checked": n, "failed": n, "failures": [...]}.
"""
import json
import os
from urllib.parse import parse_qsl, urlsplit

import duckdb

import lib

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{data_dir}/duckdb_tmp'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def same(con, got_rel, want_rel, columns):
    return (con.execute(lib.hash_sql(got_rel, columns)).fetchone() ==
            con.execute(lib.hash_sql(want_rel, columns)).fetchone())


def columns_of(con, rel):
    return [r[0] for r in con.execute(f"DESCRIBE {rel}").fetchall()]


def check_query_suite(data, run_dir, res):
    con = connect(data)
    failures, checked = [], 0
    for name, sql in sorted(res["details"]["oracle"].items()):
        if sql is None:
            continue
        checked += 1
        got = f"SELECT * FROM read_parquet('{run_dir}/verify/{name}/*.parquet')"
        try:
            cols = columns_of(con, f"({sql})")
            if sorted(cols) != sorted(columns_of(con, f"({got})")) or \
                    not same(con, got, sql, cols):
                failures.append(name)
        except Exception as e:  # a missing output or bad SQL is a failure
            failures.append(f"{name}: {e}")
    return failures, checked


def expected_body(con, path):
    u = urlsplit(path)
    q = dict(parse_qsl(u.query))
    ticker = u.path.rsplit("/", 1)[1].upper()
    if u.path.startswith("/ratios/"):
        cols = ["fiscal_year", "gross_margin", "operating_margin", "net_margin",
                "roa", "roe", "leverage", "fcf_margin", "asset_turnover"]
        rows = con.execute(
            f"SELECT {', '.join(cols)} FROM ratios WHERE cik IN "
            "(SELECT cik FROM companies WHERE ticker = ?) "
            "ORDER BY fiscal_year DESC LIMIT ?",
            [ticker, int(q.get("limit", 10))]).fetchall()
        return {"ticker": ticker, "years": [dict(zip(cols, r)) for r in rows]}
    where, args = ["TRUE"], []
    if "year" in q:
        where.append("r.fiscal_year = ?")
        args.append(int(q["year"]))
    for p, c in (("min_roe", "roe"), ("min_fcf_margin", "fcf_margin"),
                 ("min_net_margin", "net_margin")):
        if p in q:
            where.append(f"r.{c} >= CAST(? AS DOUBLE)")
            args.append(float(q[p]))
    cols = ["ticker", "name", "fiscal_year", "roe", "fcf_margin", "net_margin"]
    rows = con.execute(
        f"SELECT c.ticker, c.name, r.fiscal_year, r.roe, r.fcf_margin, r.net_margin "
        f"FROM ratios r JOIN companies c ON c.cik = r.cik WHERE {' AND '.join(where)} "
        "ORDER BY r.fiscal_year DESC, r.roe DESC NULLS LAST, r.cik ASC LIMIT ?",
        args + [int(q.get("limit", 25))]).fetchall()
    return {"results": [dict(zip(cols, r)) for r in rows]}


def check_api_marts(data, run_dir, res):
    d = res["details"]
    con = connect(data)
    con.execute(f"CREATE TABLE ratios AS {d['full_prelude']} SELECT * FROM ratios")
    con.execute(f"CREATE TABLE companies AS {d['full_prelude']} SELECT * FROM companies")
    failures = []
    for b in d["bodies"]:
        if b["status"] != 200 or json.loads(b["body"]) != expected_body(con, b["path"]):
            failures.append(b["path"])
    return failures, len(d["bodies"])


def check(workload, data, run_dir, res):
    fn = {"query_suite": check_query_suite, "api_marts": check_api_marts}[workload]
    failures, checked = fn(data, run_dir, res)
    return {"checked": checked, "failed": len(failures), "failures": failures[:20]}

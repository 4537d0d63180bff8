"""Output checks for the batch workload.

Every key's pass-1 output is compared with the answer DuckDB computes from
the key's oracle SQL (`SparkEntry.oracleSql`) over the same corpus, with
the canonicalization of `dev/oracle_check.py`: columns sorted by name, rows
sorted, floats compared by their exact shortest repr, result column types
compared too. A key without oracle SQL must return at least one row.
Pass 2 must return exactly what pass 1 returned (every key of the
workloads is deterministic; if pass 1 failed, pass 2 is held to the
oracle). The expected side is cached per corpus and oracle SQL.
"""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = [repr(r[i]) if isinstance(r[i], float) else str(r[i]) for i in order]
        out.append("\x01".join(vals))
    return sorted(out)


def digest(con, sql):
    rel = con.sql(sql)
    rows = canon(rel.fetchall(), rel.columns)
    h = hashlib.sha256("\x02".join(rows).encode()).hexdigest()
    return {"schema": sorted(zip(rel.columns, map(str, rel.types))),
            "rows": len(rows), "hash": h}


def spark_output(con, path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        return None
    return digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def connect(corpus_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


def expected(con, cache_dir, corpus_dir, sql):
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        with open(os.path.join(corpus_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    path = os.path.join(cache_dir, h.hexdigest() + ".json")
    if os.path.isfile(path):
        with open(path) as f:
            d = json.load(f)
        d["schema"] = [tuple(x) for x in d["schema"]]
        return d
    d = digest(con, sql)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(d, f)
    return d


def mark(op, why):
    op["ok"] = False
    op["check_failed"] = True
    op["cause"] = f"check: {why}"


def check_batch(res, ops, run_dir, corpus_dir, cache_dir):
    """Mark every op of pass 1 and 2 whose output fails its check."""
    con = connect(corpus_dir)
    oracles = res.get("oracle", {})
    by_key = {}
    for op in ops:
        if op["pass"] in (1, 2):
            by_key.setdefault(op["key"], {})[op["pass"]] = op
    for key, passes in sorted(by_key.items()):
        got = {}
        for p, op in passes.items():
            if op["ok"]:
                try:
                    got[p] = spark_output(con, os.path.join(run_dir, "out", f"p{p}", key))
                except duckdb.Error as e:
                    mark(op, f"unreadable output: {e}")
                    continue
                if got[p] is None:
                    mark(op, "no output files")
                    del got[p]
        for p, g in got.items():
            if p != 1 and 1 in got:
                if g["hash"] != got[1]["hash"]:
                    mark(passes[p], f"pass 2 differs from pass 1 "
                         f"({g['rows']} vs {got[1]['rows']} rows)")
                continue
            if key not in oracles:
                if g["rows"] == 0:
                    mark(passes[p], "rows-only key returned no rows")
                continue
            try:
                exp = expected(con, cache_dir, corpus_dir, oracles[key])
            except duckdb.Error as e:
                mark(passes[p], f"oracle SQL error: {str(e)[:200]}")
                continue
            if [tuple(x) for x in g["schema"]] != exp["schema"]:
                mark(passes[p], f"schema {g['schema']} != oracle {exp['schema']}")
            elif g["hash"] != exp["hash"]:
                mark(passes[p], f"values differ from oracle "
                     f"({g['rows']} rows vs {exp['rows']})")
    con.close()

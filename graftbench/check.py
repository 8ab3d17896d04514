"""Correctness checks for graftbench, recomputed independently in DuckDB.

CDC: the final table must equal the base plus the last operation per RECID
over the applied epochs, taken from the generator's typed values (never
from the program's decode); the rollup must equal a group-by-sum of the
final table. batch_mix: each query's set-up result must equal its DuckDB
oracle (`SparkEntry.oracleSql`) row for row, and every timed execution's
fingerprint must equal the fingerprint of that verified result.
"""
import decimal
import hashlib
import json
import os
import re

import pyarrow.parquet as pq

import build
import gen

# cdc_hot's decoded columns, with the types the program casts to.
CDC_COLUMNS = [("RECID", "VARCHAR"), ("CDC_TS", "BIGINT"), ("GRP", "VARCHAR"),
               ("AMT", "DECIMAL(18,2)"), ("STATUS", "VARCHAR"), ("ORDER_DATE", "DATE"),
               ("TAGS", "VARCHAR")]
BATCH_TABLES = ["nation", "customer", "orders", "lineitem", "documents", "embeddings"]


def _glob(path):
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def check_cdc(in_dir, table_path, mv_path, applied):
    """Returns (failed epoch ids, detail). An epoch fails when it was the
    last to touch a RECID whose row is wrong, or touched a rollup group
    whose row is wrong; a wrong row only the base touched fails them all."""
    con = gen.connect()
    names = ", ".join(c for c, _ in CDC_COLUMNS)
    casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in CDC_COLUMNS)
    con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{in_dir}/truth.parquet')")
    con.execute("CREATE TABLE applied (e BIGINT)")
    con.executemany("INSERT INTO applied VALUES (?)", [[-1]] + [[e] for e in applied])
    con.execute(f"""CREATE VIEW expected AS SELECT {names} FROM (
        SELECT *, row_number() OVER (PARTITION BY RECID ORDER BY CDC_TS DESC) AS rn
        FROM truth WHERE e IN (SELECT e FROM applied)) WHERE rn = 1 AND OP = 'U'""")
    con.execute(f"CREATE VIEW actual AS SELECT {casts} FROM read_parquet('{_glob(table_path)}')")
    bad_keys = [r[0] for r in con.sql("""SELECT DISTINCT RECID FROM (
        (SELECT * FROM expected EXCEPT ALL SELECT * FROM actual) UNION ALL
        (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected))""").fetchall()]
    bad_groups = [r[0] for r in con.sql(f"""SELECT DISTINCT GRP FROM (
        (SELECT GRP, CAST(n_rows AS BIGINT) n, CAST(sum_val AS DECIMAL(38,4)) s
           FROM read_parquet('{_glob(mv_path)}')
         EXCEPT ALL
         SELECT GRP, count(*), CAST(sum(AMT) AS DECIMAL(38,4)) FROM actual GROUP BY GRP)
        UNION ALL
        (SELECT GRP, count(*), CAST(sum(AMT) AS DECIMAL(38,4)) FROM actual GROUP BY GRP
         EXCEPT ALL
         SELECT GRP, CAST(n_rows AS BIGINT), CAST(sum_val AS DECIMAL(38,4))
           FROM read_parquet('{_glob(mv_path)}')))""").fetchall()]
    failed = set()
    if bad_keys:
        con.execute("CREATE TABLE bad (RECID VARCHAR)")
        con.executemany("INSERT INTO bad VALUES (?)", [[k] for k in bad_keys])
        last = [r[0] for r in con.sql("""SELECT max(e) FROM truth
            WHERE e IN (SELECT e FROM applied) AND RECID IN (SELECT RECID FROM bad)
            GROUP BY RECID""").fetchall()]
        failed |= set(applied) if -1 in last else set(last)
    if bad_groups:
        con.execute("CREATE TABLE badg (GRP VARCHAR)")
        con.executemany("INSERT INTO badg VALUES (?)", [[g] for g in bad_groups])
        failed |= {r[0] for r in con.sql("""SELECT DISTINCT e FROM truth
            WHERE e >= 0 AND e IN (SELECT e FROM applied) AND GRP IN (SELECT GRP FROM badg)""").fetchall()}
        if not failed:
            failed = set(applied)
    detail = {"rows": con.sql("SELECT count(*) FROM actual").fetchone()[0],
              "bad_keys": len(bad_keys), "bad_groups": len(bad_groups)}
    return failed, detail


def _norm(v):
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())  # equal values, one spelling
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rows(tbl):
    cols = sorted(tbl.column_names)
    return cols, [tuple(_norm(r[c]) for c in cols) for r in tbl.to_pylist()]


def _digest(cols, rows):
    return hashlib.sha256(json.dumps([cols, rows], default=repr).encode()).hexdigest()


def _oracle(con, data_dir, sql):
    """(columns, row count, digest) of the oracle's result, memoized under
    .bench_build by the SQL text and the bytes of the tables it reads: the
    same oracle over the same inputs is verified once per checkout."""
    h = hashlib.sha256(sql.encode())
    for t in BATCH_TABLES:
        if re.search(rf"\b{t}\b", sql):
            with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
    path = os.path.join(build.BUILD_DIR, "oracle-cache", h.hexdigest() + ".json")
    if not os.path.exists(path):
        cols, rows = _rows(con.sql(sql).arrow())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump([cols, len(rows), _digest(cols, rows)], f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def check_batch(data_dir, results_dir, oracle_json):
    """Returns {query: None if it matches its oracle, else the reason}."""
    oracles = json.load(open(oracle_json))
    con = gen.connect()
    for t in BATCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdict = {}
    for name, sql in sorted(oracles.items()):
        try:
            scols, srows = _rows(pq.read_table(os.path.join(results_dir, name)))
            dcols, dcount, digest = _oracle(con, data_dir, sql)
            if scols != dcols:
                verdict[name] = f"columns {scols} vs {dcols}"
            elif _digest(scols, srows) != digest:
                verdict[name] = f"rows differ ({len(srows)} vs {dcount})"
            else:
                verdict[name] = None
        except Exception as e:  # a result that cannot be read or compared fails
            verdict[name] = f"{type(e).__name__}: {str(e)[:200]}"
    return verdict

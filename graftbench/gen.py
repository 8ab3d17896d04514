"""Deterministic input generation for the graftbench workloads.

Every byte the program reads is derived from the seed here: the same seed
writes byte-identical files, another seed writes different ones. Inputs
are written with pyarrow (the writer the engine's own sf tables come from),
one row group per file.

cdc_hot writes, under ``<dir>/``:
  base.parquet            the pre-loaded table, as raw records
  warm/e-NNNNNN.parquet   the warm-up epochs, streamed into a throwaway table
  epochs/e-NNNNNN.parquet the epochs streamed, in order, into the timed table
  truth.parquet           the decoded values of the base (e = -1) and of
                          every timed epoch (e = its batch id), read only
                          by the correctness check

batch_mix writes the sf-shaped tables the query mix reads.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# cdc_hot's shape: `keys` is the pre-loaded table size, `rows` the epoch
# size, `hot` the contiguous share of keys the epochs draw from, `warm`
# the warm-up epochs and `timed` the epochs staged for the timed stream.
CDC = dict(keys=15000, rows=900, hot=0.02, warm=2, timed=60)
DELETE_PCT = 5

BATCH = dict(orders=20000, customers=2000, docs=500, doc_families=80,
             vectors=300, vector_clusters=15, dim=64)
CC_SEED = 20240601


def connect():
    con = duckdb.connect()
    # the generator never needs an extension that is not built in
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute("SET threads=2")
    return con


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 30, compression="snappy")


def _records_sql(seed, first, count, rows, keys, hot_lo, hot_n):
    """Typed CDC records of epochs [first, first+count); e = -1 is the base."""
    if first < 0:
        grid = f"SELECT -1 AS e, i AS r, i AS k FROM range({keys}) t(i)"
        op = "'U'"
        ts = "CAST(r AS BIGINT)"
    else:
        grid = (f"SELECT e, r, {hot_lo} + hash({seed}, 1, e, r) % {hot_n} AS k "
                f"FROM range({first}, {first + count}) a(e), range({rows}) b(r)")
        op = f"CASE WHEN h1 % 100 < {DELETE_PCT} THEN 'D' ELSE 'U' END"
        ts = "CAST((e + 1) * 1000000 + r AS BIGINT)"
    return f"""
    WITH g AS (SELECT *, hash({seed}, 2, e, r) AS h1, hash({seed}, 3, e, r) AS h2,
                 hash({seed}, 4, e, r) AS h3 FROM ({grid}))
    SELECT CAST(e AS BIGINT) AS e, CAST(r AS BIGINT) AS r,
      lpad(CAST(k AS VARCHAR), 10, '0') AS RECID,
      {op} AS OP, {ts} AS CDC_TS,
      ['O', 'F', 'P'][1 + CAST(h1 // 100 % 3 AS INTEGER)] AS STATUS,
      DATE '1992-01-01' + CAST(h2 % 2500 AS INTEGER) AS ORDER_DATE,
      'G' || lpad(CAST(h3 // 13 % 16 AS VARCHAR), 2, '0') AS GRP,
      printf('%d.%02d', CAST(h2 // 17 % 100000 AS BIGINT), CAST(h1 // 19 % 100 AS BIGINT)) AS amt_s,
      't' || CAST(h3 // 23 % 50 AS VARCHAR) AS tag1,
      't' || CAST(h3 // 29 % 50 AS VARCHAR) AS tag2
    FROM g ORDER BY e, r"""


# the decoded values the program must produce, from the typed records
TRUTH_SQL = """SELECT e, r, RECID, OP, CDC_TS, STATUS, ORDER_DATE, GRP,
  CAST(amt_s AS DECIMAL(18,2)) AS AMT, tag1 || chr(253) || tag2 AS TAGS
  FROM recs ORDER BY e, r"""

# the encoded records the program decodes: one hex BLOB per record, FE
# between fields and FD between the values of the multivalue TAGS field
BLOB_SQL = "SELECT e, RECID, " + " || 'FE' || ".join(f"hex({c})" for c in [
    "OP", "CAST(CDC_TS AS VARCHAR)", "GRP", "amt_s", "STATUS",
    "strftime(ORDER_DATE, '%Y%m%d')"]) + \
    " || 'FE' || hex(tag1) || 'FD' || hex(tag2) AS BLOB FROM recs ORDER BY e, r"


def _write_epochs(raw, first, count, out):
    """One file per epoch of `raw` in [first, first+count), named by its
    position in `out`."""
    os.makedirs(out)
    bounds = np.searchsorted(raw.column("e").to_numpy(), np.arange(first, first + count + 1))
    for i in range(count):
        path = os.path.join(out, f"e-{i:06d}.parquet")
        _write(raw.slice(bounds[i], bounds[i + 1] - bounds[i]).drop(["e"]), path)
        # the file source orders by modification time: make it the epoch order
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))


def gen_cdc(seed, out):
    s = CDC
    hot_n = int(s["keys"] * s["hot"])
    # a fixed hot range, inside one file of the range-laid base table, so
    # every seed prunes to the same share of files
    hot_lo = int(s["keys"] * 0.3) - hot_n // 2
    con = connect()
    con.execute("CREATE TABLE recs AS " + _records_sql(
        seed, -1, 1, s["rows"], s["keys"], hot_lo, hot_n))
    truth = [con.sql(TRUTH_SQL).arrow()]
    _write(con.sql(BLOB_SQL).arrow().drop(["e"]), os.path.join(out, "base.parquet"))
    # warm-up epochs come first in the record stream, timed ones after
    con.execute("CREATE OR REPLACE TABLE recs AS " + _records_sql(
        seed, 0, s["warm"] + s["timed"], s["rows"], s["keys"], hot_lo, hot_n))
    raw = con.sql(BLOB_SQL).arrow()
    _write_epochs(raw, 0, s["warm"], os.path.join(out, "warm"))
    _write_epochs(raw, s["warm"], s["timed"], os.path.join(out, "epochs"))
    truth.append(con.sql(f"""SELECT * REPLACE (e - {s["warm"]} AS e)
        FROM ({TRUTH_SQL}) WHERE e >= {s["warm"]}""").arrow())
    _write(pa.concat_tables(truth), os.path.join(out, "truth.parquet"))
    return dict(keys=s["keys"], rows=s["rows"], hot_keys=hot_n, hot_lo=hot_lo,
                warm_epochs=s["warm"], staged_epochs=s["timed"])


# ---- batch_mix: the sf-shaped tables the eight queries read ----

WORDS = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data vector index join shuffle plan cache disk node task stage job "
         "fold map reduce tree graph edge label token text page file block "
         "commit log state epoch event time late early lake delta").split()


def gen_batch(seed, out):
    b = BATCH
    rng = np.random.default_rng(seed)
    n_o, n_c = b["orders"], b["customers"]
    day0 = np.datetime64("1992-01-01", "us")

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    customer = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_c).tolist()})
    odays = rng.integers(0, 2400, n_o)
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_o).tolist(),
        "o_totalprice": np.round(rng.uniform(900, 450000, n_o), 2),
        "o_orderdate": pa.array(day0 + odays.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_o).tolist()})
    per = rng.integers(1, 8, n_o)
    lk = np.repeat(np.arange(n_o, dtype=np.int64), per)
    n_l = len(lk)
    lineitem = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, 20000, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n_l).astype(np.int64),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, p + 1) for p in per]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_l).tolist(),
        "l_shipdate": pa.array(day0 + (np.repeat(odays, per) + rng.integers(1, 122, n_l))
                               .astype("timedelta64[D]"), pa.timestamp("us"))})

    # documents and embeddings feed the connected-components trio, whose
    # DuckDB oracles cost ~9 s: they come from a fixed seed, so a run can
    # reuse the oracle result its checkout already verified (check.py)
    rng = np.random.default_rng(CC_SEED)
    # documents: families of near-duplicates (a few token substitutions
    # of one base text) so the SimHash pairs and the CC loop have work
    texts = []
    fam_of = rng.integers(0, b["doc_families"], b["docs"])
    bases = [rng.choice(WORDS, rng.integers(30, 60)).tolist()
             for _ in range(b["doc_families"])]
    for d in range(b["docs"]):
        toks = list(bases[fam_of[d]])
        for _ in range(int(rng.integers(0, 3))):
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
        texts.append(" ".join(toks))
    documents = pa.table({
        "doc_id": np.arange(b["docs"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "zh"], b["docs"]).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 5, b["docs"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # clusters around distinct axes: tight inside (cosine ~0.75), near
    # orthogonal across, so the similarity graph has many components
    lab = rng.integers(0, b["vector_clusters"], b["vectors"])
    vec = np.eye(b["dim"])[lab] + rng.normal(scale=0.07, size=(b["vectors"], b["dim"]))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(b["vectors"], dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})

    for name, t in [("nation", nation), ("customer", customer), ("orders", orders),
                    ("lineitem", lineitem), ("documents", documents),
                    ("embeddings", embeddings)]:
        _write(t, os.path.join(out, f"{name}.parquet"))
    return {k: v for k, v in b.items()} | {"lineitems": int(n_l)}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload == "cdc_hot":
        return gen_cdc(seed, out)
    return gen_batch(seed, out)

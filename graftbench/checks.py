"""Correctness checks that run outside the JVM, in DuckDB.

- ``ingest_lww``: each exported HUB table must equal an independent
  last-writer-wins over every batch ingested, compared as an
  order-insensitive hash of canonical columns.
- ``curation_oracle``: each query's answer must match its
  ``SparkEntry.oracleSql`` under the hash rules of
  ``scripts/check_oracle.py`` (column names, row count, sorted-row hash;
  integer-width type divergence is a failure, decimal-vs-float is not).
"""
import hashlib
import json
import math
import os

import duckdb

# entity -> (reader, key columns, canonical columns)
INGEST = {
    "orders": (
        "read_parquet('{p}/*.parquet')", ["o_orderkey"],
        ["o_orderkey::BIGINT", "o_custkey::BIGINT", "o_orderstatus::VARCHAR",
         "o_totalprice::DOUBLE", "epoch_us(o_orderdate)",
         "o_orderpriority::VARCHAR"]),
    "customers": (
        "read_csv('{p}/*.csv', header=true, columns={{'c_custkey': 'BIGINT', "
        "'c_name': 'VARCHAR', 'c_nationkey': 'BIGINT', 'c_acctbal': 'DOUBLE', "
        "'c_mktsegment': 'VARCHAR'}})", ["c_custkey"],
        ["c_custkey::BIGINT", "c_name::VARCHAR", "c_nationkey::BIGINT",
         "c_acctbal::DOUBLE", "c_mktsegment::VARCHAR"]),
    "lineitems": (
        "read_json('{p}/*.json', format='newline_delimited', columns={{"
        "'l_orderkey': 'BIGINT', 'l_linenumber': 'BIGINT', 'l_partkey': 'BIGINT', "
        "'l_quantity': 'BIGINT', 'l_extendedprice': 'DOUBLE', "
        "'l_discount': 'DOUBLE', 'l_returnflag': 'VARCHAR', "
        "'l_shipdate': 'VARCHAR'}})", ["l_orderkey", "l_linenumber"],
        ["l_orderkey::BIGINT", "l_linenumber::BIGINT", "l_partkey::BIGINT",
         "l_quantity::BIGINT", "l_extendedprice::DOUBLE", "l_discount::DOUBLE",
         "l_returnflag::VARCHAR", "l_shipdate::VARCHAR"]),
}


def _digest(con, rel, cols):
    n, h = con.execute(
        f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT)::VARCHAR "
        f"FROM {rel}").fetchone()
    return n, h


def ingest_lww(input_dir, check_dir, last_batch):
    """One (name, ok, detail) per entity."""
    con = duckdb.connect()
    out = []
    for e, (reader, keys, cols) in INGEST.items():
        parts = " UNION ALL ".join(
            f"SELECT *, {b} AS _b FROM "
            + reader.format(p=os.path.join(input_dir, "batches", str(b), e))
            for b in range(last_batch + 1))
        lww = (f"(SELECT * FROM ({parts}) QUALIFY row_number() OVER "
               f"(PARTITION BY {', '.join(keys)} ORDER BY _b DESC) = 1)")
        want = _digest(con, lww, cols)
        got = _digest(con, f"read_parquet('{check_dir}/{e}/*.parquet')", cols)
        out.append((f"hub_lww.{e}", got == want,
                    f"hub rows={got[0]} lww rows={want[0]}"))
    return out


# ---- the hash rules of scripts/check_oracle.py


def _type_class(t):
    t = str(t)
    if t == "HUGEINT":
        return "int128"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "float"
    return t


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in sorted("|".join(_canon(r[i]) for i in order) for r in rows):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()


def curation_oracle(input_dir, check_dir):
    """One (name, ok, detail) per query in ``oracle_sql.json``."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = []
    for name, sql in sorted(oracles.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')")
            exp = con.sql(sql)
            gt = dict(zip(got.columns, got.types))
            et = dict(zip(exp.columns, exp.types))
            hard = [c for c in set(gt) & set(et)
                    if _type_class(gt[c]) != _type_class(et[c])]
            g_rows, e_rows = got.fetchall(), exp.fetchall()
        except Exception as ex:  # an oracle error is a failed check
            out.append((f"oracle.{name}", False, f"error {ex}"))
            continue
        if hard:
            ok, detail = False, f"type divergence {hard}"
        elif sorted(got.columns) != sorted(exp.columns):
            ok, detail = False, f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
        elif len(g_rows) != len(e_rows):
            ok, detail = False, f"rows {len(g_rows)} != {len(e_rows)}"
        else:
            ok = _table_hash(got.columns, g_rows) == _table_hash(exp.columns, e_rows)
            detail = f"{len(g_rows)} rows" + ("" if ok else " hash mismatch")
        out.append((f"oracle.{name}", ok, detail))
    return out

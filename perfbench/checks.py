"""Output checks, run after the measured window on what the harness wrote
under the run's check directory, once per op type.

- Registry queries: the repository's own comparator, tools/check.py, runs
  each declared DuckDB oracle over the same parquet.
- mor_dml: a DuckDB model applies the same seeded upserts and deletes to
  the keyed lineitem copy; each lane's final table and each read type must
  match.

Each check returns {op name: error text} for the op types that failed.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq


def check_registry(root, check_dir, data_dir, oracles, names):
    bad = {n: f"FAIL {n}: the registry declares no oracle" for n in names if n not in oracles}
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    res = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                          check_dir, data_dir], capture_output=True, text=True)
    for line in res.stdout.splitlines():
        if line.startswith("FAIL "):
            name = line[5:].split(":", 1)[0]
            bad[name] = line
    if res.returncode != 0 and not bad:
        bad["tools/check.py"] = (res.stdout + res.stderr).strip()[-500:]
    return bad


DSUM = "CAST(SUM(CAST({} AS DECIMAL(30,8))) AS DOUBLE)"


def _batch_sql(a):
    m, upd, delta, ins, off = a
    return (f"SELECT * REPLACE (l_quantity + {delta} AS l_quantity) FROM base "
            f"WHERE l_orderkey % {m} = {upd} UNION ALL "
            f"SELECT * REPLACE (l_rowid + {off} AS l_rowid, l_orderkey + {off} AS l_orderkey) "
            f"FROM base WHERE l_orderkey % {m} = {ins}")


def _delete_pred(a):
    m, r = a
    return f"l_orderkey % {m} = {r}"


def _q6_pred(a):
    d0, d1, lo, hi, q = a
    return (f"l_shipdate >= TIMESTAMP '{d0}' AND l_shipdate < TIMESTAMP '{d1}' "
            f"AND l_discount BETWEEN {lo} AND {hi} AND l_quantity < {q}")


def _replay(con, ops, check_dir, bad):
    """Applies `ops` [(plan index, kind, args)] to a fresh model table `t`,
    checking each read whose output the engine wrote as op<index>."""
    con.sql("CREATE OR REPLACE TABLE t AS SELECT * FROM base")
    changes = []  # the current cycle's (change_type, version ordinal, table)
    for i, k, a in ops:
        if k == "upsert":
            con.sql(f"CREATE OR REPLACE TABLE b AS {_batch_sql(a)}")
            con.sql("CREATE OR REPLACE TABLE old_images AS SELECT * FROM t "
                    "WHERE l_rowid IN (SELECT l_rowid FROM b)")
            changes = [("delete", 1, "old_images"), ("insert", 1, "b")]
            con.sql("DELETE FROM t WHERE l_rowid IN (SELECT l_rowid FROM b)")
            con.sql("INSERT INTO t SELECT * FROM b")
        elif k == "delete":
            con.sql(f"CREATE OR REPLACE TABLE deleted AS SELECT * FROM t WHERE {_delete_pred(a)}")
            changes.append(("delete", 2, "deleted"))
            con.sql(f"DELETE FROM t WHERE {_delete_pred(a)}")
        elif k.startswith("read_") and os.path.isdir(os.path.join(check_dir, f"op{i}")):
            out = f"read_parquet('{check_dir}/op{i}/*.parquet')"
            if k == "read_pruned":
                want = (f"SELECT l_returnflag, COUNT(*), {DSUM.format('l_extendedprice')} FROM t "
                        f"WHERE {_q6_pred(a)} GROUP BY 1")
                got = f"SELECT l_returnflag, n, price FROM {out}"
            else:
                want = " UNION ALL ".join(
                    f"SELECT '{c}', {v}, COUNT(*), {DSUM.format('l_quantity')} FROM {tbl} "
                    f"HAVING COUNT(*) > 0" for c, v, tbl in changes)
                got = (f"SELECT change_type, CAST(dense_rank() OVER (ORDER BY version) AS INTEGER), "
                       f"n, qty FROM {out}")
            w, g = sorted(con.sql(want).fetchall()), sorted(con.sql(got).fetchall())
            if w != g:
                bad[k] = f"op {i}: engine {g} != model {w}"


def check_mor(check_dir, keyed, plan):
    """Replays warm-up cycle 0 on DuckDB to check the reads it wrote, then
    the measured cycles to check each lane's final table."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"CREATE TABLE base AS SELECT * FROM read_parquet('{keyed}/*.parquet')")
    ops = [(i, ph, r, k, a) for i, (ph, r, k, a) in enumerate(plan)]
    bad = {}
    _replay(con, [(i, k, a) for i, ph, r, k, a in ops if ph == "warm" and r == 0], check_dir, bad)
    for k in ("read_pruned", "read_changes"):
        if not any(o[3] == k and o[1] == "warm" and o[2] == 0 and
                   os.path.isdir(os.path.join(check_dir, f"op{o[0]}")) for o in ops):
            bad[k] = f"{k}: the engine wrote no output to check"
    _replay(con, [(i, k, a) for i, ph, r, k, a in ops if ph == "meas"], check_dir, bad)
    cols = ", ".join(r[0] for r in con.sql("DESCRIBE base").fetchall())
    finals = sorted(d for d in os.listdir(check_dir) if d.startswith("final-"))
    if not finals:
        bad["upsert"] = "the engine wrote no final table to check"
    for d in finals:
        final = f"read_parquet('{check_dir}/{d}/*.parquet')"
        diff = con.sql(f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM t EXCEPT ALL "
                       f"SELECT {cols} FROM {final})), (SELECT count(*) FROM (SELECT {cols} "
                       f"FROM {final} EXCEPT ALL SELECT {cols} FROM t))").fetchone()
        if diff != (0, 0):
            for k in ("upsert", "delete", "maintain"):
                bad[k] = (f"{d} differs from the DuckDB model: {diff[0]} model rows "
                          f"missing, {diff[1]} extra")
    return bad


def write_keyed_lineitem(data_dir, dest, files=32):
    """lineitem plus `l_rowid`, a unique row key (lineitem's own
    (l_orderkey, l_linenumber) repeats), as `files` parquet files of
    consecutive rowids under `dest`. Rowids follow a total order on all
    columns, so rows that tie are identical and the copy is deterministic."""
    con = duckdb.connect()
    src = f"read_parquet('{data_dir}/lineitem.parquet')"
    cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    order = ", ".join(f"{c} ASC NULLS FIRST" for c in cols)
    t = con.sql(f"SELECT CAST(row_number() OVER (ORDER BY {order}) - 1 AS BIGINT) AS l_rowid, * "
                f"FROM {src} ORDER BY l_rowid").arrow()
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-t.num_rows // files)
    for i in range(files):
        pq.write_table(t.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, dest)

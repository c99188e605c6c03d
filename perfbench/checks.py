"""Output checks for the graft benchmark, computed in DuckDB apart from Spark.

Each check returns the set of op keys whose output is wrong, so run.py can
count those ops as failed:

- query_board: every listed query's Spark result against its
  `SparkEntry.oracleSql` run by DuckDB over the same parquet tables, under
  the comparison rules of `tools/compare.py` (columns by name, dtype kinds,
  rows sorted, floats to 1e-6 relative);
- stream_batches: each batch's CUSUM ledger row against DuckDB's sum and
  count over the file that fed it, the ledger's running sums against the
  recurrence documented in `StreamingCusum`, and each month's
  `wholesale_cm2` order count and cent total against DuckDB over that
  month's landed bronze.
"""
import glob
import os
import sys
from pathlib import Path

import duckdb

# the comparison rules of the repository's correctness gate
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from compare import TABLES, close, kind, norm  # noqa: E402

# StreamingCusum.processBatch's default reference length
REF_BATCHES = 8


def compare(oracle, spark):
    """None when two DuckDB relations hold the same result, else the reason."""
    ocols, scols = sorted(oracle.columns), sorted(spark.columns)
    if ocols != scols:
        return f"columns differ: oracle={ocols} spark={scols}"
    okind = dict(zip(oracle.columns, (kind(str(t)) for t in oracle.types)))
    skind = dict(zip(spark.columns, (kind(str(t)) for t in spark.types)))
    bad = [c for c in ocols if okind[c] != skind[c]]
    if bad:
        return f"dtype kind differs on {bad[0]}: oracle={okind[bad[0]]} spark={skind[bad[0]]}"
    orows = norm(oracle.select(", ".join(f'"{c}"' for c in ocols)).fetchall())
    srows = norm(spark.select(", ".join(f'"{c}"' for c in scols)).fetchall())
    if len(orows) != len(srows):
        return f"rowcount oracle={len(orows)} spark={len(srows)}"
    for i, (orow, srow) in enumerate(zip(orows, srows)):
        for j, (a, b) in enumerate(zip(orow, srow)):
            if not close(a, b):
                return f"row {i} col {ocols[j]}: oracle={a!r} spark={b!r}"
    return None


def check_queries(info, data_dir):
    """Failed query names, each with its reason."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failed = {}
    for q in info["queries"]:
        name = q["name"]
        if q["warmup_error"]:
            failed[name] = "spark error: " + q["warmup_error"]
            continue
        if not q["oracle"]:
            failed[name] = "no oracle SQL"
            continue
        try:
            why = compare(con.sql(q["oracle"]),
                          con.sql(f"SELECT * FROM '{q['result']}/*.parquet'"))
        except duckdb.Error as e:
            why = f"duckdb error: {e}"
        if why:
            failed[name] = why
    return failed


def cusum_expected(kpis, ref_batches=REF_BATCHES):
    """The ledger's (s_up, smin_up, s_dn, smin_dn) per batch, recomputed from
    the kpi sequence with StreamingCusum's recurrence: the reference is the
    first `ref_batches` kpis (tr = their sum, n_ref their count), dev =
    kpi*n_ref - tr, slack = tr div 20, s = s_prev + (dev - slack) on the up
    side and s_prev + (-dev - slack) on the down side, smin = min(smin_prev,
    s); warm-up batches (n_ref < ref_batches) carry zeros.
    """
    out = []
    prev = (0, 0, 0, 0)
    for i, kpi in enumerate(kpis):
        n_ref = min(i, ref_batches)
        if n_ref < ref_batches:
            row = (0, 0, 0, 0)
        else:
            tr = sum(kpis[:ref_batches])
            dev = kpi * n_ref - tr
            slack = tr // 20
            s_up = prev[0] + (dev - slack)
            s_dn = prev[2] + (-dev - slack)
            row = (s_up, min(prev[1], s_up), s_dn, min(prev[3], s_dn))
        out.append(row)
        prev = row
    return out


def _bronze_rows(files):
    """SQL over landed bronze JSON files, typed as Cleanse.joor types them."""
    paths = ", ".join(f"'{f}'" for f in files)
    return f"""
        SELECT raw_api_data.order_id AS order_id,
               coalesce(TRY_CAST(raw_api_data.price AS DOUBLE), 0.0) AS price,
               coalesce(TRY_CAST(raw_api_data.quantity AS INTEGER), 0) AS quantity
        FROM read_json([{paths}], format = 'newline_delimited',
             columns = {{raw_api_data: 'STRUCT(order_id VARCHAR, price VARCHAR, quantity VARCHAR)'}})"""


# Spark's cast of a double to DECIMAL(18,2): its shortest decimal string,
# rounded half-up once
SPARK_CENTS = "CAST(round(CAST(CAST({} AS VARCHAR) AS DECIMAL(38,20)), 2) AS DECIMAL(18,2))"


def check_stream(info):
    """Failed batch ids, each with its reason."""
    con = duckdb.connect()
    batches = info["batches"]
    failed = {}
    # the truth per batch, from the file that fed it
    truth = [con.sql(f"SELECT count(*), CAST(coalesce(sum(quantity), 0) AS BIGINT) "
                     f"FROM ({_bronze_rows([b['file']])})").fetchone() for b in batches]
    cusum = cusum_expected([kpi for _, kpi in truth])
    for b, (n, kpi), w in zip(batches, truth, cusum):
        part = f"{info['ledger']}/batch_id={b['id']}"
        rows = con.sql(f"SELECT n_rows, kpi, s_up, smin_up, s_dn, smin_dn "
                       f"FROM '{part}/*.parquet'").fetchall() if glob.glob(f"{part}/*.parquet") else []
        if len(rows) != 1:
            failed[b["id"]] = f"ledger holds {len(rows)} rows for the batch"
            continue
        got = tuple(int(v) for v in rows[0])
        if got[:2] != (n, kpi):
            failed[b["id"]] = f"ledger n_rows/kpi {got[:2]} but the file holds {(n, kpi)}"
        elif got[2:] != w:
            failed[b["id"]] = f"cusum {got[2:]} but the recurrence gives {w}"
    months = sorted({b["month"] for b in batches})
    for m in months:
        ids = [b["id"] for b in batches if b["month"] == m]
        files = [b["file"] for b in batches if b["month"] == m]
        want = con.sql(f"""
            SELECT count(*), CAST(sum(CAST(net * 100 AS BIGINT)) AS BIGINT) FROM (
              SELECT order_id, {SPARK_CENTS.format("sum(price)")} AS net
              FROM ({_bronze_rows(files)}) GROUP BY order_id)""").fetchone()
        mart = f"{info['gold']}/month_key={m}"
        got = (0, 0)
        if os.path.isdir(mart):
            got = con.sql(f"SELECT count(*), CAST(sum(CAST(round(net_revenue * 100) AS BIGINT)) AS BIGINT) "
                          f"FROM '{mart}/*.parquet'").fetchone()
        if tuple(got) != tuple(want):
            for i in ids:
                failed.setdefault(i, f"month {m}: mart orders/cents {tuple(got)} "
                                     f"but bronze gives {tuple(want)}")
    return failed

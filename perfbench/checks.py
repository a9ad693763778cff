"""Output checks: each workload's results against an independent DuckDB result.

- registry workloads: each query's first result (written by the cold pass)
  is hash-compared with its DuckDB oracle SQL over the same corpus, in the
  canonical form of tools/check.py: columns sorted by name, rows sorted,
  NaN read as NULL.
- etl_medallion: every pass's RuleStats and ValidationReport must equal a
  DuckDB recount over the Bronze CSVs, and the gold daily balance's
  flujo_neto_dia must equal the recount exactly.
- table_commits: the row count and price sum are checked inside the JVM
  after every cycle against a model kept beside the table; a mismatch
  fails the read op, so nothing is left to do here.
- etl_commits: both of the above.
"""
import datetime
import glob
import hashlib
import math
import time

import duckdb

from corpus import TABLES


def canon_val(v):
    import numpy as np
    import pandas as pd
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NULL" if math.isnan(v) else repr(float(v))
    if isinstance(v, np.ndarray):
        return "[" + ",".join(canon_val(x) for x in v) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_val(x) for x in v) + "]"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def canon(rel):
    df = rel.df()
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(canon_val(v) for v in t) for t in df.itertuples(index=False, name=None))
    return list(df.columns), len(rows), hashlib.md5(repr(rows).encode()).hexdigest()


def registry(res, corpus_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    dumps = res["summary"]["dumps"]
    cold_ok = {o["name"]: o["ok"] for o in res["cold"]["ops"]}
    failed, n, msgs, oracle_s = 0, 0, [], 0.0
    for name, sql in sorted(res["summary"]["oracle"].items()):
        if not cold_ok.get(name):
            continue  # already failed as an op
        n += 1
        files = glob.glob(f"{dumps}/{name}/*.parquet")
        got = canon(con.sql(f"SELECT * FROM read_parquet({files!r})"))
        if sql is None:
            continue  # no oracle: the result was read back, rows only
        t0 = time.time()
        want = canon(con.sql(sql))
        oracle_s += time.time() - t0
        if got != want:
            failed += 1
            msgs.append(f"FAIL check {name}: spark cols/rows/hash {got} != oracle {want}")
    return {"failed": failed, "checks": n, "messages": msgs, "oracle_s": round(oracle_s, 4)}


ETL_RECOUNT = """
WITH f AS (
  SELECT * FROM read_csv('{bronze}/fact_transactions/*.csv', header=true,
    columns={{'id_transaccion':'VARCHAR','id_atm':'VARCHAR','fecha':'TIMESTAMP',
              'monto':'DECIMAL(18,2)','tipo_movimiento':'VARCHAR',
              'status_transaccion':'VARCHAR'}})),
d AS (
  SELECT * FROM read_csv('{bronze}/dim_atms/*.csv', header=true,
    columns={{'id_atm':'VARCHAR','ubicacion':'VARCHAR','latitud':'DOUBLE',
              'longitud':'DOUBLE','capacidad_maxima':'BIGINT','modelo':'VARCHAR',
              'estado':'VARCHAR'}})),
j AS (
  SELECT f.*, d.ubicacion,
    f.id_atm IS NOT NULL AS r_atm,
    (f.monto IS NOT NULL AND f.monto > 0) AS r_monto,
    (f.fecha IS NOT NULL AND f.fecha <= TIMESTAMP '{clock}') AS r_fecha,
    f.status_transaccion IN ('EXITOSA') AS r_status
  FROM f LEFT JOIN d USING (id_atm))
"""


def etl(res, _corpus_dir):
    s = res["summary"]
    con = duckdb.connect()
    base = ETL_RECOUNT.format(bronze=s["bronze"], clock=s["clock"])
    t0 = time.time()
    stats = con.sql(base + """
      SELECT count(*),
        count(*) FILTER (WHERE r_atm AND r_monto AND r_fecha AND r_status),
        count(CASE WHEN NOT r_atm THEN 1 END), count(CASE WHEN NOT r_monto THEN 1 END),
        count(CASE WHEN NOT r_fecha THEN 1 END), count(CASE WHEN NOT r_status THEN 1 END)
      FROM j""").fetchone()
    want_stats = {"total": stats[0], "kept": stats[1], "violations": {
        "id_atm_not_null": stats[2], "monto_positive": stats[3],
        "fecha_not_future": stats[4], "status_transaccion_allowed": stats[5]}}
    kept = base + ", k AS (SELECT * FROM j WHERE r_atm AND r_monto AND r_fecha AND r_status)"
    v = con.sql(kept + """
      SELECT count(*), count(id_atm), count(monto), count(ubicacion),
        min(monto)::VARCHAR, max(monto)::VARCHAR, count(CASE WHEN monto <= 0 THEN 1 END),
        count(DISTINCT id_atm), count(DISTINCT CAST(fecha AS DATE)) FROM k""").fetchone()
    want_val = dict(zip(["total", "nn_atm", "nn_monto", "nn_ubicacion", "min_monto",
                         "max_monto", "montos_invalidos", "n_atms", "n_days"], v))
    flows = con.sql(kept + """
      SELECT id_atm, CAST(fecha AS DATE) AS fecha_dia,
        sum(CASE WHEN tipo_movimiento = 'DEPOSITO' THEN monto ELSE 0 END) -
        sum(CASE WHEN tipo_movimiento = 'RETIRO' THEN monto ELSE 0 END) AS flujo
      FROM k GROUP BY 1, 2""").fetchall()
    oracle_s = time.time() - t0
    failed, n, msgs = 0, 0, []
    for i, p in enumerate([res["cold"]] + res["passes"]):
        if "stats" not in p["extra"]:
            continue
        n += 1
        got_stats, got_val = p["extra"]["stats"], p["extra"]["validation"]
        if got_stats != want_stats or got_val != want_val:
            failed += 1
            msgs.append(f"FAIL check etl pass {i}: {got_stats} {got_val} != "
                        f"recount {want_stats} {want_val}")
    gold = glob.glob(f"{s['out']}/gold_daily_balance/*.parquet")
    if gold:
        n += 1
        got = con.sql(f"""SELECT id_atm, fecha_dia, flujo_neto_dia
                          FROM read_parquet({gold!r})""").fetchall()
        if sorted(got) != sorted(flows):
            failed += 1
            msgs.append(f"FAIL check gold_daily_balance: {len(got)} rows vs recount "
                        f"{len(flows)}, first diff "
                        f"{sorted(set(got) ^ set(flows))[:2]}")
    return {"failed": failed, "checks": n, "messages": msgs, "oracle_s": round(oracle_s, 4)}


def commits(res, _corpus_dir):
    n = sum(1 for p in [res["cold"]] + res["passes"] for o in p["ops"] if o["kind"] == "read")
    return {"failed": 0, "checks": n, "messages": []}


def both(res, corpus_dir):
    a, b = etl(res, corpus_dir), commits(res, corpus_dir)
    return {"failed": a["failed"] + b["failed"], "checks": a["checks"] + b["checks"],
            "messages": a["messages"] + b["messages"], "oracle_s": a["oracle_s"]}


def run(workload, res, corpus_dir):
    fn = {"registry_headline": registry, "registry_build": registry,
          "etl_medallion": etl, "table_commits": commits, "etl_commits": both}[workload]
    return fn(res, corpus_dir)

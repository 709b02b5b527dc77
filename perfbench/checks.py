"""Output checks, computed in DuckDB from the generated inputs and the
harness's parquet exports. Each check returns (name, ok, detail).

- silver: the reference's ROW_NUMBER() latest-wins dedup
  (docs/databricks_setup.md:170-198) over every DQ-passing landed row;
- gold: the reference's window SQL (:209-240) over that silver, within
  GOLD_TOL (relative);
- quarantine: exactly the injected violations of the landed files;
- converge: incremental waves and one backfill drop of the same bars give
  the same silver and gold (analyst_reads, whose set-up lands both);
- reads: each analyst read type against a recomputation over snapshots;
- basket: each query's output hash-matches its oracle SQL.
"""
import glob
import os

import duckdb

GOLD_TOL = 1e-9

DQ_PASS = ("symbol IS NOT NULL AND as_of_date IS NOT NULL "
           "AND volume >= 0 AND close >= 0")


def _files(paths):
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def silver_oracle_sql(files):
    return f"""
        SELECT symbol, as_of_date AS trade_date, open, high, low, close, volume,
               epoch_us(fetched_at) AS fetched_us, request_id, file_hash
        FROM (SELECT *, row_number() OVER (PARTITION BY symbol, as_of_date
                                           ORDER BY fetched_at DESC) AS rn
              FROM read_parquet({_files(files)}) WHERE {DQ_PASS})
        WHERE rn = 1"""


SILVER_COLS = ("symbol, trade_date, open, high, low, close, volume, "
               "epoch_us(fetched_at) AS fetched_us, request_id, file_hash")


def gold_oracle_sql(silver_view):
    return f"""
        SELECT symbol, trade_date, close,
          CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w20 AS DOUBLE) / count(*) OVER w20 AS ma_20,
          CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w50 AS DOUBLE) / count(*) OVER w50 AS ma_50,
          CASE WHEN count(*) OVER w20 > 1 THEN sqrt(greatest(
            (CAST(sum(CAST(close*close AS DECIMAL(18,4))) OVER w20 AS DOUBLE)
             - CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w20 AS DOUBLE)
               * CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w20 AS DOUBLE)
               / (count(*) OVER w20))
            / (count(*) OVER w20 - 1), 0.0)) END AS vol_20,
          lag(close, 1) OVER w AS prev_close,
          (close - lag(close, 1) OVER w) / nullif(lag(close, 1) OVER w, 0) AS daily_return
        FROM {silver_view}
        WINDOW w AS (PARTITION BY symbol ORDER BY trade_date),
          w20 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
          w50 AS (PARTITION BY symbol ORDER BY trade_date ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)"""


def connect():
    return duckdb.connect()


def final_silver(export):
    """The export of silver's last version: the run's final silver."""
    return sorted(glob.glob(os.path.join(export, "silver_v*")))[-1]


def set_equal(con, a_sql, b_sql):
    """(ok, detail): the two queries return the same multiset of rows."""
    n = con.sql(f"""SELECT (SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql}))),
                           (SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql})))""").fetchone()
    return n == (0, 0), f"extra={n[0]} missing={n[1]}"


def close_equal(con, got_sql, exp_sql, keys, exact, approx, tol=GOLD_TOL):
    """Rows joined on `keys`: `exact` columns equal, `approx` within tol."""
    on = " AND ".join(f"g.{k} = e.{k}" for k in keys)
    conds = [f"g.{c} IS NOT DISTINCT FROM e.{c}" for c in exact]
    conds += [f"((g.{c} IS NULL AND e.{c} IS NULL) OR "
              f"abs(g.{c} - e.{c}) <= {tol} * greatest(1.0, abs(e.{c})))" for c in approx]
    n_g, n_e, n_match = con.sql(f"""
        WITH g AS ({got_sql}), e AS ({exp_sql})
        SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM e),
               (SELECT count(*) FROM g JOIN e ON {on} WHERE {' AND '.join(conds)})""").fetchone()
    return n_g == n_e == n_match, f"rows got={n_g} exp={n_e} matching={n_match}"


def check_tables(con, input_dir, landed, export):
    """silver, gold and quarantine of a write workload's final tables."""
    files = [os.path.join(input_dir, f) for f in landed]
    con.sql(f"CREATE OR REPLACE VIEW silver_exp AS {silver_oracle_sql(files)}")
    con.sql(f"CREATE OR REPLACE VIEW silver_got AS SELECT {SILVER_COLS} "
            f"FROM read_parquet('{final_silver(export)}/*.parquet')")
    out = [("silver",) + set_equal(con, "SELECT * FROM silver_got", "SELECT * FROM silver_exp")]
    ok, detail = close_equal(
        con, f"SELECT * FROM read_parquet('{export}/gold/*.parquet')",
        gold_oracle_sql("silver_exp"), ["symbol", "trade_date"],
        ["close", "prev_close"], ["ma_20", "ma_50", "vol_20", "daily_return"])
    out.append(("gold", ok, detail))
    names = _files([os.path.relpath(f, input_dir) for f in files])
    out.append(("quarantine",) + set_equal(
        con,
        f"SELECT symbol, as_of_date, volume, epoch_us(fetched_at), dq_reason "
        f"FROM read_parquet('{export}/quarantine/*.parquet')",
        f"SELECT symbol, as_of_date, volume, epoch_us(fetched_at), dq_reason "
        f"FROM read_parquet('{input_dir}/violations.parquet') WHERE list_contains({names}, file)"))
    return out


def check_converge(con, export):
    """The incremental tables against the same bars landed as one backfill."""
    silver = [f"SELECT {SILVER_COLS} FROM read_parquet('{d}/*.parquet')"
              for d in (final_silver(export), f"{export}/backfill_silver")]
    ok, detail = close_equal(
        con, f"SELECT * FROM read_parquet('{export}/gold/*.parquet')",
        f"SELECT * FROM read_parquet('{export}/backfill_gold/*.parquet')",
        ["symbol", "trade_date"], ["close", "prev_close"],
        ["ma_20", "ma_50", "vol_20", "daily_return"])
    return [("converge_silver",) + set_equal(con, *silver), ("converge_gold", ok, detail)]


def check_reads(con, input_dir, version_files, export, checked):
    """One check per analyst read type, against the exported snapshots.
    `version_files[j]` lists the input files landed up to silver version j."""
    out = []
    n = len(version_files)
    # every set-up version of silver is itself checked against the dedup
    # oracle of the files landed up to it (time travel reads these)
    bad = []
    for j in range(n):
        ok, d = set_equal(
            con, f"SELECT {SILVER_COLS} FROM read_parquet('{export}/silver_v{j:03d}/*.parquet')",
            silver_oracle_sql([os.path.join(input_dir, f) for f in version_files[j]]))
        if not ok:
            bad.append(f"v{j}: {d}")
    out.append(("silver_versions", not bad, "; ".join(bad) or f"{n} versions"))
    gold = f"read_parquet('{export}/gold/*.parquet')"
    for kind, (sym, lo, hi, back) in checked.items():
        got = f"SELECT * FROM read_parquet('{export}/read_{kind}/*.parquet')"
        if kind == "gold_range":
            ok = close_equal(con, got,
                             f"SELECT * FROM {gold} WHERE symbol = '{sym}' "
                             f"AND trade_date BETWEEN DATE '{lo}' AND DATE '{hi}'",
                             ["symbol", "trade_date"], ["close", "prev_close"],
                             ["ma_20", "ma_50", "vol_20", "daily_return"])
        elif kind == "top_movers":
            ok = close_equal(con, got,
                             f"SELECT symbol, trade_date, close, daily_return FROM {gold} "
                             f"WHERE trade_date = DATE '{lo}' AND daily_return IS NOT NULL "
                             f"ORDER BY daily_return DESC, symbol LIMIT 10",
                             ["symbol", "trade_date"], ["close"], ["daily_return"])
        elif kind == "latest_day_dq":
            s = f"read_parquet('{final_silver(export)}/*.parquet')"
            ok = set_equal(con,
                           f"SELECT symbol, n, epoch_us(latest_ts), n_bad, n_requests FROM ({got})",
                           f"""SELECT symbol, count(*), epoch_us(max(fetched_at)),
                                 CAST(sum(CASE WHEN close < 0 OR volume < 0 THEN 1 ELSE 0 END) AS BIGINT),
                                 count(DISTINCT request_id)
                               FROM {s} WHERE trade_date = (SELECT max(trade_date) FROM {s})
                               GROUP BY symbol""")
        elif kind == "time_travel":
            s = f"read_parquet('{export}/silver_v{n - 1 - back:03d}/*.parquet')"
            ok = set_equal(con,
                           f"SELECT symbol, n, last_day, epoch_us(last_fetch) FROM ({got})",
                           f"SELECT symbol, count(*), max(trade_date), epoch_us(max(fetched_at)) "
                           f"FROM {s} GROUP BY symbol")
        elif kind == "cdf_range":
            before = f"read_parquet('{export}/silver_v{n - 1 - back:03d}/*.parquet')"
            after = f"read_parquet('{export}/silver_v{n - 1:03d}/*.parquet')"
            post = (f"SELECT symbol, trade_date, close, epoch_us(fetched_at) AS f FROM "
                    f"({got}) WHERE change_type IN ('insert', 'update_postimage') "
                    f"QUALIFY row_number() OVER (PARTITION BY symbol, trade_date "
                    f"ORDER BY commit_version DESC) = 1")
            ok1 = set_equal(con, post,
                            f"SELECT a.symbol, a.trade_date, a.close, epoch_us(a.fetched_at) "
                            f"FROM {after} a SEMI JOIN ({post}) p USING (symbol, trade_date)")
            ok2 = set_equal(con,
                            f"SELECT * FROM (SELECT symbol, trade_date, close, epoch_us(fetched_at) "
                            f"FROM {after} EXCEPT SELECT symbol, trade_date, close, "
                            f"epoch_us(fetched_at) FROM {before}) SEMI JOIN ({post}) p "
                            f"USING (symbol, trade_date)",
                            f"SELECT symbol, trade_date, close, epoch_us(fetched_at) "
                            f"FROM {after} EXCEPT SELECT symbol, trade_date, close, "
                            f"epoch_us(fetched_at) FROM {before}")
            ok = (ok1[0] and ok2[0], f"post-images {ok1[1]}; coverage {ok2[1]}")
        else:
            ok = (False, f"unknown read type {kind}")
        out.append((f"read_{kind}",) + tuple(ok))
    return out


def _norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="last").reset_index(drop=True)


def check_basket(data_dir, export, oracle_sql):
    """Each basket query's first-pass output against its DuckDB oracle:
    same columns, same rows, same values (floats exactly)."""
    import pandas as pd
    con = connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    out = []
    for name, sql in sorted(oracle_sql.items()):
        if not sql:
            out.append((f"basket_{name}", True, "no oracle"))
            continue
        try:
            got = _norm(con.sql(f"SELECT * FROM read_parquet('{export}/{name}/*.parquet')").df())
            exp = _norm(con.sql(sql).df())
            ok = list(got.columns) == list(exp.columns) and len(got) == len(exp)
            if ok:
                for c in got.columns:
                    g, e = got[c], exp[c]
                    if pd.api.types.is_float_dtype(g) and pd.api.types.is_float_dtype(e):
                        ok = ok and bool(((g.isna() & e.isna()) | (g == e)).all())
                    else:
                        ok = ok and bool(((g.isna() & e.isna()) |
                                          (g.astype(str) == e.astype(str))).all())
            out.append((f"basket_{name}", ok, f"rows got={len(got)} exp={len(exp)}"))
        except Exception as ex:  # a query whose output cannot be read fails
            out.append((f"basket_{name}", False, f"{type(ex).__name__}: {ex}"[:300]))
    return out

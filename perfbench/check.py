"""Output checks, run after the timed section.

Each check returns {op_name: reason} for every op whose output is wrong.

* Registry rows: graft.perfbench.Driver dumps each op's result to WORK/out/<name>
  (untimed pass). Rows with oracle SQL are compared with DuckDB running
  that SQL on the same tables: column names, row count, and exact values
  with columns sorted by name and rows sorted by all columns, plus an
  int/float class guard per column. Rows without an oracle must be
  non-empty.
* hrrp_etl: the ETL sink and every dashboard answer are compared with
  counts and aggregates computed from the generator's own rows.
"""
import glob
import math
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _dtype_class(s):
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "other"


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(got_raw, want_raw):
    bad = [c for c in sorted(set(got_raw.columns) & set(want_raw.columns))
           if _dtype_class(got_raw[c]) != _dtype_class(want_raw[c])]
    if bad:
        return f"dtype class differs: {bad}"
    got, want = _canon(got_raw), _canon(want_raw)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values: " + str(e).split("\n")[0]
    return None


def check_registry(raw, work, tables_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    sqls = raw["oracle_sql"]
    bad = {}
    for name in raw["ops"]:
        if name in raw["verify_errors"]:
            bad[name] = "error: " + raw["verify_errors"][name]
            continue
        files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
        if not files:
            bad[name] = "no output"
            continue
        try:
            got = pd.read_parquet(os.path.join(work, "out", name))
            if name not in sqls:
                if len(got) == 0:
                    bad[name] = "empty output (no oracle)"
                continue
            why = _compare(got, con.execute(sqls[name]).df())
        except Exception as e:  # a failing oracle or unreadable output is a mismatch
            why = f"check error: {e}"
        if why:
            bad[name] = why
    return bad


def _close(a, b):
    return a is not None and b is not None and math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)


def expected_hrrp(readm, hosp):
    """The ETL's answer computed from the generator's rows with pandas."""
    r = readm.copy()
    r["number_of_discharges"] = pd.to_numeric(r["Number of Discharges"], errors="coerce")
    r["excess_readmission_ratio"] = pd.to_numeric(r["Excess Readmission Ratio"], errors="coerce")
    r = r[(r["Measure Name"] == "READM-30-HF-HRRP")].dropna(
        subset=["number_of_discharges", "excess_readmission_ratio"])
    h = hosp[["Facility ID", "State", "Hospital Ownership"]]
    return r.drop(columns=["State", "Facility Name"]).merge(h, on="Facility ID", how="inner")


def check_hrrp(raw, work, readm, hosp):
    exp = expected_hrrp(readm, hosp)
    bad = {}
    con = duckdb.connect()
    sink = os.path.join(work, "hrrp_sink")
    try:
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM '{sink}/*.parquet'").fetchall()]
        n, s_ratio, s_disc, n_fac = con.execute(
            f"SELECT count(*), sum(excess_readmission_ratio), sum(number_of_discharges), "
            f"count(DISTINCT facility_id) FROM '{sink}/*.parquet'").fetchone()
    except Exception as e:
        return {"etl": f"sink unreadable: {e}"}
    want_cols = {"facility_id", "measure_name", "number_of_discharges", "excess_readmission_ratio",
                 "start_date", "facility_name", "city_town", "state", "hospital_type",
                 "hospital_ownership"}
    if set(cols) != want_cols:
        bad["etl"] = f"sink columns {sorted(cols)}"
    elif (n != len(exp) or n_fac != exp["Facility ID"].nunique()
          or not _close(s_ratio, exp["excess_readmission_ratio"].sum())
          or not _close(s_disc, exp["number_of_discharges"].sum())):
        bad["etl"] = f"sink rows {n} vs {len(exp)}"

    ratio = "excess_readmission_ratio"
    for key, rows in raw["dash"].items():
        name = "dash_" + key.split("_")[0] if key.startswith("top") else "dash_" + key
        ok = True
        if key == "total":
            ok = rows == [[exp["Facility ID"].nunique()]]
        elif key == "avg":
            ok = len(rows) == 1 and _close(rows[0][0], exp[ratio].mean())
        elif key in ("by_state", "by_ownership"):
            col = "State" if key == "by_state" else "Hospital Ownership"
            g = exp.dropna(subset=[col]).groupby(col)[ratio].mean()
            got = {r[0]: r[1] for r in rows}
            ok = set(got) == set(g.index) and all(_close(got[k], g[k]) for k in g.index)
            if ok and key == "by_ownership":
                order = sorted(g.index, key=lambda k: (-g[k], k))
                ok = [r[0] for r in rows] == order
        else:
            _, direction, n_top = key.split("_")
            hi = direction == "highest"
            e = exp.sort_values([ratio, "Facility ID", "Start Date"],
                                ascending=[not hi, True, True]).head(int(n_top))
            fi, si = cols.index("facility_id"), cols.index("start_date")
            ok = [(r[fi], r[si]) for r in rows] == list(zip(e["Facility ID"], e["Start Date"]))
        if not ok:
            bad[name] = f"dashboard answer {key} differs"
    return bad

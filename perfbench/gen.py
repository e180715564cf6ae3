"""Seeded input generator for the benchmark.

Two input families, both a pure function of (seed, scale):

* the registry tables (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings) with the schemas and value
  domains of the engine's TPC-H-ish test tables (FIXTURES.md section 2),
  written as one parquet file each;
* HRRP-shaped CSVs for the heart-failure ETL: ``readmissions.csv`` and
  ``hospital_info.csv`` with the raw Title Case headers, Facility IDs
  with leading zeros, six HRRP measures over several reporting periods,
  and a planted share of ``N/A`` / ``Too Few to Report`` values.

``generate_tables`` and ``generate_hrrp`` return what they wrote so the
correctness check can compute expected results from the same rows.
"""
import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.16, 0.44, 0.14, 0.12, 0.14]


def _days(rng, n, start, end):
    span = (end - start).days
    return (np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema):
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def generate_tables(out_dir: str, seed: int, scale: float):
    """Registry tables at `scale` (1.0 = 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * scale), max(10, int(10000 * scale)), int(200000 * scale)
    n_ord, n_line, n_ev = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_doc, n_emb = max(500, int(50000 * scale)), max(500, int(20000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
           f"{out_dir}/region.parquet", pa.schema([("r_regionkey", i32), ("r_name", s)]))
    nk = np.arange(25, dtype=np.int32)
    _write(pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
                         "n_regionkey": (nk % 5).astype(np.int32)}),
           f"{out_dir}/nation.parquet",
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pd.DataFrame({
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        f"{out_dir}/customer.parquet",
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pd.DataFrame({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet",
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900 + (pk % 1000) / 10.0, 1)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price}),
        f"{out_dir}/part.parquet",
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        f"{out_dir}/orders.parquet",
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    lpk = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": lpk,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpk], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}),
        f"{out_dir}/lineitem.parquet",
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))
    n_users = max(15, int(15000 * scale))
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet",
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))
    # documents: random word strings; 5% are an earlier document plus a
    # trailing " dup" (near-duplicates), a few are exact copies
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet",
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        f"{out_dir}/embeddings.parquet",
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


HRRP_MEASURES = ["READM-30-AMI-HRRP", "READM-30-CABG-HRRP", "READM-30-COPD-HRRP",
                 "READM-30-HF-HRRP", "READM-30-HIP-KNEE-HRRP", "READM-30-PN-HRRP"]
STATES = ["AK", "AL", "AR", "AZ", "CA", "CO", "CT", "DC", "DE", "FL", "GA", "HI", "IA",
          "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME", "MI", "MN", "MO", "MS",
          "MT", "NC", "ND", "NE", "NH", "NJ", "NM", "NV", "NY", "OH", "OK", "OR", "PA",
          "RI", "SC", "SD", "TN", "TX", "UT", "VA", "VT", "WA", "WI", "WV", "WY"]
OWNERSHIP = ["Government - Federal", "Government - Hospital District or Authority",
             "Government - Local", "Government - State", "Physician",
             "Proprietary", "Voluntary non-profit - Church",
             "Voluntary non-profit - Other", "Voluntary non-profit - Private"]
HOSP_TYPES = ["Acute Care Hospitals", "Critical Access Hospitals", "Childrens"]
PERIODS = ["07/01/2016", "07/01/2017", "07/01/2018", "07/01/2019"]


def generate_hrrp(out_dir: str, seed: int, facilities: int):
    """HRRP CSVs; returns (readmissions, hospital_info) as raw string frames."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    # 6-digit CCN-style ids: two-digit state code then a serial, so a
    # share of them carry leading zeros (codes 01-09)
    pool = rng.choice(np.arange(10000, 999999), int(facilities * 1.1), replace=False)
    ids = np.array([f"{v:06d}" for v in pool])
    n_all = len(ids)
    in_hosp = np.ones(n_all, bool)
    in_hosp[rng.random(n_all) < 0.04] = False        # readmission-only ids
    in_readm = np.ones(n_all, bool)
    in_readm[: n_all - facilities] = False              # hospital-only ids
    hosp = pd.DataFrame({
        "Facility ID": ids, "Facility Name": [f"HOSPITAL {i} MEDICAL CENTER" for i in ids],
        "City/Town": [f"CITY {c}" for c in rng.integers(0, 800, n_all)],
        "State": rng.choice(STATES, n_all),
        "Hospital Type": rng.choice(HOSP_TYPES, n_all, p=[0.7, 0.25, 0.05]),
        "Hospital Ownership": rng.choice(OWNERSHIP, n_all),
        "Phone Number": [f"({a}) 555-{b:04d}" for a, b in
                         zip(rng.integers(200, 999, n_all), rng.integers(0, 10000, n_all))]})
    hosp.loc[rng.random(n_all) < 0.01, "State"] = None
    hosp = hosp[in_hosp].reset_index(drop=True)
    rid = ids[in_readm]
    n = len(rid) * len(HRRP_MEASURES) * len(PERIODS)
    fac = np.repeat(rid, len(HRRP_MEASURES) * len(PERIODS))
    meas = np.tile(np.repeat(HRRP_MEASURES, len(PERIODS)), len(rid))
    per = np.tile(PERIODS, len(rid) * len(HRRP_MEASURES))
    disc = rng.integers(25, 2500, n).astype(str).astype(object)
    ratio = np.char.mod("%.4f", np.round(rng.normal(1.0, 0.08, n), 4)).astype(object)
    disc[rng.random(n) < 0.10] = "N/A"
    ratio[rng.random(n) < 0.05] = "Too Few to Report"
    ratio[rng.random(n) < 0.02] = "N/A"
    readm = pd.DataFrame({
        "Facility ID": fac, "Facility Name": [f"readm name {f}" for f in fac],
        "State": "ZZ", "Measure Name": meas, "Number of Discharges": disc,
        "Excess Readmission Ratio": ratio, "Start Date": per})
    readm = readm.sample(frac=1.0, random_state=int(rng.integers(0, 2**31))).reset_index(drop=True)
    readm.to_csv(f"{out_dir}/readmissions.csv", index=False)
    hosp.to_csv(f"{out_dir}/hospital_info.csv", index=False)
    return readm, hosp

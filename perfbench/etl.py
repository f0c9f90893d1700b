"""The etl_csv workload's input and its oracle.

`generate_csv` writes a seeded stand-in for the reference's input file
(df_fraud_credit.csv, 13 columns). Most timestamps are millisecond epochs and
a few are second epochs (the reference picks one unit per column from the
median magnitude, so those read as 1970 instants in both engines). A few
tenths of a percent of rows carry each kind of dirt the reference cleans:
empty timestamps and amounts, pandas NA tokens, negative amounts, padded or
mixed-case strings, a literal "0" region, and exact duplicates of earlier
keys. Both conformity gates pass: pre-clean conformity stays near 0.99 and
the cleaned frame is fully conformant.

`reference_outputs` is a pandas + DuckDB model of the reference flow
(ingest with pandas' default NA handling, DQ profile, clean and
standardize, DQ profile, the two published results). The reference
script itself is not part of this repository, so the model re-states its
semantics as SURVEY.md records them. `check_run` compares one
`Pipeline.run` output directory against the model: both DQ JSONs field by
field, and both curated CSVs row by row (region averages and amounts to
1e-9 relative, timestamps as instants).
"""
import csv
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

COLUMNS = ["timestamp", "sending_address", "receiving_address", "amount",
           "transaction_type", "location_region", "ip_prefix",
           "login_frequency", "session_duration", "purchase_pattern",
           "age_group", "risk_score", "anomaly"]
TYPES = ["sale", "purchase", "transfer", "phishing", "scam"]
REGIONS = ["Europe", "Asia", "Africa", "North America", "South America"]
PATTERNS = ["focused", "random", "high_value"]
AGES = ["new", "established", "veteran"]
ANOMALY = ["low_risk", "moderate_risk", "high_risk"]
DIRT = 0.003  # share of rows per kind of dirt


def generate_csv(path, seed, rows):
    """Write the seeded input CSV; returns its size in bytes."""
    rng = np.random.default_rng(seed)
    n = rows
    n_addr = max(10, n // 8)
    addrs = np.array([f"0x{v:040x}" for v in rng.integers(0, 2**62, n_addr)], dtype=object)
    ts = rng.integers(1_640_995_200_000, 1_704_067_200_000, n).astype(object)
    sec = rng.random(n) < DIRT
    ts[sec] = [v // 1000 for v in ts[sec]]
    amount = np.round(rng.lognormal(5.0, 1.2, n), 2).astype(object)
    ttype = rng.choice(TYPES, n).astype(object)
    region = rng.choice(REGIONS, n).astype(object)
    recv = addrs[rng.integers(0, n_addr, n)]
    send = addrs[rng.integers(0, n_addr, n)]

    def rows_where(p):
        return np.flatnonzero(rng.random(n) < p)

    ts[rows_where(DIRT)] = ""
    amount[rows_where(DIRT)] = ""
    amount[rows_where(DIRT / 2)] = "NA"
    neg = rows_where(DIRT)
    amount[neg] = [-abs(float(a)) if a not in ("", "NA") else a for a in amount[neg]]
    ttype[rows_where(DIRT / 2)] = "NA"
    for i in rows_where(0.02):
        t = ttype[i]
        ttype[i] = f" {t.upper()} " if t != "NA" else t
    region[rows_where(DIRT)] = "0"
    region[rows_where(DIRT)] = "NA"
    for i in rows_where(0.01):
        region[i] = f"  {region[i]} "
    recv[rows_where(DIRT / 2)] = "null"
    for i in rows_where(0.01):
        recv[i] = f" {recv[i]}"
    frame = {
        "timestamp": ts, "sending_address": send, "receiving_address": recv,
        "amount": amount, "transaction_type": ttype, "location_region": region,
        "ip_prefix": np.round(rng.uniform(10, 200, n), 3),
        "login_frequency": rng.integers(1, 9, n),
        "session_duration": rng.integers(20, 200, n),
        "purchase_pattern": rng.choice(PATTERNS, n),
        "age_group": rng.choice(AGES, n),
        "risk_score": np.round(rng.uniform(10, 100, n), 4),
        "anomaly": rng.choice(ANOMALY, n),
    }
    # exact repeats of earlier rows' keys, each carrying its own region and
    # risk score, so keep-first order shows in the region averages
    dups = rows_where(DIRT)
    src = (dups * rng.random(len(dups))).astype(int)
    for c in ("timestamp", "receiving_address", "amount", "transaction_type"):
        frame[c][dups] = frame[c][src]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(COLUMNS)
        w.writerows(zip(*(frame[c] for c in COLUMNS)))
    return os.path.getsize(path)


# ---- the reference flow's semantics ---------------------------------------

PROFILED = ["timestamp", "transaction_type", "amount", "receiving_address",
            "location_region", "risk_score"]
NOT_NULL = [("timestamp_not_null", "timestamp"),
            ("transaction_type_not_null", "transaction_type"),
            ("amount_not_null", "amount")]


def dq_profile(df, phase):
    present = [c for c in PROFILED if c in df.columns]
    amount = pd.to_numeric(df["amount"], errors="coerce") if "amount" in df else None
    nulls = {c: int((amount if c == "amount" else df[c]).isna().sum()) for c in present}
    rules = {r: {"violations": nulls[c]} for r, c in NOT_NULL if c in nulls}
    if amount is not None:
        rules["amount_non_negative"] = {"violations": int((amount < 0).sum())}
    total = len(df)
    fails = sum(r["violations"] for r in rules.values())
    return {"phase": phase, "total_rows": total, "nulls": nulls, "rules": rules,
            "failed_rows_estimate": fails,
            "conformity_rate": max(0.0, 1 - fails / (total + 1e-9))}


def _std(s, lower=False, extra=()):
    v = s.astype(str).str.strip()
    if lower:
        v = v.str.lower()
    return v.replace({k: None for k in ("", "nan", "None") + tuple(extra)})


def _epoch_unit(values):
    med = values.abs().median()
    if pd.isna(med):
        return "s"
    return "ns" if med > 1e17 else "us" if med > 1e14 else "ms" if med > 1e11 else "s"


def clean(df):
    df = df.copy()
    df.columns = [c.strip().lower().replace(" ", "_") for c in df.columns]
    df["receiving_address"] = _std(df["receiving_address"])
    df["transaction_type"] = _std(df["transaction_type"], lower=True)
    df["location_region"] = _std(df["location_region"], extra=("0",))
    ts = pd.to_numeric(df["timestamp"], errors="coerce")
    df["timestamp"] = pd.to_datetime(ts, unit=_epoch_unit(ts), utc=True)
    df["amount"] = pd.to_numeric(df["amount"], errors="coerce")
    df["risk_score"] = pd.to_numeric(df["risk_score"], errors="coerce")
    df = df.dropna(subset=["timestamp", "transaction_type", "amount"])
    df = df[df["amount"] >= 0]
    return df.drop_duplicates(
        subset=["timestamp", "receiving_address", "transaction_type", "amount"], keep="first")


def reference_outputs(csv_path):
    """Expected DQ metrics and curated rows for one input file."""
    raw = pd.read_csv(csv_path)
    pre = dq_profile(raw, "pre_clean")
    staged = clean(raw)
    post = dq_profile(staged, "post_clean")
    con = duckdb.connect()
    con.register("stg", staged[["receiving_address", "transaction_type", "amount",
                                "timestamp", "location_region", "risk_score"]])
    region = con.sql("""select location_region, avg(risk_score) as avg_risk_score
        from stg where location_region is not null group by 1
        order by avg_risk_score desc""").fetchall()
    top3 = con.sql("""with ranked as (
          select receiving_address, amount, timestamp,
                 row_number() over (partition by receiving_address
                                    order by timestamp desc) as rn
          from stg where transaction_type = 'sale')
        select receiving_address, amount, epoch_ms(timestamp) from ranked
        where rn = 1 order by amount desc limit 3""").fetchall()
    con.close()
    return {"dq_pre": pre, "dq_post": post,
            "region_risk_avg": [[r, a] for r, a in region],
            "top3": [[r, a, ms] for r, a, ms in top3]}


# ---- comparing one run's outputs with the model -----------------------------

def _close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


def _csv_rows(path):
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def _num(s):
    return None if s == "" else float(s)


def _epoch_ms(s):
    if s == "":
        return None
    t = pd.Timestamp(s)
    t = t.tz_localize("UTC") if t.tzinfo is None else t.tz_convert("UTC")
    return t.value // 10**6


def check_dq(got, want):
    errs = []
    for k in ("phase", "total_rows", "failed_rows_estimate"):
        if got.get(k) != want[k]:
            errs.append(f"{want['phase']}.{k}: want {want[k]} got {got.get(k)}")
    if got.get("nulls") != want["nulls"]:
        errs.append(f"{want['phase']}.nulls: want {want['nulls']} got {got.get('nulls')}")
    for r, v in want["rules"].items():
        g = (got.get("rules") or {}).get(r) or {}
        if g.get("violations") != v["violations"]:
            errs.append(f"{want['phase']}.rules.{r}: want {v} got {g}")
    if not _close(got.get("conformity_rate"), want["conformity_rate"]):
        errs.append(f"{want['phase']}.conformity_rate: want {want['conformity_rate']} "
                    f"got {got.get('conformity_rate')}")
    return errs


def check_run(run_dir, want):
    """Mismatches between one Pipeline.run output dir and the model."""
    errs = []
    try:
        for phase, key in (("pre", "dq_pre"), ("post", "dq_post")):
            with open(os.path.join(run_dir, "data", f"dq_metrics_{phase}.json")) as f:
                errs += check_dq(json.load(f), want[key])
        hdr, rows = _csv_rows(os.path.join(run_dir, "curated", "region_risk_avg.csv"))
        exp = want["region_risk_avg"]
        if hdr != ["location_region", "avg_risk_score"] or len(rows) != len(exp) or any(
                r[0] != e[0] or not _close(_num(r[1]), e[1]) for r, e in zip(rows, exp)):
            errs.append(f"region_risk_avg.csv: want {exp} got {rows}")
        hdr, rows = _csv_rows(os.path.join(run_dir, "curated",
                                           "top3_recent_sales_by_receiving.csv"))
        exp = want["top3"]

        if hdr != ["receiving_address", "amount", "timestamp"] or len(rows) != len(exp) or any(
                (r[0] or None) != e[0] or not _close(_num(r[1]), e[1]) or _epoch_ms(r[2]) != e[2]
                for r, e in zip(rows, exp)):
            errs.append(f"top3_recent_sales_by_receiving.csv: want {exp} got {rows}")
    except (OSError, ValueError, KeyError) as e:
        errs.append(f"unreadable output: {type(e).__name__}: {e}")
    return errs

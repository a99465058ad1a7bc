"""Output checks that run after the timed loop, against DuckDB.

* eda_pipeline: target_stats.csv, target_pair_stats.csv and
  opened_targets_distribution.csv of every pipeline run are recomputed
  independently from the generated train_target.parquet.
* query_panel: each query's result (written by the untimed warm pass) must
  match its declared oracle SQL run by DuckDB over the generated tables;
  rows and columns are compared order-insensitively, cells exactly or
  within 1e-12 for floats.

Each check returns {op_or_query_name: None | "reason"}; None means pass.
"""
import csv
import glob
import math
import os

import duckdb
import pandas as pd


def _close(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-12 * max(1.0, abs(a), abs(b))


def _num(s: str) -> float:
    return float("nan") if s in ("", "NaN", "null") else float(s)


def _rows(path: str) -> list:
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def eda_truth(inputs: str) -> dict:
    """Target counts, pair co-counts and the opened-count histogram."""
    con = duckdb.connect()
    src = os.path.join(inputs, "train_target.parquet")
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
    targets = [c for c in cols if c.startswith("target_")]
    n = con.execute(f"SELECT count(*) FROM '{src}'").fetchone()[0]
    sums = dict(zip(targets, con.execute(
        "SELECT " + ", ".join(f"sum({t})::BIGINT" for t in targets) + f" FROM '{src}'").fetchone()))
    pairs = [(a, b) for i, a in enumerate(targets) for b in targets[i + 1:]]
    co = con.execute("SELECT " + ", ".join(f"sum({a} * {b})::BIGINT" for a, b in pairs)
                     + f" FROM '{src}'").fetchone()
    opened = dict(con.execute(
        f"SELECT ({' + '.join(targets)})::BIGINT AS k, count(*) FROM '{src}' GROUP BY k").fetchall())
    return {"n": n, "sums": sums, "co": {frozenset(p): c for p, c in zip(pairs, co)},
            "opened": opened}


def check_eda_run(run_dir: str, truth: dict) -> "str | None":
    n, sums, co = truth["n"], truth["sums"], truth["co"]
    try:
        ts = _rows(os.path.join(run_dir, "target_stats.csv"))
        if sorted(r["target"] for r in ts) != sorted(sums):
            return "target_stats.csv: target set differs"
        for r in ts:
            t = r["target"]
            if int(r["positive_count"]) != sums[t] or not _close(_num(r["positive_rate"]), sums[t] / n):
                return f"target_stats.csv: {t} count/rate differs"
            if r["family"] != t.split("_")[1]:
                return f"target_stats.csv: {t} family {r['family']}"
        ps = _rows(os.path.join(run_dir, "target_pair_stats.csv"))
        seen = {frozenset((r["col_a"], r["col_b"])) for r in ps}
        if len(ps) != len(co) or seen != set(co):
            return f"target_pair_stats.csv: {len(ps)} rows for {len(co)} pairs"
        for r in ps:
            a, b = r["col_a"], r["col_b"]
            c = co[frozenset((a, b))]
            ca, cb = sums[a], sums[b]
            lift = (c / n) / ((ca / n) * (cb / n)) if ca and cb else float("nan")
            if (int(r["count_a"]), int(r["count_b"]), int(r["co_count"])) != (ca, cb, c) \
                    or not _close(_num(r["pair_lift"]), lift):
                return f"target_pair_stats.csv: pair {a},{b} differs"
        od = {int(r["n_opened"]): int(r["n_customers"])
              for r in _rows(os.path.join(run_dir, "opened_targets_distribution.csv"))}
        if od != truth["opened"]:
            return "opened_targets_distribution.csv differs"
    except (OSError, KeyError, ValueError) as e:
        return f"{type(e).__name__}: {e}"
    return None


def check_eda(inputs: str, run_dirs: list) -> dict:
    truth = eda_truth(inputs)
    return {d: check_eda_run(d, truth) for d in run_dirs}


# ---- query panel ---------------------------------------------------------------

def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _cell_eq(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) < 1e-12
    return str(a) == str(b)


def check_panel(inputs: str, result_dir: str, oracle: dict, names: list) -> dict:
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    out = {}
    for name in names:
        if name not in oracle:
            out[name] = "no oracle SQL declared"
            continue
        files = sorted(glob.glob(os.path.join(result_dir, name, "*.parquet")))
        if not files:
            out[name] = "no result written"
            continue
        try:
            s = _canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            o = _canon(con.sql(oracle[name]).df())
        except Exception as e:  # a broken oracle or result fails the query, never drops it
            out[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if list(s.columns) != list(o.columns):
            out[name] = f"columns {list(s.columns)} vs oracle {list(o.columns)}"
        elif len(s) != len(o):
            out[name] = f"rows {len(s)} vs oracle {len(o)}"
        else:
            bad = next(((i, c) for i in range(len(s)) for c in s.columns
                        if not _cell_eq(s.at[i, c], o.at[i, c])), None)
            out[name] = None if bad is None else \
                f"row {bad[0]} col {bad[1]}: {s.at[bad[0], bad[1]]!r} vs {o.at[bad[0], bad[1]]!r}"
    return out

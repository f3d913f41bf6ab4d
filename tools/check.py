#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB over views named after the tables
in <sfDir>, sorts columns by name, and compares values. Builder-side tool
only; the real gate is driver-run.

Driver-strictness hardening (round 8):
- dtype equality is CHECKED (check_dtype=True) after the same minimal
  canonicalization the driver applies (datetime64 unit only). A DuckDB
  HUGEINT (uncast integer sum) vs Spark BIGINT now fails locally the way
  the driver's hash canonicalization fails it — r07's q_interval_union
  class.
- the Spark output frame is sort_values'd over all columns exactly like
  the driver's harness; a column holding ndarray/list values makes that
  crash driver-side, so it is reported as a loud defect here instead of
  silently passing — r07's q_pca_project class.
"""
import sys, os, json, glob, shutil

import duckdb
import numpy as np
import pandas as pd


def unhashable_cols(df: pd.DataFrame):
    # scan EVERY value, not just the first row: a column whose first
    # value is NULL but holds arrays later would slip a first-row
    # screen and crash sort_values mid-run
    bad = []
    for c in df.columns:
        if df[c].dtype == object and len(df):
            if df[c].map(
                    lambda v: isinstance(v, (np.ndarray, list, dict))).any():
                bad.append(c)
    return bad


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    # The driver sorts the frame over its columns before hashing; mimic
    # that (the caller screens array columns first so this cannot throw).
    if len(df.columns):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


# DuckDB's spill directory, under the Verify output dir; the leading dot
# keeps it out of the query-name listing below
SPILL_DIR = ".duckdb_spill"


def memory_limit() -> str:
    """A quarter of physical RAM: a big oracle spills to SPILL_DIR, or
    fails fast, instead of running the host out of memory."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 4 // 2**20)}MB"


def main(sf_dir: str, out_dir: str) -> int:
    spill = os.path.join(out_dir, SPILL_DIR)
    try:
        return compare(sf_dir, out_dir, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def compare(sf_dir: str, out_dir: str, spill: str) -> int:
    con = duckdb.connect(config={
        "memory_limit": memory_limit(), "temp_directory": spill})
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    n_bad = 0
    names = sorted(
        d for d in os.listdir(out_dir)
        if d != SPILL_DIR and os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        raw = pd.concat([pd.read_parquet(f) for f in files])
        arrs = unhashable_cols(raw)
        if arrs:
            print(f"  ✗ {name}: array/struct output column(s) {arrs} — "
                  "the driver harness crashes sorting these; emit scalars")
            n_bad += 1
            continue
        got = norm(raw)
        if name not in oracles:
            print(f"  ~ {name}: no oracle (rows={len(got)})")
            continue
        try:
            exp = norm(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            print(f"  ✗ {name}: oracle SQL failed: {e}")
            n_bad += 1
            continue
        if list(got.columns) != list(exp.columns):
            print(f"  ✗ {name}: columns {list(got.columns)} != {list(exp.columns)}")
            n_bad += 1
            continue
        if len(got) != len(exp):
            print(f"  ✗ {name}: rows {len(got)} != {len(exp)}")
            n_bad += 1
            continue
        if list(got.dtypes) != list(exp.dtypes):
            diffs = [f"{c}: spark={got[c].dtype} oracle={exp[c].dtype}"
                     for c in got.columns if got[c].dtype != exp[c].dtype]
            print(f"  ✗ {name}: DTYPES differ (hash-mismatch class): {diffs}")
            n_bad += 1
            continue
        try:
            pd.testing.assert_frame_equal(
                got, exp, check_dtype=True, check_exact=True)
            print(f"  ✓ {name} ({len(got)} rows)")
        except AssertionError as e:
            n_bad += 1
            print(f"  ✗ {name}: VALUES differ\n{str(e)[:800]}")
    print(f"{'FAIL' if n_bad else 'OK'}: {len(names) - n_bad}/{len(names)} match")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

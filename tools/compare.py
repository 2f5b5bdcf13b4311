#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [name ...]

Reads each Spark result parquet under <verifyOutDir>/<name>, runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over
views of the <sfDir> parquet tables, then compares like the driver:
sort columns by name, sort rows, value-compare. Each line gives the
oracle's DuckDB time; an oracle still running after ORACLE_LIMIT_S seconds
is interrupted and counted as a failure, never skipped. Exit 1 on any
mismatch, error or timeout.
"""
import json, sys, glob, threading, time
import duckdb, pandas as pd

ORACLE_LIMIT_S = 120  # the slowest oracle, near_dup_clusters, takes about 25 s at sf0.01

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def align_dtypes(a: pd.DataFrame, b: pd.DataFrame):
    """Spark-parquet and DuckDB-fetchdf can promote the same nullable
    integer column differently (int64 vs float64), which would stringify
    as '5' vs '5.0' — a spurious mismatch. Prefer casting the FLOAT side
    to nullable Int64 when its values are integral: casting the int side
    to float64 would round values above 2^53 (one ulp at 2^63 is ~2048),
    letting genuinely different 64-bit hash/fingerprint values compare
    equal — a masking bug in the gate. Fall back to int→float only for
    genuinely fractional float columns (small-magnitude by construction
    here: ratios, averages)."""
    def to_int_ok(col):
        v = col.dropna()
        if not len(v):
            return True
        # Int64 cast raises on floats outside int64 range — fall back to
        # the float path there rather than crashing the gate
        if ((v < -2**63) | (v >= 2**63)).any():
            return False
        return bool(((v % 1) == 0).all())
    aligned = []
    for c in set(a.columns) & set(b.columns):
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        if ka in "iu" and kb == "f":
            aligned.append(c)
            if to_int_ok(b[c]):
                b[c] = b[c].astype("Int64")
                a[c] = a[c].astype("Int64")
            else:
                a[c] = a[c].astype("float64")
        elif kb in "iu" and ka == "f":
            aligned.append(c)
            if to_int_ok(a[c]):
                a[c] = a[c].astype("Int64")
                b[c] = b[c].astype("Int64")
            else:
                b[c] = b[c].astype("float64")
    # The DRIVER gate has no such alignment: it stringify-hashes raw
    # fetches, so an int-vs-float divergence this shim repairs locally
    # WILL fail there ('0' vs '0.0'). Warn loudly so the two gates can
    # never silently disagree — fix the oracle's dtype (e.g. ::BIGINT on
    # window-sum-derived integers) instead of relying on this.
    return a, b, aligned

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify so dtype differences (int32/int64, ts precision) don't matter
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            # full-precision repr: the driver hashes exact values, so a
            # lossy format here could mask a real sub-6-digit mismatch
            out[c] = col.map(lambda v: "NaN" if pd.isna(v) else repr(float(v)))
        else:
            out[c] = col.map(lambda v: "NULL" if v is None or v is pd.NA or (isinstance(v, float) and pd.isna(v)) else str(v))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p  # ScaleData writes part-file dirs
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    fails = 0
    times = {}
    for name in names or sorted(oracles):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"{name}: NO SPARK OUTPUT"); fails += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracles:
            print(f"{name}: rows={len(spark_df)} (no oracle — rows-only)"); continue
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        start = time.monotonic()
        timer.start()
        try:
            ora_df = con.execute(oracles[name]).fetchdf()
        except duckdb.InterruptException:
            print(f"{name}: ORACLE TIMEOUT: no result after {ORACLE_LIMIT_S} s"); fails += 1; continue
        except Exception as e:
            print(f"{name}: ORACLE SQL ERROR: {e}"); fails += 1; continue
        finally:
            timer.cancel()
            secs = time.monotonic() - start
            times[name] = secs
        spark_df, ora_df, aligned = align_dtypes(spark_df, ora_df)
        for c in aligned:
            print(f"{name}: WARNING dtype alignment fired on column '{c}' "
                  f"(int vs float) — the DRIVER gate would hash-fail this; "
                  f"cast the oracle column (::BIGINT) instead")
        a, b = norm(spark_df), norm(ora_df)
        if list(a.columns) != list(b.columns):
            print(f"{name}: SCHEMA MISMATCH spark={list(a.columns)} oracle={list(b.columns)}"); fails += 1
        elif len(a) != len(b):
            print(f"{name}: ROWS MISMATCH spark={len(a)} oracle={len(b)}"); fails += 1
        elif not a.equals(b):
            diff = (a != b).any(axis=1)
            i = diff[diff].index[0]
            print(f"{name}: VALUE MISMATCH at sorted-row {i}:\n  spark : {a.loc[i].to_dict()}\n  oracle: {b.loc[i].to_dict()}")
            fails += 1
        else:
            print(f"{name}: OK ({len(a)} rows, oracle {secs:.2f} s)")
    slowest = sorted(times.items(), key=lambda kv: -kv[1])[:5]
    print(f"oracles run: {len(times)}, failed: {fails}, oracle time: {sum(times.values()):.1f} s; "
          "slowest: " + ", ".join(f"{n} {t:.2f} s" for n, t in slowest))
    sys.exit(1 if fails else 0)

main()

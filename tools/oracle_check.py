#!/usr/bin/env python3
"""Local dev harness (driver-side tooling, NOT part of the library): mimic the
driver's DuckDB-oracle compare over a Verify output dir.

Usage: python3 tools/oracle_check.py <verify_out_dir> <sf_dir> [q1,q2,...]

The optional third argument is the comma-separated query list that was passed
to `graft.Verify` as its third argument: only those queries are checked, and
each of them must have Spark output.
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: timestamps -> ns, floats stay; sort rows by all cols
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object and df[c].map(lambda v: hasattr(v, "isoformat"), na_action="ignore").any():
            df[c] = pd.to_datetime(df[c])
    return df.sort_values(by=list(df.columns), ignore_index=True)

def main(outdir, sfdir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    if only is not None:
        for name in sorted(only - oracle.keys()):
            print(f"FAIL {name}: no oracle sql"); n_fail += 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{outdir}/{name}"
        if not os.path.isdir(spark_dir):
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            sdf = pd.concat([pq.read_table(f).to_pandas()
                             for f in glob.glob(f"{spark_dir}/*.parquet")], ignore_index=True)
            odf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1; continue
        s, o = canon(sdf), canon(odf)
        if list(s.columns) != list(o.columns):
            print(f"FAIL {name}: schema spark={list(s.columns)} oracle={list(o.columns)}")
            n_fail += 1; continue
        if len(s) != len(o):
            print(f"FAIL {name}: rows spark={len(s)} oracle={len(o)}"); n_fail += 1; continue
        # Driver-hash risk: the driver hashes typed values, so an int64 Spark column vs a
        # float64 oracle column (e.g. DuckDB SUM(int) -> HUGEINT -> pandas float64) hash-
        # mismatches even when every value compares equal. Same-kind width diffs are OK.
        kind_bad = [c for c in s.columns if s[c].dtype.kind != o[c].dtype.kind
                    and {s[c].dtype.kind, o[c].dtype.kind} <= {"i", "u", "f"}
                    and "f" in {s[c].dtype.kind, o[c].dtype.kind}]
        if kind_bad:
            for c in kind_bad:
                print(f"FAIL {name}: DTYPE-HASH-RISK col {c}: spark={s[c].dtype} oracle={o[c].dtype}"
                      " (wrap oracle agg in CAST(... AS BIGINT) or cast spark side to double)")
            n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9)
            print(f"PASS {name} ({len(s)} rows)"); n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch\n  {str(e).splitlines()[-1] if str(e) else ''}")
            diff = (s != o) & ~(s.isna() & o.isna())
            bad = diff.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                print(f"  first diff row {i}:\n  spark : {s.loc[i].to_dict()}\n  oracle: {o.loc[i].to_dict()}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))

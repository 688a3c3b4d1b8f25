#!/usr/bin/env python3
"""Local pre-verification of Verify output against the DuckDB oracle
(SURVEY §5.2.1). Emulates the driver's t2 compare: for every key in
oracle_sql.json, run the SQL in DuckDB over the same sf parquet tables and
compare to the Spark-dumped parquet (columns sorted by name, rows sorted,
exact value compare). Also flags queries declared in SparkEntry.queries
whose output dir is missing (Verify swallows per-query failures).

Usage: python3 tools/preverify.py /root/testdata/sf0.01 /tmp/v1
"""
import sys, json, glob, os, shutil, tempfile
import duckdb
import pandas as pd

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: everything to object via string repr for floats is
    # too lossy; instead sort rows and reset index, compare with
    # assert-style loop below.
    df = df.sort_values(by=list(df.columns), na_position="last",
                        kind="mergesort").reset_index(drop=True)
    return df

def norm_cell(v):
    import datetime, decimal, math
    if isinstance(v, float):
        # NULL double → NaN in pandas on both sides; normalize to None so
        # NaN==NaN (the driver's hash sees identical parquet NULLs).
        if math.isnan(v):
            return None
        return round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v
    if v is pd.NaT:
        return None
    if isinstance(v, (int,)) :
        return int(v)
    try:
        import numpy as np
        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            return None if math.isnan(float(v)) else round(float(v), 9)
        if isinstance(v, np.bool_):
            return bool(v)
    except ImportError:
        pass
    return v

def frame_rows(df):
    return [tuple(norm_cell(x) for x in row) for row in df.itertuples(index=False, name=None)]

def main(sf_dir, out_dir):
    # Pin the oracle-engine assumption (round-12 verdict item 6): the
    # repo's integer-division policy (sign-split div) is safe under both
    # documented DuckDB `//` semantics (floor vs truncate-toward-zero —
    # 1.0.0 here truncates), but a driver-side engine bump should be
    # diagnosable from this line when a compare flips.
    neg = duckdb.sql("SELECT (-7) // 2").fetchone()[0]
    print(f"duckdb {duckdb.__version__} "
          f"((-7)//2 = {neg}: {'truncates' if neg == -3 else 'floors'})")
    # Spill to a private temp dir and cap memory: by default DuckDB spills
    # to ./.tmp and takes 80% of RAM, and a large oracle (q_kcore at
    # sf0.1) ran out of temp disk. PREVERIFY_TMP / PREVERIFY_MEMORY
    # override both.
    tmp = os.environ.get("PREVERIFY_TMP") or tempfile.mkdtemp(prefix="preverify-duckdb-")
    con = duckdb.connect(config={
        "temp_directory": tmp,
        "memory_limit": os.environ.get("PREVERIFY_MEMORY", "4GB")})
    try:
        return compare(con, sf_dir, out_dir)
    finally:
        con.close()
        if "PREVERIFY_TMP" not in os.environ:
            shutil.rmtree(tmp, ignore_errors=True)


def compare(con, sf_dir, out_dir):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    produced = {os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*"))
                if os.path.isdir(p)}
    ok, bad = [], []
    for name in sorted(produced | set(oracle)):
        if name not in produced:
            bad.append((name, "MISSING spark output (query failed in Verify)"))
            continue
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            bad.append((name, "no parquet part file"))
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        if name not in oracle:
            if len(spark_df) == 0:
                bad.append((name, "rows-only check but 0 rows"))
            else:
                ok.append((name, f"rows-only ({len(spark_df)} rows, no oracle)"))
            continue
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            bad.append((name, f"oracle SQL error: {e}"))
            continue
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            bad.append((name, f"schema mismatch: spark={list(s.columns)} duck={list(d.columns)}"))
            continue
        # Numeric dtype-kind skew (e.g. DuckDB sum(BIGINT)->HUGEINT which
        # pandas may materialize as float64, object, or unsigned) hash-
        # mismatches on the driver even when values compare equal here.
        kind_skew = [c for c in s.columns
                     if s[c].dtype.kind != d[c].dtype.kind
                     and ({s[c].dtype.kind, d[c].dtype.kind} & {"i", "u", "f", "O"})]
        if kind_skew:
            bad.append((name, f"dtype kind mismatch (numeric skew) in {kind_skew}: "
                        f"spark={[str(s[c].dtype) for c in kind_skew]} "
                        f"duck={[str(d[c].dtype) for c in kind_skew]} — cast the oracle"))
            continue
        if len(s) != len(d):
            bad.append((name, f"row count mismatch: spark={len(s)} duck={len(d)}"))
            continue
        rs, rd = frame_rows(s), frame_rows(d)
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(rs, rd)) if a != b]
        if diffs:
            i, a, b = diffs[0]
            bad.append((name, f"{len(diffs)}/{len(rs)} rows differ; first at {i}:\n  spark={a}\n  duck ={b}"))
        else:
            ok.append((name, f"MATCH ({len(s)} rows)"))
    for name, msg in ok:
        print(f"  OK  {name}: {msg}")
    for name, msg in bad:
        print(f"FAIL  {name}: {msg}")
    print(f"\n{len(ok)} ok, {len(bad)} failed")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""Compare two Verify dumps query by query.

For every query dir in either dump, check that both dumps have it and that
the two outputs have the same column names, the same column types and the
same rows (as a bag: DuckDB EXCEPT ALL both ways). Names each differing or
missing query and exits 1 on any difference, 0 when the dumps agree.
oracle_sql.json is compared byte for byte when either dump has one.

Usage: python3 tools/dumpdiff.py /tmp/dumpA /tmp/dumpB

DuckDB spills to a fresh temp dir and is capped at 4 GB, as in
preverify.py (PREVERIFY_TMP, PREVERIFY_MEMORY override both).
"""
import glob
import os
import shutil
import sys
import tempfile

import duckdb


def query_dirs(root):
    return {os.path.basename(p) for p in glob.glob(os.path.join(root, "*"))
            if os.path.isdir(p)}


def source(root, name):
    return "read_parquet('%s')" % os.path.join(root, name, "*.parquet").replace("'", "''")


def schema(con, src):
    return [(r[0], r[1]) for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]


def differ(con, a, b, name):
    """None if the query's outputs agree, else what differs."""
    if not glob.glob(os.path.join(a, name, "*.parquet")) or \
            not glob.glob(os.path.join(b, name, "*.parquet")):
        return "no parquet part file"
    sa, sb = source(a, name), source(b, name)
    ca, cb = schema(con, sa), schema(con, sb)
    if ca != cb:
        return f"schema: {ca} vs {cb}"
    only_a = con.sql(f"SELECT count(*) FROM (SELECT * FROM {sa} EXCEPT ALL "
                     f"SELECT * FROM {sb})").fetchone()[0]
    only_b = con.sql(f"SELECT count(*) FROM (SELECT * FROM {sb} EXCEPT ALL "
                     f"SELECT * FROM {sa})").fetchone()[0]
    if only_a or only_b:
        return f"rows: {only_a} only in A, {only_b} only in B"
    return None


def compare(con, a, b):
    bad = []
    qa, qb = query_dirs(a), query_dirs(b)
    for name in sorted(qa | qb):
        if name not in qb:
            bad.append((name, "missing in B"))
        elif name not in qa:
            bad.append((name, "missing in A"))
        else:
            msg = differ(con, a, b, name)
            if msg:
                bad.append((name, msg))
    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if os.path.exists(oa) or os.path.exists(ob):
        same = (os.path.exists(oa) and os.path.exists(ob) and
                open(oa, "rb").read() == open(ob, "rb").read())
        if not same:
            bad.append(("oracle_sql.json", "differs or missing"))
    for name, msg in bad:
        print(f"DIFF  {name}: {msg}")
    print(f"{len(qa & qb)} queries in both, {len(bad)} differ")
    return 1 if bad else 0


def main(a, b):
    tmp = os.environ.get("PREVERIFY_TMP") or tempfile.mkdtemp(prefix="dumpdiff-duckdb-")
    con = duckdb.connect(config={
        "temp_directory": tmp,
        "memory_limit": os.environ.get("PREVERIFY_MEMORY", "4GB")})
    try:
        return compare(con, a, b)
    finally:
        con.close()
        if "PREVERIFY_TMP" not in os.environ:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

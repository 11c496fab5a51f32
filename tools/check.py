#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [name,name,...]

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB with a
view per parquet table in <sfDir>, loads the Spark result parquet from
<verifyOutDir>/<name>/, sorts columns by name, sorts rows, and compares
values exactly (with a tiny report of first diffs). With the optional
third argument (comma-separated query names, as passed to `Verify`) only
those queries are checked; a listed name without Spark output still fails.
"""
import sys, os, json, glob, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    # normalize to hashable comparable python values
    if isinstance(v, float):
        return ("f", repr(v))          # exact float repr
    return ("v", str(v))

def frame_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)

def main(sf_dir, out_dir, names=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    if names is not None:
        unknown = sorted(set(names) - set(oracles))
        if unknown:
            print(f"FAIL unknown query names: {unknown}")
            return 1
        oracles = {n: oracles[n] for n in names}
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        try:
            r = con.execute(sql)
            ocols = [d[0] for d in r.description]
            orows = r.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_bad += 1; continue
        r2 = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'")
        scols = [d[0] for d in r2.description]
        srows = r2.fetchall()
        oc, orw = frame_to_rows(ocols, orows)
        sc, srw = frame_to_rows(scols, srows)
        if oc != sc:
            print(f"FAIL {name}: columns oracle={oc} spark={sc}"); n_bad += 1; continue
        if len(orw) != len(srw):
            print(f"FAIL {name}: rows oracle={len(orw)} spark={len(srw)}"); n_bad += 1; continue
        if orw != srw:
            diffs = [(a, b) for a, b in zip(orw, srw) if a != b][:3]
            print(f"FAIL {name}: value diff (cols {oc}); first: {diffs}")
            n_bad += 1; continue
        # Type audit: the driver's compare hashes TYPED values, so an oracle
        # column that DuckDB widens (e.g. un-cast window SUM -> HUGEINT) fails
        # the hash even when values match. Flag any type DuckDB cannot hand to
        # the driver losslessly as the matching Spark parquet type.
        rel = con.sql(sql)
        otypes = dict(zip(rel.columns, [str(t).upper() for t in rel.types]))
        bad_types = {c: t for c, t in otypes.items()
                     if t in ("HUGEINT", "INT128", "UHUGEINT")}
        if bad_types:
            print(f"FAIL {name}: oracle output widened types {bad_types}")
            n_bad += 1; continue
        print(f"OK   {name} ({len(orw)} rows)"); n_ok += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    return 1 if n_bad else 0

if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    names = [n for n in sys.argv[3].split(",") if n] if len(sys.argv) == 4 else None
    sys.exit(main(sys.argv[1], sys.argv[2], names))

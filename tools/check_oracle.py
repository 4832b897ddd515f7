#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify's outputs
against DuckDB on the same parquet tables, compare row count, schema
(sorted column names) and values (sorted columns, sorted rows).
Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
fail = 0
# a query that threw in Verify may have left an earlier run's output in
# <out>/<name>/: its listed failure, not that parquet, is the result
fpath = os.path.join(outdir, "verify_failures.json")
if os.path.exists(fpath):
    failed = json.load(open(fpath))
else:
    print(f"FAIL: {fpath} missing: Verify did not finish"); fail += 1
    failed = {}
for name in sorted(set(failed) - set(oracle)):
    print(f"FAIL {name}: Verify failed: {failed[name]}"); fail += 1
for name, sql in sorted(oracle.items()):
    if name in failed:
        print(f"FAIL {name}: Verify failed: {failed[name]}"); fail += 1; continue
    res_dir = os.path.join(outdir, name)
    files = glob.glob(os.path.join(res_dir, "*.parquet"))
    if not files:
        print(f"FAIL {name}: no spark output"); fail += 1; continue
    try:
        exp = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {e}"); fail += 1; continue
    got = duckdb.connect().execute(
        f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        print(f"FAIL {name}: schema mismatch got={gcols} exp={ecols}"); fail += 1; continue
    # the driver's hash is TYPED (round 1: decimal128(28,x) vs (38,x)
    # failed 9 value-identical queries) and its pandas sort crashes on
    # nested cells — reproduce both failure modes here
    import pyarrow.types as pt
    nested = [c for c in gcols
              if pt.is_nested(got.schema.field(c).type)]
    if nested:
        print(f"FAIL {name}: nested output columns crash driver compare: {nested}")
        fail += 1; continue
    tdiff = [(c, str(got.schema.field(c).type), str(exp.schema.field(c).type))
             for c in gcols
             if got.schema.field(c).type != exp.schema.field(c).type]
    if tdiff:
        print(f"FAIL {name}: typed-schema mismatch (col, got, exp): {tdiff}")
        fail += 1; continue
    if got.num_rows != exp.num_rows:
        print(f"FAIL {name}: rows got={got.num_rows} exp={exp.num_rows}"); fail += 1; continue
    def norm(tbl):
        rows = []
        cols = [tbl.column(c).to_pylist() for c in sorted(tbl.column_names)]
        for i in range(tbl.num_rows):
            rows.append(tuple(str(c[i]) for c in cols))
        return sorted(rows)
    g, e = norm(got), norm(exp)
    if g != e:
        bad = next(i for i in range(len(g)) if g[i] != e[i])
        print(f"FAIL {name}: value mismatch at sorted-row {bad}:\n  got={g[bad]}\n  exp={e[bad]}")
        fail += 1; continue
    print(f"OK   {name}: {got.num_rows} rows")
print("ALL OK" if fail == 0 else f"{fail} FAILURES")
sys.exit(1 if fail else 0)

#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB-oracle gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--against <otherVerifyOutDir>]

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sfDir tables, sorts
columns by name and rows by all columns, and diffs values (floats to 1e-9
rel tolerance so we can spot true logic mismatches vs hash-level float
noise — the driver hashes exactly, so any float diff printed here is a
risk to fix at the query level).

With --against, every dumped result — rows-only ones included — is also
compared row for row (same columns, same normalized rows) with the result
of the same name in another Verify dump, e.g. one made at the parent
commit; any difference, or a result present in only one dump, fails."""
import argparse, json, math, os, sys
import duckdb
import pyarrow.dataset as ds

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v

def sort_key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)

def results(out_dir):
    return sorted(n for n in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, n)))

def load_rows(path):
    """(sorted column names, rows normalized and sorted) of one dump."""
    tbl = ds.dataset(path, format="parquet").to_table()
    cols = sorted(tbl.column_names)
    rows = sorted((tuple(norm(r[c]) for c in cols) for r in tbl.to_pylist()),
                  key=sort_key)
    return cols, rows

def parity(out_dir, other_dir):
    """Row-for-row comparison of every result in two Verify dumps."""
    mine, theirs = set(results(out_dir)), set(results(other_dir))
    n_same = n_diff = 0
    for name in sorted(mine | theirs):
        if name not in mine or name not in theirs:
            n_diff += 1
            side = "this dump" if name in mine else "the other dump"
            print(f"  [DIFF-missing] {name}: only in {side}")
            continue
        cols, rows = load_rows(os.path.join(out_dir, name))
        ocols, orows = load_rows(os.path.join(other_dir, name))
        if cols != ocols:
            n_diff += 1
            print(f"  [DIFF-schema] {name}: {cols} vs {ocols}")
        elif rows != orows:
            n_diff += 1
            differing = sum(1 for a, b in zip(rows, orows) if a != b)
            print(f"  [DIFF-rows] {name}: {len(rows)} vs {len(orows)} rows, "
                  f"{differing} differ in sorted order")
        else:
            n_same += 1
    print(f"\nparity: {n_same} identical, {n_diff} differing")
    return n_diff

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_ok = n_bad = n_skip = 0
    for name in results(out_dir):
        cols, spark_rows = load_rows(os.path.join(out_dir, name))
        if name not in oracles:
            n_skip += 1
            print(f"  [rows-only] {name}: {len(spark_rows)} rows")
            if len(spark_rows) == 0:
                print(f"    WARNING: empty result")
            continue
        try:
            duck = con.execute(oracles[name])
            dcols = [d[0] for d in duck.description]
            drows = duck.fetchall()
        except Exception as e:
            print(f"  [FAIL-oracle-sql] {name}: {e}")
            n_bad += 1
            continue
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        if sorted(dcols) != cols:
            print(f"  [FAIL-schema] {name}: spark={cols} duck={sorted(dcols)}")
            n_bad += 1
            continue
        duck_rows = sorted((tuple(norm(r[i]) for i in order) for r in drows), key=sort_key)
        if len(spark_rows) != len(duck_rows):
            print(f"  [FAIL-count] {name}: spark={len(spark_rows)} duck={len(duck_rows)}")
            n_bad += 1
            continue
        bad = [(a, b) for a, b in zip(spark_rows, duck_rows) if a != b]
        # exact first; if only float-noise diffs, report separately
        if not bad:
            n_ok += 1
            print(f"  [OK-exact] {name}: {len(spark_rows)} rows")
            continue
        def close(a, b):
            if a == b: return True
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b): return True
                return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
            return False
        loose = [(a, b) for a, b in bad
                 if not all(close(x, y) for x, y in zip(a, b))]
        if not loose:
            n_bad += 1
            print(f"  [FLOAT-NOISE] {name}: {len(bad)} rows differ only in float lsb — WILL FAIL exact hash")
            print(f"    e.g. {bad[0][0]} vs {bad[0][1]}")
        else:
            n_bad += 1
            print(f"  [FAIL-values] {name}: {len(loose)} mismatched rows")
            for a, b in loose[:3]:
                print(f"    spark={a}")
                print(f"    duck ={b}")
    print(f"\n{n_ok} exact-match, {n_bad} failing, {n_skip} rows-only")
    return n_bad

if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--against", metavar="OTHER_OUT_DIR",
                    help="also compare every result row for row with this dump")
    args = ap.parse_args()
    failed = main(args.sf_dir, args.out_dir)
    if args.against:
        failed += parity(args.out_dir, args.against)
    sys.exit(1 if failed else 0)

#!/usr/bin/env python3
"""Local oracle cross-check: for each query in <outdir>/oracle_sql.json,
compare the Spark parquet result in <outdir>/<name>/ against the same SQL
run in DuckDB over the testdata parquet tables (emulates the driver's
column-name-sorted value compare). A query output with no oracle SQL
counts as a failure. Each compared query's line carries its DuckDB wall
time (SQL run and rows fetched); the total and the five slowest queries
close the report. Usage: check_oracle.py <sfdir> <outdir>.
"""
import sys, json, glob, math, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exact parity required
    if isinstance(v, bool):
        return str(v)
    return str(v)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return sorted(c for c in cols), out

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    failures = 0
    oracle_s = {}
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"MISSING SPARK OUTPUT: {name}")
            failures += 1
            continue
        srel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        scols, srows = canon(srel.fetchall(), [c for c in srel.columns])
        try:
            t0 = time.perf_counter()
            drel = con.sql(sql)
            # the driver's hash compare is type-sensitive: DuckDB widens
            # uncast integer sum() to HUGEINT (int128), which hash-mismatches
            # Spark's BIGINT even when values are equal — flag it here
            huge = [c for c, t in zip(drel.columns, drel.types)
                    if "HUGEINT" in str(t).upper()]
            if huge:
                print(f"HUGEINT ORACLE COLUMNS {name}: {huge} "
                      f"(cast sums to BIGINT)")
                failures += 1
                continue
            fetched = drel.fetchall()
            oracle_s[name] = time.perf_counter() - t0
            dcols, drows = canon(fetched, [c for c in drel.columns])
        except Exception as e:
            print(f"ORACLE SQL ERROR: {name}: {e}")
            failures += 1
            continue
        took = f"(oracle {oracle_s[name]:.2f} s)"
        if scols != dcols:
            print(f"SCHEMA MISMATCH {name} {took}: spark={scols} duck={dcols}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"ROWCOUNT MISMATCH {name} {took}: spark={len(srows)} duck={len(drows)}")
            failures += 1
            continue
        if srows != drows:
            diff = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
            print(f"VALUE MISMATCH {name} {took}: {len(diff)} differing rows; first:")
            i = diff[0]
            print(f"  cols : {scols}")
            print(f"  spark: {srows[i]}")
            print(f"  duck : {drows[i]}")
            failures += 1
            continue
        print(f"OK {name}: {len(srows)} rows {took}")
    noracle = [n for n in sorted(glob.glob(f"{outdir}/q*")) if
               n.split('/')[-1] not in oracle]
    for n in noracle:
        files = glob.glob(f"{n}/*.parquet")
        cnt = con.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else -1
        print(f"ROWS-ONLY (no oracle SQL) {n.split('/')[-1]}: {cnt} rows")
        failures += 1
    print(f"\noracle total {sum(oracle_s.values()):.2f} s over {len(oracle_s)} queries; slowest:")
    for name in sorted(oracle_s, key=oracle_s.get, reverse=True)[:5]:
        print(f"  {name}: {oracle_s[name]:.2f} s")
    print(f"{failures} failures")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])

#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py [sfDir] [outDir]

Assumes Verify has already been run:
  sbt "runMain graft.Verify <sfDir> <outDir>"

For each query result parquet in outDir, runs the matching oracle SQL from
oracle_sql.json in DuckDB over the same sfDir tables and compares:
schema (sorted column names), row count, and values (exact; doubles exact
too — the engine computes in decimal specifically so this holds). An
oracle entry with no result dir (the query threw in Verify) is a FAIL
(`missing`), so the exit code is 1 whenever a checked query produced no
output.
"""
import duckdb, glob, json, math, os, sys

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    return v


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check.py [sfdir] [outdir] [--json OUT.json]",
                  file=sys.stderr)
            sys.exit(2)
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sfdir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
    outdir = argv[1] if len(argv) > 1 else "/tmp/verify_out"
    report = {}

    def record(name, status, rows=None, detail=None):
        report[name] = {"status": status}
        if rows is not None:
            report[name]["rows"] = rows
        if detail is not None:
            report[name]["detail"] = detail

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sfdir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written replica dirs (ScaleVerify) vs the driver's
            # single-file testdata: glob the part files inside.
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    n_pass = n_fail = n_noracle = 0
    dirs = {os.path.basename(d): d
            for d in glob.glob(os.path.join(outdir, "*")) if os.path.isdir(d)}
    for name in sorted(set(dirs) | set(oracle)):
        d = dirs.get(name)
        if d is None:
            print(f"  FAIL {name}: missing (no result dir — the query threw "
                  f"in Verify; see its [verify] stderr line)")
            record(name, "fail", detail="missing")
            n_fail += 1
            continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        if name not in oracle:
            nrows = len(spark_rel.fetchall())
            print(f"  [rows-only] {name}: {nrows} rows")
            record(name, "rows-only", rows=nrows)
            n_noracle += 1
            continue
        try:
            # The driver sorts with pandas, which cannot sort array/map/
            # struct columns ("unhashable type: numpy.ndarray" — round 7's
            # emb_avg_pool). Replicate that limitation here so a non-scalar
            # catalog schema fails locally before it reaches the driver.
            nonscalar = [c for c, t in zip(spark_rel.columns, spark_rel.types)
                         if "[]" in str(t) or str(t).startswith(("STRUCT", "MAP"))]
            if nonscalar:
                print(f"  FAIL {name}: non-scalar output columns {nonscalar} "
                      f"(driver's pandas sort would throw)")
                record(name, "fail", detail=f"non-scalar columns {nonscalar}")
                n_fail += 1
                continue
            duck_rel = con.sql(oracle[name])
            s_cols = sorted(spark_rel.columns)
            d_cols = sorted(duck_rel.columns)
            if s_cols != d_cols:
                print(f"  FAIL {name}: columns {s_cols} != {d_cols}")
                record(name, "fail", detail=f"columns {s_cols} != {d_cols}")
                n_fail += 1
                continue
            # The driver hashes TYPED values, so a DuckDB HUGEINT (int
            # sums widen to INT128) vs Spark BIGINT is a hash mismatch
            # even though Python normalizes both to int. Catch it here.
            type_bad = []
            for c in d_cols:
                dt = str(duck_rel.types[duck_rel.columns.index(c)])
                st = str(spark_rel.types[spark_rel.columns.index(c)])
                if dt != st and ("HUGEINT" in dt or "HUGEINT" in st):
                    type_bad.append((c, st, dt))
            if type_bad:
                print(f"  FAIL {name}: driver-hash type mismatch "
                      f"(spark vs oracle): {type_bad} — CAST the oracle "
                      f"expression to the Spark type")
                record(name, "fail", detail=f"type mismatch {type_bad}")
                n_fail += 1
                continue
            s_rows = sorted(
                (tuple(norm_cell(r[spark_rel.columns.index(c)]) for c in s_cols)
                 for r in spark_rel.fetchall()),
                key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
            d_rows = sorted(
                (tuple(norm_cell(r[duck_rel.columns.index(c)]) for c in d_cols)
                 for r in duck_rel.fetchall()),
                key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
            if len(s_rows) != len(d_rows):
                print(f"  FAIL {name}: rows {len(s_rows)} != {len(d_rows)}")
                record(name, "fail",
                       detail=f"rows {len(s_rows)} != {len(d_rows)}")
                n_fail += 1
                continue
            bad = None
            for i, (a, b) in enumerate(zip(s_rows, d_rows)):
                if a != b:
                    bad = (i, a, b)
                    break
            if bad:
                i, a, b = bad
                print(f"  FAIL {name}: first diff at sorted row {i}\n    spark={a}\n    duck ={b}")
                record(name, "fail",
                       detail=f"value diff at sorted row {i}: "
                              f"spark={a!r} duck={b!r}"[:400])
                n_fail += 1
            else:
                print(f"  PASS {name}: {len(s_rows)} rows, cols={s_cols}")
                record(name, "pass", rows=len(s_rows))
                n_pass += 1
        except Exception as e:
            print(f"  FAIL {name}: oracle error: {e}")
            record(name, "fail", detail=f"oracle error: {e}"[:400])
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_noracle} rows-only ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sfdir, "out_dir": outdir,
                       "pass": n_pass, "fail": n_fail,
                       "rows_only": n_noracle, "queries": report},
                      f, indent=1, sort_keys=True)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

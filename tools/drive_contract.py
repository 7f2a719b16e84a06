"""Driver-harness simulation: consume the repo's __spark_entry__.py
exactly as the external driver would — vanilla session, entry() smoke,
queries() vs oracle_sql() at sf0.01 via DuckDB.

Also writes CORRECTNESS_full.json in the system temp directory
(``tempfile.gettempdir()``; the path is printed) covering EVERY
registry query (the driver's own artifact samples ~50), so the green
state of a run is auditable without a re-run.  Nothing is written into
the repo.

Usage (from a cwd outside the repo): python <repo>/tools/drive_contract.py
"""
import json, os, sys, tempfile, time, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
import duckdb, pandas as pd

# Vanilla driver-style session: note NO custom timezone/AQE confs from the repo.
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .appName("driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

t0 = time.time()
rows = e.entry(spark).collect()
print(f"[entry] rows={len(rows)} sample={rows[:2]} ({time.time()-t0:.1f}s)")
assert len(rows) > 0

SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

qs, osql = e.queries(), e.oracle_sql()
print(f"[contract] {len(qs)} queries, {len(osql)} with oracle")
fails = []
artifact = {}
for name, fn in sorted(qs.items()):
    t0 = time.time()
    try:
        sdf = fn(spark, SF).toPandas()
    except Exception as ex:
        fails.append((name, f"spark error: {ex}")); print(f"  {name}: SPARK ERROR {ex}")
        artifact[name] = {"rows_match": False, "schema_match": False, "hash_match": False,
                          "spark_rows": None, "oracle_rows": None, "err": f"spark error: {ex}"}
        continue
    if name not in osql:
        print(f"  {name}: rows-only n={len(sdf)} ({time.time()-t0:.1f}s)")
        artifact[name] = {"rows_match": None, "schema_match": None, "hash_match": None,
                          "spark_rows": len(sdf), "oracle_rows": None, "err": "no_oracle"}
        continue
    odf = con.execute(osql[name]).df()
    prob = None
    if sorted(sdf.columns) != sorted(odf.columns):
        prob = f"schema {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    elif len(sdf) != len(odf):
        prob = f"rowcount {len(sdf)} vs {len(odf)}"
    else:
        a = sdf.reindex(sorted(sdf.columns), axis=1)
        b = odf.reindex(sorted(odf.columns), axis=1)
        for c in a.columns:
            if a[c].dtype == object: a[c] = a[c].astype(str)
            if b[c].dtype == object: b[c] = b[c].astype(str)
        a = a.sort_values(by=list(a.columns), ignore_index=True)
        b = b.sort_values(by=list(b.columns), ignore_index=True)
        for c in a.columns:
            if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
                ax = pd.to_numeric(a[c], errors="coerce"); bx = pd.to_numeric(b[c], errors="coerce")
                bad = [(x, y) for x, y in zip(ax, bx)
                       if not ((pd.isna(x) and pd.isna(y)) or (not pd.isna(x) and not pd.isna(y) and math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-9)))]
                if bad: prob = f"col {c}: {len(bad)} diffs e.g. {bad[0]}"; break
            else:
                if (a[c].astype(str) != b[c].astype(str)).any():
                    prob = f"col {c} mismatch"; break
    status = "MATCH" if prob is None else f"MISMATCH: {prob}"
    if prob: fails.append((name, prob))
    artifact[name] = {
        "rows_match": len(sdf) == len(odf),
        "schema_match": sorted(sdf.columns) == sorted(odf.columns),
        "hash_match": prob is None,
        "spark_rows": len(sdf), "oracle_rows": len(odf),
        "err": prob,
    }
    print(f"  {name}: {status} n={len(sdf)} ({time.time()-t0:.1f}s)")

out = os.path.join(tempfile.gettempdir(), "CORRECTNESS_full.json")
with open(out, "w") as f:
    json.dump(artifact, f, indent=1)
print(f"\n[artifact] {out}: {len(artifact)} queries")
print(f"[RESULT] {len(qs)-len(fails)}/{len(qs)} ok; failures: {fails}")
sys.exit(1 if fails else 0)

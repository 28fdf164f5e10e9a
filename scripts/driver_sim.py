"""Oracle sweep of the __spark_entry__ contract in a default SparkSession.

Checks the checkout this script sits in (its parent directory), so a run
from another copy of the repo checks that copy's code."""
import os, sys, math, datetime as dt, numbers
from decimal import Decimal
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import numpy as np
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()

import __spark_entry__ as e

df = e.entry(spark)
rows = df.collect()
print(f"ENTRY OK: {len(rows)} rows, schema={df.columns}")
print(rows[:3])

SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if v is None: return (0,"")
    if isinstance(v,(bool,np.bool_)): return (1,float(v))
    if isinstance(v,(numbers.Real,Decimal)):
        f=float(v)
        return (0,"") if math.isnan(f) else (1,round(f,6))
    if isinstance(v,dt.datetime): return (2,v.isoformat(sep=" "))
    if isinstance(v,dt.date): return (2,v.isoformat())
    if isinstance(v,(list,tuple,np.ndarray)): return (3,tuple(norm(x) for x in v))
    return (4,str(v))

qs, os_ = e.queries(), e.oracle_sql()
results = {}
only = set(sys.argv[1:])  # optional: check just these query names
if only:
    unknown = only - set(qs)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
fails = []
for name in sorted(only or qs):
    try:
        sdf = qs[name](spark, SF)
        # Driver-harness parity: the real driver canonicalizes via pandas
        # sort_values, which raises "unhashable type" on array/map/struct
        # cells. Flag such schemas as errors here so the full sweep catches
        # them before the driver does (round-3 verdict item 8).
        complex_cols = [c for c, t in sdf.dtypes
                        if t.startswith(("array", "map", "struct"))]
        if complex_cols:
            raise TypeError(
                f"driver-uncanonicalizable output columns {complex_cols}: "
                "the driver's pandas harness cannot sort/hash list cells; "
                "serialize to scalars (concat_ws/to_json)")
        scols = sorted(sdf.columns)
        srows = sorted(tuple(norm(r[c]) for c in scols) for r in sdf.collect())
        if name not in os_:
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(srows),
                             "oracle_rows": None, "err": "no_oracle"}
            print(f"{name}: rows-only, {len(srows)} rows")
            continue
        odf = con.execute(os_[name]).fetchdf()
        ocols = sorted(odf.columns.tolist())
        # dtype-skew guard: an int column arriving as float64 from DuckDB
        # (e.g. window-sum HUGEINT, or uncast expressions) is a hash-risk.
        # Nullable int columns unavoidably become float64 in pandas and the
        # real driver tolerates those (r1 evidence: agg_cube/rollup, asof,
        # lag_lead all passed) — warn; fail only on null-free skew.
        sdtypes = dict(sdf.dtypes)
        for c in sdf.columns:
            if c in odf.columns:
                s_int = sdtypes[c] in ("bigint", "int", "smallint", "tinyint")
                o_int = str(odf[c].dtype).startswith(("int", "uint"))
                o_float = str(odf[c].dtype).startswith("float")
                s_float = sdtypes[c] in ("double", "float")
                if (s_int and o_float) or (s_float and o_int):
                    if odf[c].isna().any():
                        print(f"{name}: dtype-warn col={c} spark={sdtypes[c]} "
                              f"duckdb={odf[c].dtype} (nullable-int artifact)")
                    else:
                        print(f"{name}: DTYPE-HAZARD col={c} spark={sdtypes[c]} "
                              f"duckdb={odf[c].dtype}")
                        fails.append(f"{name}:dtype:{c}")
        orecs = odf.where(odf.notna(), None).to_dict("records")
        orows = sorted(tuple(norm(r[c]) for c in ocols) for r in orecs)
        ok_cols = scols == ocols
        ok_cnt = len(srows) == len(orows)
        ok_vals = ok_cnt and all(
            all((x[0]==y[0]) and (math.isclose(x[1],y[1],rel_tol=1e-9,abs_tol=1e-6) if x[0]==1 else x==y) for x,y in zip(a,b))
            for a,b in zip(srows,orows))
        status = "MATCH" if (ok_cols and ok_cnt and ok_vals) else "MISMATCH"
        results[name] = {"rows_match": ok_cnt, "schema_match": ok_cols,
                         "hash_match": bool(ok_vals), "spark_rows": len(srows),
                         "oracle_rows": len(orows), "err": None}
        print(f"{name}: {status} (cols={ok_cols} cnt={ok_cnt} {len(srows)}v{len(orows)} vals={ok_vals})")
        if status != "MATCH":
            fails.append(name)
            if ok_cnt:
                for a,b in zip(srows,orows):
                    if a!=b: print("  spark:",a,"\n  duck: ",b); break
    except Exception as ex:
        results[name] = {"rows_match": False, "schema_match": False,
                         "hash_match": False, "spark_rows": None,
                         "oracle_rows": None,
                         "err": f"{type(ex).__name__}: {str(ex)[:200]}"}
        print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:200]}")
        fails.append(name)
    finally:
        # r12: release each query's scoped persists before the next one —
        # without this, 282 queries' cached frames and broadcasts pile up
        # in the plain session's default 1 GiB driver (cached blocks are
        # evictable but broadcasts are not until GC'd), and by query ~250
        # AQE stage materialization starts failing with
        # UNABLE_TO_ACQUIRE_MEMORY / STAGE_MATERIALIZATION_MULTIPLE_
        # FAILURES on queries that run fine in a fresh 1 GiB session.
        # The pytest catalog harness has always done this per build
        # (tests/conftest.py catalog_builds); the sweep now matches it.
        try:
            from sri_spark.operators.caching import unpersist_all
            unpersist_all()
        except Exception:
            pass
print("FAILS:", fails if fails else "none")

import json
out_path = os.environ.get("SIM_JSON_OUT")
if out_path:
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path} ({len(results)} queries)")

"""Local stand-in for the driver's CORRECTNESS check: run each
__spark_entry__ query on Spark and its oracle on DuckDB over the same
sf parquet tables; compare row count, sorted-column schema, and
order-insensitive values.

Usage: python tools/parity.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            s = s.astype(str)
        elif str(s.dtype).startswith(("float", "Float")):
            s = s.astype(float)
        elif str(s.dtype).startswith(("int", "Int", "uint")):
            s = s.astype("int64")
        elif str(s.dtype) == "bool":
            s = s.astype(bool)
        else:
            s = s.astype(str)
        out[c] = s
    res = pd.DataFrame(out)
    return res.sort_values(list(res.columns)).reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if len(sdf) != len(odf):
        errs.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    sc, oc = sorted(sdf.columns), sorted(odf.columns)
    if sc != oc:
        errs.append(f"columns: spark={sc} oracle={oc}")
        return errs
    if errs:
        return errs
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        a, b = s[c], o[c]
        if a.dtype == float or b.dtype == float:
            a = a.astype(float)
            b = b.astype(float)
            bad = ~(
                (a.isna() & b.isna())
                | (a == b)
                | ((a - b).abs() <= 1e-12 * (1 + b.abs()))
            )
            exact_bad = ~((a.isna() & b.isna()) | (a == b))
            if bad.any():
                i = bad.idxmax()
                errs.append(f"col {c}: {int(bad.sum())} mismatches, e.g. {a[i]!r} vs {b[i]!r}")
            elif exact_bad.any():
                i = exact_bad.idxmax()
                errs.append(
                    f"col {c}: WARNING {int(exact_bad.sum())} non-bit-exact floats, "
                    f"e.g. {a[i]!r} vs {b[i]!r}"
                )
        else:
            a2, b2 = a.astype(str), b.astype(str)
            bad = ~((a.isna() & b.isna()) | (a2 == b2))
            if bad.any():
                i = bad.idxmax()
                errs.append(f"col {c}: {int(bad.sum())} mismatches, e.g. {a2[i]!r} vs {b2[i]!r}")
    return errs


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failed = []
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sp_df = fn(spark, sf_dir)
            sdf_types = sp_df.dtypes
            sdf = sp_df.toPandas()
        except Exception as e:
            failed.append(name)
            record[name] = {"ok": False, "err": f"spark: {type(e).__name__}: {str(e)[:200]}"}
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:400]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            record[name] = {"ok": True, "rows": len(sdf), "note": "rows-only (no oracle)"}
            print(f"SKIP {name}: no oracle (rows-only: {len(sdf)})")
            continue
        try:
            otbl = con.execute(sql).fetch_arrow_table()
            odf = otbl.to_pandas()
        except Exception as e:
            failed.append(name)
            record[name] = {"ok": False, "err": f"oracle: {type(e).__name__}: {str(e)[:200]}"}
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {str(e)[:400]}")
            continue
        errs = compare(name, sdf, odf)
        # Arrow-level type gate: the driver's value hash is
        # type-sensitive — DuckDB HUGEINT/DECIMAL vs Spark BIGINT
        # hash-mismatched 3 r1 queries despite equal values
        spark_types = dict(sdf_types)
        for f_ in otbl.schema:
            ot = str(f_.type)
            st = spark_types.get(f_.name, "?")
            ok_pairs = {
                ("bigint", "int64"), ("int", "int32"), ("double", "double"),
                ("float", "float"), ("string", "string"),
                ("string", "large_string"), ("boolean", "bool"),
                ("date", "date32[day]"),
            }
            if (st, ot) in ok_pairs or ot.startswith("timestamp"):
                continue
            if ot in ("int8", "int16", "int32") and st in ("int", "bigint", "smallint", "tinyint"):
                continue  # narrow ints hash fine
            hard = ot.startswith(("decimal", "int128")) or st == "?"
            msg = f"type {f_.name}: spark={st} oracle-arrow={ot}"
            if hard:
                errs.append(msg)
            else:
                errs.append(f"WARNING {msg}")
        hard = [e for e in errs if "WARNING" not in e]
        if hard:
            failed.append(name)
            record[name] = {"ok": False, "rows": len(sdf), "err": "; ".join(hard)[:300]}
            print(f"FAIL {name} ({len(sdf)} rows):")
            for e in errs:
                print(f"   {e}")
        else:
            warn = "" if not errs else f"  [{errs[0]}]"
            record[name] = {"ok": True, "rows": len(sdf), "oracle_rows": len(odf)}
            print(f"OK   {name} ({len(sdf)} rows){warn}")
    out = os.environ.get("PARITY_OUT")
    if out and not only:
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
            capture_output=True, text=True,
        ).stdout.strip()
        with open(out, "w") as f:
            json.dump({"sf_dir": sf_dir, "commit": head,
                       "all_green": not failed, "queries": record}, f, indent=1)
        print(f"written {out}")
    print(f"\n{'ALL GREEN' if not failed else 'FAILED: ' + ', '.join(failed)}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()

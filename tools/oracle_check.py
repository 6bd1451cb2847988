"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()`` entry
exists, the same query on DuckDB over the same parquet tables; compares
row count, column names, and order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...] [--json out.json]

With ``--json`` writes a driver-format artifact (one row per query:
rows/schema/hash match flags) — tools/ci_gate.py uses this to commit
CORRECTNESS_FULL.json covering the whole registry each round.
"""

from __future__ import annotations

import json
import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_denormalization_spark.engine import TABLES, get_spark
from __spark_entry__ import oracle_sql, queries


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.astype(str)
    order = key.sort_values(by=list(key.columns)).index
    return df.loc[order].reset_index(drop=True)


def values_equal(a, b) -> bool:
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
    # The driver's value hash is dtype-KIND-sensitive: a DuckDB HUGEINT
    # (-> pandas float64/object) next to a Spark BIGINT hash-mismatches even
    # when the numbers agree (the checked-in sequence_packing r02 failure),
    # while width-only differences are tolerated (int32-vs-int64 market_share
    # and ns-vs-us datetime denorm_inner both had green r02 driver rows).
    # Flag kind divergence only — values_equal alone would miss it.
    for col in scols:
        if col in dcols and spark_pdf[col].dtype.kind != duck_pdf[col].dtype.kind:
            problems.append(
                f"dtype kind of {col}: spark={spark_pdf[col].dtype} "
                f"duck={duck_pdf[col].dtype}"
            )
    if problems:
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [i for i in range(len(av)) if not values_equal(av[i], bv[i])]
        if bad:
            i = bad[0]
            problems.append(
                f"{len(bad)} value diffs in col {col}; first at row {i}: "
                f"spark={av[i]!r} duck={bv[i]!r}"
            )
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--only"]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("oracle-check")
    con = duck_con(sf_dir)
    qs, oracles = queries(), oracle_sql()
    failures = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        row = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        report[name] = row
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
            row["spark_rows"] = len(spark_pdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            row["err"] = f"spark: {e}"
            failures += 1
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only check, {len(spark_pdf)} rows")
            row["err"] = "no_oracle"
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
            row["oracle_rows"] = len(duck_pdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            row["err"] = f"duckdb: {e}"
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        row["rows_match"] = len(spark_pdf) == len(duck_pdf)
        row["schema_match"] = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
        row["hash_match"] = not problems
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name}: {len(spark_pdf)} rows match")
    if json_path:
        with open(json_path, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {json_path} ({len(report)} queries)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Local replica of the driver's correctness gate.

Runs every catalog query on Spark and its oracle SQL on DuckDB at the
given sf dir, compares row count, column names, and order-insensitive
rounded values. Usage:

    python tools/check_oracle.py [sf_dir] [query ...] [--json PATH]

A requested query name that is not in the catalog is an error: the tool
names every such query and exits with status 2 before running anything.
``--json PATH`` (in any position) also writes the sweep as a JSON list
with one record per query: ``name``, ``status`` (``ok``, ``rows-only``
or ``fail``), ``rows`` (the Spark result's row count, null when Spark
raised) and ``gate_oracle`` (true for a query with an oracle registered
as a gate oracle).
"""

from __future__ import annotations

import argparse
import json

import duckdb
import numpy as np
import pandas as pd

from pymfe_spark import get_spark
from pymfe_spark.plans import load_catalog


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
    sort_cols = list(df.columns)
    return df.sort_values(sort_cols, na_position="last").reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
        )
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count differ: spark={len(spark_df)} duck={len(duck_df)}")
        return problems
    s, d = normalize(spark_df), normalize(duck_df)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_numeric_dtype(sv) and pd.api.types.is_numeric_dtype(dv):
            a = sv.astype(float).to_numpy()
            b = dv.astype(float).to_numpy()
            ok = np.allclose(a, b, rtol=0, atol=1e-9, equal_nan=True)
        else:
            ok = (sv.fillna("·").astype(str) == dv.fillna("·").astype(str)).all()
        if not ok:
            mism = None
            try:
                bad = ~np.isclose(
                    sv.astype(float), dv.astype(float), rtol=0, atol=1e-9, equal_nan=True
                )
                i = int(np.argmax(bad))
                mism = f" first diff row {i}: spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}"
            except Exception:
                pass
            problems.append(f"column {c} values differ.{mism or ''}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Run catalog queries against their DuckDB oracles."
    )
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("queries", nargs="*", help="catalog names to check (default: all)")
    ap.add_argument("--json", metavar="PATH", help="write one record per query here")
    args = ap.parse_intermixed_args()
    sf_dir, json_path, only = args.sf_dir, args.json, set(args.queries)
    catalog = load_catalog()
    unknown = sorted(only - set(catalog))
    if unknown:
        ap.error("not in the catalog: " + ", ".join(unknown))
    spark = get_spark(cpus=16)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    records = []
    for name, entry in sorted(catalog.items()):
        if only and name not in only:
            continue
        record = {
            "name": name,
            "status": "fail",
            "rows": None,
            "gate_oracle": entry.oracle is not None and entry.gate_oracle,
        }
        records.append(record)
        try:
            sdf = entry.fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            continue
        record["rows"] = len(sdf)
        if entry.oracle is None:
            record["status"] = "rows-only"
            print(f"ok   {name}: rows-only ({len(sdf)} rows)")
            if len(sdf) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            ddf = con.execute(entry.oracle).df()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            record["status"] = "ok"
            print(f"ok   {name}: {len(sdf)} rows match oracle")
    spark.stop()
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(records, fh, indent=1)
    return 1 if any(r["status"] == "fail" for r in records) else 0


if __name__ == "__main__":
    raise SystemExit(main())

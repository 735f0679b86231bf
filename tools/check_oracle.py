"""Local replica of the driver's correctness gate.

Runs every catalog query on Spark and its oracle SQL on DuckDB at the
given sf dir, compares row count, column names, and order-insensitive
rounded values — the same comparison pytest uses
(``pymfe_spark.testing.frame_problems``). Usage:

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

from pymfe_spark import get_spark
from pymfe_spark.plans import load_catalog
from pymfe_spark.testing import duckdb_connect, frame_problems


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
    con = duckdb_connect(sf_dir)

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
        problems = frame_problems(sdf, ddf)
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

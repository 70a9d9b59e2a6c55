#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

For every entry in ``__spark_entry__.queries()`` with a matching
``oracle_sql()`` entry: run the Spark query and the DuckDB oracle on the
same parquet fixtures, then compare

  1. row count,
  2. column names (sorted — the driver sorts before hashing),
  3. values, order-insensitively (rows sorted by their repr).

Usage:  python scripts/check_oracle.py [query ...] [sf0.001|sf0.01|sf0.1]
                                       [--json OUT.json]

``--json`` additionally writes a per-query artifact (the FULLGATE_r{N}
sweep): {"name": {"status": "pass|fail|rows_only", "rows": N,
"problems": [...], "spark_s": x, "duck_s": y}}.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def norm_cell(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_type(t: str) -> str:
    """Map Spark dtypes and DuckDB type names onto one canonical set."""
    t = str(t).lower()
    aliases = {
        "bigint": "int64", "long": "int64", "hugeint": "int128",
        "int": "int32", "integer": "int32", "smallint": "int16",
        "tinyint": "int8", "utinyint": "uint8",
        "double": "float64", "double precision": "float64",
        "float": "float32", "real": "float32",
        "varchar": "string", "text": "string", "string": "string",
        "timestamp_ntz": "timestamp", "timestamp": "timestamp",
        "timestamp with time zone": "timestamptz",
        "date": "date", "boolean": "boolean", "blob": "binary",
        "binary": "binary",
    }
    if t.startswith("decimal") or t.startswith("numeric"):
        return "decimal" + t.split("(", 1)[1].rstrip(")").replace(" ", "") \
            if "(" in t else "decimal"
    if t.startswith("array<") or t.endswith("[]"):
        return "list"
    return aliases.get(t, t)


def schema_map(cols, types) -> dict[str, str]:
    return {c: norm_type(t) for c, t in zip(cols, types)}


def norm_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def run_sweep(names: list[str] | None = None,
              sf_dir: str = "/root/testdata/sf0.01",
              spark=None, verbose: bool = True) -> dict[str, dict]:
    """Run the gate replica; returns {name: {status, rows, problems,
    spark_s, duck_s}} with status in pass|fail|rows_only. Importable so
    the fullgate pytest guard shares the exact comparison logic."""
    import duckdb
    import __spark_entry__ as entrymod

    if spark is None:
        from db2pq_spark.session import get_spark
        spark = get_spark(app_name="check_oracle")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if not names:
        names = list(qs)

    con = duckdb.connect()
    for tbl in ("region nation customer supplier part orders lineitem "
                "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf_dir}/{tbl}.parquet')"
        )

    results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001 — sweep must not abort
            results[name] = {"status": "fail", "rows": None,
                             "problems": [f"spark error: {exc}"[:300]],
                             "spark_s": round(time.time() - t0, 2),
                             "duck_s": None}
            if verbose:
                print(f"✗ {name:28s} SPARK ERROR: {exc}")
            continue
        spark_s = time.time() - t0

        if name not in oracles:
            results[name] = {"status": "rows_only", "rows": len(srows),
                             "problems": [],
                             "spark_s": round(spark_s, 2), "duck_s": None}
            if verbose:
                print(f"  {name:28s} rows-only: {len(srows)} rows  "
                      f"[{spark_s:.1f}s]")
            continue

        t0 = time.time()
        rel = con.sql(oracles[name])
        dcols = rel.columns
        drows = rel.fetchall()
        duck_s = time.time() - t0

        problems = []
        if len(srows) != len(drows):
            problems.append(f"row count {len(srows)} != {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns {sorted(scols)} != {sorted(dcols)}")
        else:
            smap = schema_map(scols, [t for _, t in sdf.dtypes])
            dmap = schema_map(dcols, rel.types)
            mismatched = {c: (smap[c], dmap[c]) for c in smap
                          if smap[c] != dmap[c]}
            if mismatched:
                problems.append(f"type mismatch {mismatched}")
        if not problems:
            a, b = norm_rows(scols, srows), norm_rows(dcols, drows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y]
                problems.append(
                    f"{len(diffs)} differing rows; first: spark={diffs[0][0]!r} "
                    f"duck={diffs[0][1]!r}")
        results[name] = {
            "status": "fail" if problems else "pass",
            "rows": len(srows),
            "problems": problems,
            "spark_s": round(spark_s, 2),
            "duck_s": round(duck_s, 2),
        }
        if verbose:
            if problems:
                print(f"✗ {name:28s} FAIL: {'; '.join(problems)}")
                print(f"    spark types: {sdf.dtypes}")
                print(f"    duck  types: "
                      f"{list(zip(rel.columns, [str(t) for t in rel.types]))}")
            else:
                print(f"✓ {name:28s} {len(srows)} rows  "
                      f"[spark {spark_s:.1f}s, duck {duck_s:.2f}s]")
    return results


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    names: list[str] = []
    json_out = None
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--json":
            json_out = args[i + 1]
            i += 2
            continue
        if a.startswith("sf"):
            sf_dir = f"/root/testdata/{a}"
        else:
            names.append(a)
        i += 1

    results = run_sweep(names or None, sf_dir)
    n_pass = sum(1 for r in results.values() if r["status"] == "pass")
    n_fail = sum(1 for r in results.values() if r["status"] == "fail")
    n_rows_only = sum(1 for r in results.values()
                      if r["status"] == "rows_only")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only  ({sf_dir})")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "results": results}, fh, indent=1)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

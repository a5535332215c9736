"""Local replica of the driver's duckdb-oracle correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same parquet tables; compares row count, column names, and order-insensitive
values (sorted columns, sorted rows, stringified cells).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
       python tools/oracle_check.py --out ORACLE_LOCAL.json [sf_dir]

--out writes a JSON artifact recording per-query status — committed each
round as ORACLE_LOCAL.json so every query has a recorded gate even when
the driver's CORRECTNESS sampling skips it.
"""

from __future__ import annotations

import sys
from datetime import date, datetime

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # Full precision on purpose: stricter than the driver so that any
        # engine-level float nondeterminism fails HERE first.
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.1f}"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            f = float(v)
            return f"{f:.1f}" if f == int(f) else repr(round(f, 9))
    except ImportError:
        pass
    return str(v)


def rows_to_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon(r[i]) for i in order))
    out.sort()
    return [c for c in sorted(cols)], out


def main():
    args = sys.argv[1:]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from ndr_import_spark import recommended_session_conf

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in recommended_session_conf().items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    results: dict[str, dict] = {}

    def record(name, status, rows=None, detail=None):
        results[name] = {"status": status}
        if rows is not None:
            results[name]["rows"] = rows
        if detail:
            results[name]["detail"] = detail[:200]

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__} {str(e)[:200]}")
            record(name, "fail", detail=f"spark error: {type(e).__name__} {e}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows-only {name}: {len(srows)} rows (no oracle)")
            record(name, "rows-only", rows=len(srows))
            continue
        try:
            rel = con.sql(sql)
            # HUGEINT (any int sum in DuckDB) degrades to float64 through the
            # pandas/arrow bridge ("3.0" vs Spark's "3") and breaks the
            # driver's value hash even when fetchall() values are equal.
            huge = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t)]
            if huge:
                print(f"FAIL {name}: oracle emits HUGEINT cols {huge}; add cast(... as bigint)")
                record(name, "fail", detail=f"HUGEINT cols {huge}")
                failures += 1
                continue
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            record(name, "fail", detail=f"duckdb error: {e}")
            failures += 1
            continue

        sc, sr = rows_to_canon(scols, srows)
        oc, orr = rows_to_canon(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: schema mismatch\n  spark: {sc}\n  duck:  {oc}")
            record(name, "fail", detail="schema mismatch")
            failures += 1
            continue
        if len(sr) != len(orr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(orr)}")
            record(name, "fail", detail=f"rowcount {len(sr)} vs {len(orr)}")
            failures += 1
            continue
        diffs = [i for i, (a, b) in enumerate(zip(sr, orr)) if a != b]
        if diffs:
            i = diffs[0]
            print(f"FAIL {name}: {len(diffs)}/{len(sr)} rows differ; first at {i}:")
            print(f"  cols:  {sc}")
            print(f"  spark: {sr[i]}")
            print(f"  duck:  {orr[i]}")
            record(name, "fail", detail=f"{len(diffs)}/{len(sr)} rows differ")
            failures += 1
        else:
            print(f"OK   {name}: {len(sr)} rows match")
            record(name, "ok", rows=len(sr))
    print("FAILURES:", failures)
    if out_path:
        import json

        ok = sum(1 for r in results.values() if r["status"] == "ok")
        artifact = {
            "sf_dir": sf_dir,
            "generated": datetime.now().isoformat(timespec="seconds"),
            "n_queries": len(results),
            "ok": ok,
            "rows_only": sum(
                1 for r in results.values() if r["status"] == "rows-only"
            ),
            "failures": failures,
            "results": results,
        }
        with open(out_path, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"wrote {out_path}: {ok}/{len(results)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

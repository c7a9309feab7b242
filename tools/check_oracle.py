"""Local differential-testing harness mimicking the driver's t2 check:
run every declared query on Spark and its DuckDB oracle side-by-side,
compare row count + schema shape + order-insensitive value hash.

Usage:  python tools/check_oracle.py [--json OUT.json] [--skip NAME]...
                                     [sf_dir] [query ...]

With --json, every checked query's result is also written in the
driver's CORRECTNESS_r{N}.json row format (rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err) so full-surface sweeps can
be committed as auditable artifacts (docs/CORRECTNESS_full_*.json).
Each row also records `listing_jobs`: the Spark jobs the query's Spark
side launched to list files in parallel, and `spark_s`: the wall seconds
its Spark side took to build and collect the result.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_clickhouse_implementation_spark.io import TABLES  # noqa: E402
from kafka_clickhouse_implementation_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Full round-trip precision: two floats normalize equal iff they
        # are bit-identical. %.9g previously masked a real driver hash
        # fail (286569301.9 vs .89 both -> 286569302).
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# normalize engine type names to a comparable vocabulary
_SPARK_T = {
    "bigint": "i64", "int": "i32", "smallint": "i16", "tinyint": "i8",
    "double": "f64", "float": "f32", "string": "str", "date": "date",
    "timestamp": "ts", "boolean": "bool", "binary": "bin",
}
_DUCK_T = {
    "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16", "TINYINT": "i8",
    "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str", "STRING": "str",
    "DATE": "date", "TIMESTAMP": "ts", "Timestamp": "ts",
    "DATETIME": "ts", "BOOLEAN": "bool", "BLOB": "bin", "HUGEINT": "i128",
    "NUMBER": "num", "DECIMAL": "dec",
}


def _norm_spark_type(ts: str) -> str:
    # array<string> -> str[]  (recursive, element types stay strict)
    if ts.startswith("array<") and ts.endswith(">"):
        return _norm_spark_type(ts[6:-1]) + "[]"
    return _SPARK_T.get(ts, ts)


def _norm_duck_type(ts: str) -> str:
    # VARCHAR[] -> str[]  (recursive, element types stay strict)
    if ts.endswith("[]"):
        return _norm_duck_type(ts[:-2]) + "[]"
    if ts.startswith("DECIMAL"):
        ts = "DECIMAL"
    return _DUCK_T.get(ts, ts)


def spark_schema_norm(df) -> dict[str, str]:
    return {f.name: _norm_spark_type(f.dataType.simpleString()) for f in df.schema.fields}


def duck_schema_norm(cols: list[str], types: list) -> dict[str, str]:
    return {c: _norm_duck_type(str(t)) for c, t in zip(cols, types)}


def listing_jobs(spark) -> int:
    """Parallel file-listing jobs launched so far in the session's JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
    return metrics.METRIC_PARALLEL_LISTING_JOB_COUNT().getCount()


def main() -> int:
    # flags may appear anywhere; a flag missing its value is an error,
    # not an IndexError (ADVICE r6)
    argv = sys.argv[1:]
    json_out = None
    skip: set[str] = set()
    positional: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] in ("--json", "--skip"):
            if i + 1 >= len(argv):
                print(f"error: {argv[i]} requires a value", file=sys.stderr)
                return 2
            if argv[i] == "--json":
                json_out = argv[i + 1]
            else:
                skip.add(argv[i + 1])
            i += 2
        else:
            positional.append(argv[i])
            i += 1
    sf_dir = positional[0] if positional else "/root/testdata/sf0.01"
    only = set(positional[1:])
    results: dict[str, dict] = {}
    # Adversarial-parallelism differential: SPARK_GRAFT_SHUFFLE=<n>
    # reruns the whole surface under a different shuffle partitioning —
    # any float accumulation that leaks partitioning order into a
    # result (the q_cramers_v first-draft bug class) flips a hash here
    # even when the default-config run is green.
    import os as _os2

    shuf = _os2.environ.get("SPARK_GRAFT_SHUFFLE")
    spark = get_spark("check_oracle", shuffle_partitions=int(shuf) if shuf else None)
    con = duckdb.connect()
    for t in TABLES:
        # testdata ships single parquet FILES; self-generated datasets
        # (tools/make_scale_data.py) are Spark-written DIRECTORIES of
        # part files — glob in that case so both layouts register.
        path = f"{sf_dir}/{t}.parquet"
        import os as _os

        if _os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = n_listed = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        if name in skip:
            print(f"SKIP  {name} (--skip)")
            continue
        t0 = time.time()
        listed0 = listing_jobs(spark)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            listed = listing_jobs(spark) - listed0
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {e}"[:500],
                "listing_jobs": listed, "spark_s": round(time.time() - t0, 3),
            }
            n_fail += 1
            n_listed += listed
            continue
        dt = time.time() - t0
        listed = listing_jobs(spark) - listed0
        n_listed += listed
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{dt:.1f}s]")
            results[name] = {
                "rows_match": True, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None, "no_oracle": True,
                "listing_jobs": listed, "spark_s": round(dt, 3),
            }
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = list(rel.types)
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None, "err": f"duckdb error: {e}"[:500],
                "listing_jobs": listed, "spark_s": round(dt, 3),
            }
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            sty, dty = spark_schema_norm(sdf), duck_schema_norm(dcols, dtypes)
            mismatch = {c: (sty[c], dty[c]) for c in sty if sty[c] != dty.get(c)}
            if mismatch:
                problems.append(f"dtypes {mismatch}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            hs, hd = table_hash(scols, srows), table_hash(dcols, drows)
            if hs != hd:
                problems.append(f"hash spark={hs} duck={hd}")
        schema_ok = not any(p.startswith(("cols ", "dtypes ")) for p in problems)
        rows_ok = len(srows) == len(drows)
        hash_ok = not problems
        results[name] = {
            "rows_match": rows_ok, "schema_match": schema_ok,
            "hash_match": hash_ok, "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": "; ".join(problems) if problems else None,
            "listing_jobs": listed, "spark_s": round(dt, 3),
        }
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems) + f" [{dt:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{dt:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only, "
          f"{n_listed} parallel listing jobs")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=2, sort_keys=True)
        print(f"wrote {json_out} ({len(results)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Local stand-in for the driver's correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

# the checkout this script lives in, so a second clone checks its own engine
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return f"{float(v):.6f}"
    except ImportError:
        pass
    return repr(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    import __spark_entry__ as e
    from anomaly_detection_spark.session import get_spark

    only = set(sys.argv[1:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(ex).splitlines()[0][:200]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only check)")
            if len(srows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(ex).splitlines()[0][:200]}")
            continue
        problems = []
        # The driver's value hash is TYPE-sensitive (unlike repr-based
        # canon below): DuckDB HUGEINT (int sum(CASE...)/list_sum) and
        # DECIMAL (literal arithmetic) arrive as arrow decimal128 and
        # hash differently from Spark's bigint/double even when values
        # are identical. Lint the arrow schema so this fails locally.
        try:
            import pyarrow.types as pat
            # LIMIT 0 wrapper: schema only, no second full execution of
            # expensive oracles (recursive CTEs, quadratic buffers)
            atbl = con.execute(
                f"SELECT * FROM ({oracles[name]}) AS _q LIMIT 0").arrow()
            bad = [f"{f.name}:{f.type}" for f in atbl.schema
                   if pat.is_decimal(f.type)]
            if bad:
                problems.append(
                    f"oracle emits decimal/HUGEINT (driver hash-unsafe): {bad}"
                    " — CAST to BIGINT/DOUBLE in the SQL")
        except Exception:
            pass
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            a = canon([tuple(r) for r in srows], scols)
            b = canon(orows, ocols)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"OK    {name}: {len(srows)} rows")
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

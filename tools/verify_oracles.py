"""Local replica of the driver's t2 correctness gate: run every
registry query on Spark AND its DuckDB oracle at the given SF, compare
row count / column names / order-insensitive values.

Usage: python tools/verify_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 and represent with enough digits
        if v == 0.0:
            v = 0.0
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except ImportError:
        pass
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(_norm_cell(row[i]) for i in order))
    out.sort()
    return out


def compare_bounded(spark, con, name, fn, sql, sf_dir, rel_tol):
    """Approximate-tier comparator: schema and row count must match
    exactly; numeric cells must agree within rel_tol (sketch error
    bound); non-numeric cells exactly."""
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    ddf = con.execute(sql)
    dcols = [d[0] for d in ddf.description]
    drows = ddf.fetchall()
    problems = []
    if sorted(scols) != sorted(dcols):
        return [f"schema: spark={sorted(scols)} duck={sorted(dcols)}"]
    if len(srows) != len(drows):
        return [f"rows: spark={len(srows)} duck={len(drows)}"]
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    srt = sorted(tuple(r[i] for i in sorder) for r in srows)
    drt = sorted(tuple(r[i] for i in dorder) for r in drows)
    names_sorted = sorted(scols)
    for srow, drow in zip(srt, drt):
        for col, sv, dv in zip(names_sorted, srow, drow):
            if isinstance(sv, (int, float)) and isinstance(dv, (int, float)):
                denom = max(abs(float(sv)), abs(float(dv)), 1e-12)
                if abs(float(sv) - float(dv)) / denom > rel_tol:
                    problems.append(
                        f"bound: {col} spark={sv} exact={dv} rel_err>"
                        f"{rel_tol}"
                    )
            elif _norm_cell(sv) != _norm_cell(dv):
                problems.append(f"cell: {col} spark={sv!r} exact={dv!r}")
    return problems


def compare(spark, con, name, fn, sql, sf_dir, verbose=False):
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    ddf = con.execute(sql)
    dcols = [d[0] for d in ddf.description]
    drows = ddf.fetchall()
    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"schema: spark={sorted(scols)} duck={sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rows: spark={len(srows)} duck={len(drows)}")
    if not problems:
        sn = _normalize(srows, scols)
        dn = _normalize(drows, dcols)
        if sn != dn:
            diffs = [(a, b) for a, b in zip(sn, dn) if a != b]
            problems.append(f"values: {len(diffs)} differing rows; first: spark={diffs[0][0]} duck={diffs[0][1]}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    from real_time_iot_data_pipeline_project_spark import registry
    from real_time_iot_data_pipeline_project_spark.session import get_spark

    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    names = only or sorted(registry.QUERIES)
    n_pass = n_fail = n_skip = 0
    for name in names:
        fn = registry.QUERIES[name]
        sql = registry.ORACLES.get(name)
        approx = getattr(registry, "APPROX_ORACLES", {}).get(name)
        if sql is None and approx is None:
            rows = fn(spark, sf_dir).count()
            print(f"  {name}: NO-ORACLE rows={rows}")
            n_skip += 1
            continue
        try:
            if sql is not None:
                problems = compare(spark, con, name, fn, sql, sf_dir)
            else:
                exact_sql, rel_tol = approx
                problems = compare_bounded(
                    spark, con, name, fn, exact_sql, sf_dir, rel_tol
                )
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {str(e)[:300]}"]
        if problems:
            n_fail += 1
            print(f"✗ {name}")
            for p in problems:
                print(f"    {p}")
        else:
            n_pass += 1
            print(f"✓ {name}")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} no-oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

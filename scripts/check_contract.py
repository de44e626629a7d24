"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark and its oracle on DuckDB at the same sf,
compare row count + column names + order-insensitive values.

Usage: python3 scripts/check_contract.py [sf_dir] [query ...]
"""
from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

TABLES = ('region nation customer supplier part orders lineitem events '
          'documents embeddings').split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return 'nan'
        return round(v, 9)
    if isinstance(v, (int,)):
        return int(v)
    if hasattr(v, 'isoformat'):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    try:  # decimals
        import decimal
        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:  # noqa: BLE001
        pass
    return v


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    named = sorted(cols)
    data = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return named, data


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from pyxml_spark.jobs.extract import build_session

    spark = build_session(8, app='contract-check')

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f'{t}.parquet')
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f'FAIL {name}: spark error: {exc}')
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f'FAIL {name}: no oracle')
            failures += 1
            continue
        try:
            rel = con.sql(sql)
            dcols = [c for c in rel.columns]
            drows = [tuple(r) for r in rel.fetchall()]
        except Exception as exc:  # noqa: BLE001
            print(f'FAIL {name}: duckdb error: {exc}')
            failures += 1
            continue
        sn, sd = normalize(scols, srows)
        dn, dd = normalize(dcols, drows)
        if sn != dn:
            print(f'FAIL {name}: columns {sn} != {dn}')
            failures += 1
        elif len(sd) != len(dd):
            print(f'FAIL {name}: rows {len(sd)} != {len(dd)}')
            failures += 1
        elif sd != dd:
            diff = [i for i, (a, b) in enumerate(zip(sd, dd)) if a != b][:3]
            print(f'FAIL {name}: values differ at rows {diff}')
            for i in diff[:2]:
                print(f'   spark: {sd[i]}')
                print(f'   duck : {dd[i]}')
            failures += 1
        else:
            print(f'OK   {name}: {len(sd)} rows')
    # smoke entry()
    if not only:
        n = entry.entry(spark).count()
        print(f'entry(): {n} rows')
    spark.stop()
    return 1 if failures else 0


if __name__ == '__main__':
    raise SystemExit(main())

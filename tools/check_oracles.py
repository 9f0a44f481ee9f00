"""Driver-simulating harness: run every queries() entry on Spark and its
oracle_sql() on DuckDB over the same parquet, compare row count, sorted
column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [name ...]

Prints "N failures / M queries" over the M queries it ran; exits 1 on any
failure and 2, before starting Spark, on a name that is not in queries().
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb


def normalize(df):
    """Driver-faithful compare: go through pandas (so DuckDB HUGEINT →
    float64 and similar dtype drift is VISIBLE, exactly as the driver sees
    it), sort columns by name, stringify raw values — no float re-formatting
    that would mask a '9909.0' vs '9909' mismatch."""
    df = df[sorted(df.columns)]

    def norm_val(v):
        if v is None or v != v:  # None / NaN / NaT
            return "NULL"
        return str(v)

    rows = sorted(
        tuple(norm_val(v) for v in r) for r in df.itertuples(index=False, name=None)
    )
    return list(df.columns), [str(t) for t in df.dtypes.tolist()], rows


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as E
    from oplog_analyzer_spark.session import get_spark

    qs, oracles = E.queries(), E.oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}")
        return 2
    ran = [name for name in qs if not only or name in only]

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name in ran:
        fn = qs[name]
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append((name, f"spark error: {ex}"))
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append((name, f"duckdb error: {ex}"))
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            continue
        sc, sdt, sv = normalize(sdf)
        oc, odt, ov = normalize(odf)
        if sc != oc:
            failures.append((name, f"schema mismatch {sc} vs {oc}"))
            print(f"FAIL  {name}: schema {sc} vs {oc}")
        elif len(sv) != len(ov):
            failures.append((name, f"rowcount {len(sv)} vs {len(ov)}"))
            print(f"FAIL  {name}: rowcount {len(sv)} vs {len(ov)}")
        elif sv != ov:
            diff = next((a, b) for a, b in zip(sv, ov) if a != b)
            failures.append((name, f"value mismatch e.g. {diff}"))
            print(f"FAIL  {name}: first differing row {diff}")
            if sdt != odt:
                print(f"      dtype drift: spark {sdt} vs oracle {odt}")
        else:
            tag = "" if sdt == odt else f"  [dtype drift: {sdt} vs {odt}]"
            print(f"OK    {name}: {len(sv)} rows{tag}")
    print(f"\n{len(failures)} failures / {len(ran)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

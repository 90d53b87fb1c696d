"""Local replica of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry and its ``oracle_sql()``
twin side-by-side (Spark vs DuckDB) on the same parquet tables, compares
row counts, schemas (column names sorted) and values (rows sorted across
name-sorted columns). Usage::

    python3 scripts/check_oracles.py [sf_dir] [query ...]

Defaults: sf_dir=/root/testdata/sf0.01, all oracle-backed queries.
The Spark master is ``$PROPAGON_SPARK_MASTER`` or ``local[8]``; a multi-JVM run
(``PROPAGON_SPARK_MASTER='local-cluster[2,2,2048]'``) also checks that no
plan reads checkpoint blocks an iterative loop has released.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = sys.argv[2:] or [k for k in qs if k in oracles]

    from propagon_spark.session import get_spark

    master = os.environ.get("PROPAGON_SPARK_MASTER", "local[8]")
    spark = get_spark(app_name="check-oracles", master=master,
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    failures = 0
    for name in names:
        if name not in oracles:
            print(f"{name}: SKIP (no oracle)")
            continue
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures += 1
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            continue
        ok_rows = len(sdf) == len(odf)
        ok_schema = sorted(sdf.columns) == sorted(odf.columns)
        ok_vals = False
        if ok_rows and ok_schema:
            a, b = _norm(sdf), _norm(odf.astype(sdf.dtypes.to_dict()))
            ok_vals = a.equals(b)
            if not ok_vals:
                diff = (a != b) & ~(a.isna() & b.isna())
                bad = diff.any(axis=1)
                print(f"--- {name} first diffs:")
                print(pd.concat([a[bad].head(3), b[bad].head(3)], axis=1))
        status = "OK" if (ok_rows and ok_schema and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name}: {status} rows={len(sdf)}/{len(odf)} "
            f"schema={ok_schema} values={ok_vals}"
        )

    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

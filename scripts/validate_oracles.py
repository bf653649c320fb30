"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()``
under DuckDB on the same parquet tables, then compares row count, column
names and (column-name-sorted, row-sorted) values — mirroring the
CORRECTNESS_r{N}.json comparison. Each query runs in its own job group,
and its line prints the Spark jobs that group ran beside its wall
(``spark=…s jobs=N``); the last line sums them over the queries run
(``TOTAL jobs=N``). Usage:

    python scripts/validate_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

# import the package of the checkout this script lives in, on the driver
# and (through spark.executorEnv.PYTHONPATH) in the Python workers
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from pasgal_spark.session import get_spark  # noqa: E402
from pasgal_spark.graph.builder import TPCH_TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def values_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for col in a.columns:
        av, bv = a[col], b[col]
        try:
            if not (av.astype("float64").fillna(-9e18) == bv.astype("float64").fillna(-9e18)).all():
                return False
        except (ValueError, TypeError):
            if not (av.astype(str) == bv.astype(str)).all():
                return False
    return True


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # local[8] keeps the sf0.01 default cheap; the scale tiers override
    # (e.g. SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=64g at sf10)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark(
        master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.executorEnv.PYTHONPATH": ROOT},
    )
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listeners = sc._jsc.sc().listenerBus()  # job ids register asynchronously
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    total_jobs = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        group = f"validate-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            failures.append(name)
            continue
        finally:
            sc._jsc.clearJobGroup()
        t_spark = time.time() - t0
        listeners.waitUntilEmpty()
        jobs = len(tracker.getJobIdsForGroup(group))
        total_jobs += jobs
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(sdf)} spark={t_spark:.1f}s jobs={jobs}")
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            failures.append(name)
            continue
        t_duck = time.time() - t0
        a, b = normalize(sdf), normalize(odf)
        schema_ok = list(a.columns) == list(b.columns)
        rows_ok = len(a) == len(b)
        vals_ok = schema_ok and rows_ok and values_equal(a, b)
        status = "OK  " if vals_ok else "FAIL"
        print(
            f"{status} {name}: rows {len(a)}/{len(b)} cols {list(a.columns)}"
            f" spark={t_spark:.1f}s jobs={jobs} duck={t_duck:.1f}s"
        )
        if not vals_ok:
            failures.append(name)
            if schema_ok and rows_ok:
                for col in a.columns:
                    try:
                        neq = (a[col].astype(str) != b[col].astype(str))
                    except Exception:  # noqa: BLE001
                        continue
                    if neq.any():
                        i = neq.idxmax()
                        print(f"   first diff col={col} row={i}: spark={a[col][i]} oracle={b[col][i]}")
            else:
                print(f"   spark head:\n{a.head(3)}\n   oracle head:\n{b.head(3)}")
    print("FAILURES:", failures or "none")
    print(f"TOTAL jobs={total_jobs}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

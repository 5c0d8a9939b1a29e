"""Simulate the driver's verify pass against __spark_entry__.py.

Imports the contract module the way the driver does, runs entry() as a
smoke check, then runs every queries() entry at sf0.01 and compares to
oracle_sql() via DuckDB (row count + columns + order-insensitive
values). Exit 0 iff everything matches.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as contract  # noqa: E402
from pg_lakehouse_spark.tables import TABLE_NAMES  # noqa: E402
from tests.oracle_utils import normalize  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def driver_canon(df, name: str) -> None:
    """Replicate the real driver's pandas canonicalization (r9).

    The driver sorts the result frame across ALL columns with pandas
    ``sort_values`` before hashing; ndarray/list/dict cells make that
    throw (``TypeError: unhashable type``) — exactly how
    q_ordered_aggregates went driver-red in r8 while this sim's
    repr-based normalize stayed green. Fail loudly here on any
    non-scalar cell, then run the actual sort so sim-green ⇒
    driver-green.
    """
    import numpy as np

    for col in df.columns:
        for v in df[col].head(50):
            if isinstance(v, (list, tuple, dict, set, np.ndarray)):
                raise TypeError(
                    f"{name}: column {col!r} holds non-scalar cells "
                    f"({type(v).__name__}) — the real driver's "
                    "sort_values canonicalizer rejects these; project "
                    "through array_to_string/to_json"
                )
    if len(df):
        df.sort_values(by=list(df.columns), kind="mergesort")


def main() -> int:
    # deliberately a VANILLA session — no engine conf — because the
    # real driver passes its own SparkSession; every query must work
    # without our session factory.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    # --- smoke: entry() ---
    res = contract.entry(spark)
    rows = res.collect()
    print(f"entry(): {len(rows)} rows, schema={[f.name for f in res.schema.fields]}")
    assert len(rows) > 0

    qs = contract.queries()
    oracles = contract.oracle_sql()
    extra = set(oracles) - set(qs)
    assert not extra, f"oracle_sql keys missing from queries(): {extra}"
    print(f"queries: {len(qs)} total, {len(oracles)} oracle-backed")

    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    failed = []
    for name, fn in sorted(qs.items()):
        try:
            sdf = fn(spark, SF_DIR).toPandas()
            driver_canon(sdf, name)
            if name in oracles:
                ddf = con.execute(oracles[name]).df()
                driver_canon(ddf, name + " (oracle)")
                ok = (
                    sorted(sdf.columns) == sorted(ddf.columns)
                    and len(sdf) == len(ddf)
                    and normalize(sdf) == normalize(ddf)
                )
                status = "MATCH" if ok else "MISMATCH"
                if not ok:
                    failed.append(name)
            else:
                status = f"rows-only ({len(sdf)} rows)"
            print(f"  {name}: {status}")
        except Exception:
            failed.append(name)
            print(f"  {name}: ERROR")
            traceback.print_exc()

    print(f"\n{len(qs) - len(failed)}/{len(qs)} ok; failed: {failed}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

"""Workload ``sql_analytics``: read-only analytics over lake tables.

Three query shapes from the engine's registry (a CUBE aggregate over
lineitem, TPC-H q13's outer join with a two-level aggregate, and q18's
semi-join with HAVING), each issued two ways, twice per round:

- ``df:<shape>``: the registry's DataFrame function over the parquet
  inputs (exercises ``workload``, ``operators``, ``functions``,
  ``tables``);
- ``sql:<shape>``: the registry's oracle SQL sent to ``LakeSQL.sql`` over
  lake tables CTASed from the same inputs, every table resolved through
  the catalog as ``tpch.<name>``.

plus five steps of the LLM dedup pipeline (``llm_dedup``) over the
``documents`` corpus, once per round. A round's seventeen operations run
in seeded order. Every answer is checked against DuckDB running the
registry's oracle SQL over the same parquet files. Nothing commits during
the loop.
"""

from __future__ import annotations

import random
import re

import duckdb
from harness import Op, dir_bytes, duck_digest, rows_digest
from llm_dedup import Pipeline, expected_answers

SF = 0.01
NAMESPACE = "tpch"
# Shapes whose answers are exact in both engines. q1 and q3 round float
# sums to cents: when a sum lands on a half cent, the last digit depends on
# summation order and Spark and DuckDB can differ (seed 204 does this for
# q3), so their checks fail on some seeds without a wrong engine answer.
SHAPES = [
    "q_cube",
    "q13_customer_distribution",
    "q18_large_volume_orders",
]
LAKE_TABLES = ["customer", "orders", "lineitem", "documents"]
REPS = 1

# The registry's oracle SQL is DuckDB's dialect; LakeSQL speaks
# PostgreSQL's. The DuckDB-only strftime of q18 has an exact PG spelling.
_STRFTIME = re.compile(r"strftime\(([^,()]+),\s*'%Y-%m-%d'\)")
_TABLE_REF = re.compile(r"(?<![.\w])(" + "|".join(LAKE_TABLES) + r")\b")


def lake_sql(oracle: str) -> str:
    """The oracle statement in PG spelling, over the catalog's tables."""
    oracle = _STRFTIME.sub(r"to_char(\1, 'YYYY-MM-DD')", oracle)
    return _TABLE_REF.sub(NAMESPACE + r".\1", oracle)


def duck_views(data_dir: str):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name in LAKE_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )
    return con


def run(b) -> dict:
    from pg_lakehouse_spark.sql import LakeSQL
    from pg_lakehouse_spark.tables import load_tables
    from pg_lakehouse_spark.workload import REGISTRY, _load_all

    _load_all()
    inputs = b.generate(SF, LAKE_TABLES)
    spark = b.start_session(inputs[0])
    tr = b.tracer

    def prepare(rep: int) -> dict:
        """Load one copy of the inputs, CTAS it into a fresh warehouse
        and compute every expected answer in DuckDB."""
        data = inputs[rep % 2]
        with tr.span("tables.load"):
            frames = load_tables(spark, data, register=False)
        cat = b.catalog(b.path("warehouse", f"rep{rep}"))
        for name in LAKE_TABLES:
            cat.create_table_as(NAMESPACE, name, frames[name])
        con = duck_views(data)
        expected = {s: duck_digest(con, REGISTRY[s].oracle) for s in SHAPES}
        pipeline = Pipeline(
            b, cat.load_table(NAMESPACE, "documents").read(), expected_answers(con)
        )
        con.close()
        return {"data": data, "catalog": cat, "expected": expected, "pipeline": pipeline}

    st = b.repeat_setup(prepare, REPS)[-1]
    data, expected = st["data"], st["expected"]
    lsql = LakeSQL(spark, st["catalog"])

    def df_op(shape: str) -> Op:
        fn = REGISTRY[shape].fn

        def call():
            with tr.span("workload.build"):
                df = fn(spark, data)
            with tr.span("spark.exec"):
                return df.columns, df.collect()

        return Op("df:" + shape, call, checker(shape))

    def sql_op(shape: str) -> Op:
        stmt = lake_sql(REGISTRY[shape].oracle)

        def call():
            with tr.span("sql.plan"):
                df = lsql.sql(stmt)
            with tr.span("spark.exec"):
                return df.columns, df.collect()

        return Op("sql:" + shape, call, checker(shape))

    def checker(shape: str):
        def check(out):
            cols, rows = out
            if rows_digest(cols, rows) != expected[shape]:
                raise ValueError(f"{shape}: rows differ from DuckDB ({len(rows)} rows)")
        return check

    queries = [df_op(s) for s in SHAPES] + [sql_op(s) for s in SHAPES]
    steps = st["pipeline"].ops()
    b.warm_up(queries + steps)
    # the queries run twice per round: cheap extra samples, so that the
    # tail (the percentile with 10 samples above it) sits near the median
    # rather than among the fastest operations
    ops = queries * 2 + steps
    rng = random.Random(b.seed)

    def rounds():
        while True:
            yield rng.sample(ops, len(ops))

    b.loop(rounds())
    if b.trace:
        b.layer.update(st["pipeline"].trace_counts())
    live = sum(
        st["catalog"].load_table(NAMESPACE, n).snapshot().total_bytes for n in LAKE_TABLES
    )
    space_amp = dir_bytes(b.path("warehouse", f"rep{REPS - 1}")) / live
    n = b.rows
    return b.result(
        space_amp,
        f"sf={SF}: lineitem {n['lineitem']} rows, orders {n['orders']}, "
        f"documents {n['documents']}; {len(ops)} operations per round",
    )

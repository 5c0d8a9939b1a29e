"""Workload ``lake_ingest``: a stream of small commits on lake tables.

Tables (namespace ``ingest``), CTASed from the generated inputs:
``orders_cow`` (copy-on-write), ``orders_mor`` (merge-on-read, row key
``o_orderkey``), ``lineitem``, ``events`` and the rollup ``events_hourly``
(hourly count/sum/min/max per event type over ``events``).

One round, in a fixed order (see ``ORDER_SEED``): nine appends (six
lineitem and three events micro-batches), a rollup refresh after every
third events append, four key DML statements (DELETE and UPDATE, through
``LakeTable`` and through ``LakeSQL``, on both the copy-on-write and the
merge-on-read table), one MERGE upsert, three read-after-write probes (a
``read_pruned`` range, a ``LakeSQL`` aggregate, a full
``LakeTable.read()``) and, closing the round,
``maintenance.run_maintenance``. History and file count grow with every
commit. Space amplification is read just before each sweep, when
the round's replaced files are still on disk.

Every operation is replayed into DuckDB outside the timed region. Each
probe and each refreshed rollup is compared with DuckDB when it runs; the
final tables are compared at the end.
"""

from __future__ import annotations

import os
import random
import sys
import time

import datagen
import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from harness import Op, dir_bytes, mean, median, rows_digest

SF = 0.01
NS = "ingest"
REPS = 2
LINE_BATCH_ORDERS = 60  # ~240 lineitem rows per append
EVENT_BATCH = 300
MERGE_ROWS = 80  # half updates of existing keys, half new keys
MAINT = {"compaction_file_threshold": 6, "keep_snapshots": 3}
# The order of operation kinds in a round is fixed (shuffled once with
# this constant); --seed drives the data: batches, keys and ranges. An
# operation's cost depends on the commits before it (a merge-on-read scan
# reads every delete file written so far), so a per-seed order made the
# run-to-run spread of every latency metric several times wider.
ORDER_SEED = 0

ROLLUP_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
       count(*) AS n_events, CAST(sum(value_e2) AS BIGINT) AS value_sum_e2,
       min(value) AS value_min, max(value) AS value_max
FROM events GROUP BY 1, 2
"""
AGG_SQL = (
    "SELECT o_orderstatus, count(*) AS n, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_e2 "
    "FROM {t} GROUP BY o_orderstatus"
)


class Lake:
    """One copy of the lake tables plus the DuckDB mirror that replays
    every operation applied to them."""

    def __init__(self, b, rep: int, data: str):
        from pyspark.sql import functions as F

        from pg_lakehouse_spark.rollup import create_rollup
        from pg_lakehouse_spark.tables import load_tables

        self.b = b
        self.spark = b.spark
        self.dir = data
        self.batch_dir = b.path("data", f"rep{rep}-batches")
        os.makedirs(self.batch_dir)
        with b.tracer.span("tables.load"):
            frames = load_tables(self.spark, self.dir, register=False)
        self.warehouse = b.path("warehouse", f"rep{rep}")
        self.cat = b.catalog(self.warehouse)
        events = frames["events"].select(
            "event_id", "ts", "event_type", "value",
            F.round(F.col("value") * 100).cast("long").alias("value_e2"),
        )
        self.cat.create_table_as(NS, "orders_cow", frames["orders"])
        self.cat.create_table_as(
            NS, "orders_mor", frames["orders"],
            properties={"write_delete_mode": "merge-on-read", "row_key": "o_orderkey"},
        )
        self.cat.create_table_as(NS, "lineitem", frames["lineitem"])
        src = self.cat.create_table_as(NS, "events", events)
        create_rollup(
            self.cat, NS, "events_hourly", src, time_col="ts", bucket="1 hour",
            group_by=["event_type"],
            metrics={
                "n_events": ("count", "*"),
                "value_sum_e2": ("sum", "value_e2"),
                "value_min": ("min", "value"),
                "value_max": ("max", "value"),
            },
        )
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        for name, src_name in (("orders_cow", "orders"), ("orders_mor", "orders"),
                               ("lineitem", "lineitem")):
            self.duck.execute(
                f"CREATE TABLE {name} AS SELECT * FROM "
                f"read_parquet('{self.dir}/{src_name}.parquet')"
            )
        self.duck.execute(
            "CREATE TABLE events AS SELECT event_id, ts, event_type, value, "
            "CAST(round(value * 100) AS BIGINT) AS value_e2 FROM "
            f"read_parquet('{self.dir}/events.parquet')"
        )
        n = datagen.sizes(SF)
        self.n_orders, self.n_parts, self.n_supp = n["orders"], n["part"], n["supplier"]
        self.next_order = n["orders"]
        last = self.duck.execute("SELECT max(event_id), epoch_us(max(ts)) FROM events")
        self.next_event, self.last_ts = (int(v) for v in last.fetchone())
        self.next_event += 1
        self.batches = 0
        self.events_appended = 0
        self.user_bytes = 0
        self.amps: list[float] = []  # space amplification before each sweep
        # traced-run bookkeeping
        self.written_bytes = 0
        self.pruned: list[float] = []
        self.maint: list[dict] = []
        self.files: dict[str, dict[str, int]] = {}
        if b.trace:
            self.files = {n: self.table_files(n) for _ns, n in self.cat.list_tables(NS)}

    # --- inputs -------------------------------------------------------

    def _write(self, tbl: pa.Table) -> str:
        path = os.path.join(self.batch_dir, f"b{self.batches:05d}.parquet")
        self.batches += 1
        pq.write_table(tbl, path)
        self.user_bytes += os.path.getsize(path)
        return path

    def line_batch(self, rng: np.random.Generator) -> str:
        keys = np.arange(self.next_order, self.next_order + LINE_BATCH_ORDERS)
        self.next_order += LINE_BATCH_ORDERS
        dates = datagen.EPOCH_1992 + rng.integers(0, 2405, len(keys)) * datagen.DAY_US
        return self._write(
            datagen.lineitem_rows(rng, keys, dates, self.n_parts, self.n_supp)
        )

    def event_batch(self, rng: np.random.Generator) -> str:
        tbl = datagen.events_rows(rng, self.next_event, EVENT_BATCH, self.last_ts, 50)
        self.next_event += EVENT_BATCH
        self.last_ts = int(pc.max(tbl["ts"]).cast(pa.int64()).as_py())
        cents = np.round(tbl["value"].to_numpy() * 100).astype(np.int64)
        return self._write(
            tbl.select(["event_id", "ts", "event_type", "value"]).append_column(
                "value_e2", pa.array(cents)
            )
        )

    def merge_batch(self, rng: np.random.Generator) -> str:
        half = MERGE_ROWS // 2
        old = rng.choice(self.n_orders, half, replace=False)
        new = np.arange(self.next_order, self.next_order + half)
        self.next_order += half
        keys = np.concatenate([old, new]).astype(np.int64)
        m = len(keys)
        return self._write(pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, 100, m).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, m)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, m), 2),
            "o_orderdate": pa.array(
                datagen.EPOCH_1992 + rng.integers(0, 2405, m) * datagen.DAY_US,
                datagen.TS,
            ),
            "o_orderpriority": np.array(datagen.PRIORITIES)[rng.integers(0, 5, m)],
        }))

    # --- checks -------------------------------------------------------

    def expect(self, cols, rows, sql: str, what: str) -> None:
        cur = self.duck.execute(sql)
        want = rows_digest([d[0] for d in cur.description], cur.fetchall())
        if rows_digest(cols, rows) != want:
            raise ValueError(f"{what}: {len(rows)} rows differ from the DuckDB replay")

    def expect_table(self, name: str) -> None:
        """Whole-table check: the multiset difference between the lake
        table and its DuckDB replay, both ways, must be empty."""
        self.duck.register("lake_rows", self.cat.load_table(NS, name).read().toArrow())
        try:
            diff = self.duck.execute(
                f"SELECT (SELECT count(*) FROM (FROM lake_rows EXCEPT ALL FROM {name})) "
                f"+ (SELECT count(*) FROM (FROM {name} EXCEPT ALL FROM lake_rows))"
            ).fetchone()[0]
        finally:
            self.duck.unregister("lake_rows")
        if diff:
            raise ValueError(f"final {name}: {diff} rows differ from the DuckDB replay")

    def table_files(self, name: str) -> dict[str, int]:
        snap = self.cat.load_table(NS, name).snapshot()
        return {f["path"]: f["bytes"] for f in snap.files}

    def note_write(self, name: str) -> None:
        """Traced run: bytes of data files the last commit added."""
        now = self.table_files(name)
        before = self.files.get(name, {})
        self.written_bytes += sum(v for p, v in now.items() if p not in before)
        self.files[name] = now

    def space_amp(self) -> float:
        live = sum(
            self.cat.load_table(ns, n).snapshot().total_bytes
            for ns, n in self.cat.list_tables(NS)
        )
        return dir_bytes(self.warehouse) / live


def build_round(lake: Lake, rng: random.Random, nrng: np.random.Generator) -> list[Op]:
    """One round of operations, in the order ``rng`` gives, bound to
    ``lake``; ``nrng`` draws the data (batches, keys, ranges)."""
    from pyspark.sql import functions as F

    from pg_lakehouse_spark.maintenance import run_maintenance
    from pg_lakehouse_spark.rollup import read_rollup, refresh_rollup
    from pg_lakehouse_spark.sql import LakeSQL
    from pg_lakehouse_spark.timeutil import epoch_us, normalize_ts

    b, spark, cat, duck, tr = lake.b, lake.spark, lake.cat, lake.duck, lake.b.tracer
    lsql = LakeSQL(spark, cat)
    traced = b.trace

    def load(name):
        return cat.load_table(NS, name)

    def commit_check(name, replay):
        def check(_out):
            duck.execute(replay)
            if traced:
                lake.note_write(name)
        return check

    def append_op(name: str, path: str) -> Op:
        def run():
            df = spark.read.parquet(path)
            if name == "events":
                df = normalize_ts(df, ("ts",))
            tbl = load(name)
            with tr.span("lakehouse.append"):
                return tbl.append(df)
        return Op(f"append_{name}", run, commit_check(
            name, f"INSERT INTO {name} SELECT * FROM read_parquet('{path}')"))

    def refresh_op() -> Op:
        def run():
            src, roll = load("events"), load("events_hourly")
            with tr.span("rollup.refresh"):
                return refresh_rollup(src, roll)

        def check(_out):
            df = read_rollup(load("events_hourly")).select(
                epoch_us(F.col("bucket_start")).alias("bucket_us"), "event_type",
                "n_events", "value_sum_e2", "value_min", "value_max",
            )
            lake.expect(df.columns, df.collect(), ROLLUP_SQL, "rollup")
            if traced:
                lake.note_write("events_hourly")
        return Op("refresh_rollup", run, check)

    def dml_ops() -> list[Op]:
        keys = sorted(nrng.choice(lake.n_orders, 12, replace=False).tolist())
        in_list = ", ".join(map(str, keys))
        lo = int(nrng.integers(0, lake.n_orders - 40))
        hi = lo + 30

        def table_delete():
            tbl = load("orders_cow")
            with tr.span("lakehouse.delete"):
                return tbl.delete(F.col("o_orderkey").isin(keys))

        def table_update():
            tbl = load("orders_mor")
            with tr.span("lakehouse.update"):
                return tbl.update(
                    F.col("o_orderkey").between(lo, hi),
                    {"o_totalprice": F.col("o_totalprice") + 1.5},
                )

        def sql_delete():
            with tr.span("sql.dml"):
                return lsql.sql(f"DELETE FROM {NS}.orders_mor WHERE o_orderkey IN ({in_list})")

        def sql_update():
            with tr.span("sql.dml"):
                return lsql.sql(
                    f"UPDATE {NS}.orders_cow SET o_totalprice = o_totalprice + 2.5 "
                    f"WHERE o_orderkey BETWEEN {lo} AND {hi}"
                )

        return [
            Op("delete_cow_table", table_delete, commit_check(
                "orders_cow", f"DELETE FROM orders_cow WHERE o_orderkey IN ({in_list})")),
            Op("update_mor_table", table_update, commit_check(
                "orders_mor", "UPDATE orders_mor SET o_totalprice = o_totalprice + 1.5 "
                f"WHERE o_orderkey BETWEEN {lo} AND {hi}")),
            Op("delete_mor_sql", sql_delete, commit_check(
                "orders_mor", f"DELETE FROM orders_mor WHERE o_orderkey IN ({in_list})")),
            Op("update_cow_sql", sql_update, commit_check(
                "orders_cow", "UPDATE orders_cow SET o_totalprice = o_totalprice + 2.5 "
                f"WHERE o_orderkey BETWEEN {lo} AND {hi}")),
        ]

    def merge_op() -> Op:
        path = lake.merge_batch(nrng)

        def run():
            src = spark.read.parquet(path)
            tbl = load("orders_cow")
            with tr.span("lakehouse.merge"):
                return tbl.merge(
                    src, on=["o_orderkey"],
                    when_matched_update={
                        "o_totalprice": F.col("__src.o_totalprice"),
                        "o_orderstatus": F.col("__src.o_orderstatus"),
                    },
                    when_not_matched_insert=True,
                )

        src_sql = f"read_parquet('{path}')"
        replay = (
            f"UPDATE orders_cow SET o_totalprice = s.o_totalprice, "
            f"o_orderstatus = s.o_orderstatus FROM {src_sql} s "
            f"WHERE orders_cow.o_orderkey = s.o_orderkey; "
            f"INSERT INTO orders_cow SELECT * FROM {src_sql} s WHERE s.o_orderkey "
            f"NOT IN (SELECT o_orderkey FROM orders_cow)"
        )
        return Op("merge_cow", run, commit_check("orders_cow", replay))

    def pruned_op(name: str) -> Op:
        width = LINE_BATCH_ORDERS * 2
        lo = int(nrng.integers(max(0, lake.next_order - 4 * width), lake.next_order))
        flt = {"l_orderkey": (lo, lo + width)}

        def run():
            tbl = load("lineitem")
            with tr.span("lakehouse.read_pruned"):
                df = tbl.read_pruned(flt)
            with tr.span("spark.exec"):
                return df.columns, df.collect()

        def check(out):
            lake.expect(*out, f"SELECT * FROM lineitem WHERE l_orderkey BETWEEN "
                        f"{lo} AND {lo + width}", name)
            if traced:
                sel, total = load("lineitem").pruned_file_count(flt)
                lake.pruned.append(1.0 - sel / total)
        return Op(name, run, check)

    def agg_op() -> Op:
        def run():
            with tr.span("sql.plan"):
                df = lsql.sql(AGG_SQL.format(t=f"{NS}.orders_mor"))
            with tr.span("spark.exec"):
                return df.columns, df.collect()
        return Op("probe_sql_agg", run,
                  lambda out: lake.expect(*out, AGG_SQL.format(t="orders_mor"), "agg"))

    def scan_op() -> Op:
        def run():
            tbl = load("orders_cow")
            with tr.span("lakehouse.scan_plan"):
                df = tbl.read()
            with tr.span("spark.exec"):
                return df.columns, df.collect()
        return Op("probe_full_read", run,
                  lambda out: lake.expect(*out, "SELECT * FROM orders_cow", "full read"))

    maint_state: dict = {}

    def maint_before():
        lake.amps.append(lake.space_amp())
        if traced:
            maint_state["files"] = {n: lake.table_files(n) for _ns, n in cat.list_tables(NS)}
            maint_state["disk"] = sum(len(fs) for _r, _d, fs in os.walk(lake.warehouse))

    def maint_run():
        with tr.span("maintenance.sweep"):
            return run_maintenance(cat, NS, **MAINT)

    def maint_check(_out):
        if not traced:
            return
        before = maint_state["files"]
        after = {n: lake.table_files(n) for n in before}
        lake.maint.append({
            "files_rewritten": sum(
                len(set(before[n]) - set(after[n])) for n in before),
            "bytes_rewritten": sum(
                v for n in before for p, v in after[n].items() if p not in before[n]),
            "files_removed": max(0, maint_state["disk"] - sum(
                len(fs) for _r, _d, fs in os.walk(lake.warehouse))),
        })
        for n in before:
            lake.note_write(n)

    ops = (
        [append_op("lineitem", lake.line_batch(nrng)) for _ in range(6)]
        + [append_op("events", lake.event_batch(nrng)) for _ in range(3)]
        + dml_ops() + [merge_op(), pruned_op("probe_pruned"), agg_op(), scan_op()]
    )
    rng.shuffle(ops)
    out = []
    for op in ops:
        out.append(op)
        if op.kind == "append_events":
            lake.events_appended += 1
            if lake.events_appended % 3 == 0:
                out.append(refresh_op())
    out.append(Op("maintenance", maint_run, maint_check, before=maint_before))
    return out


def run(b) -> dict:
    inputs = b.generate(SF, ["orders", "lineitem", "events"])
    b.start_session(inputs[0])
    warm, lake = b.repeat_setup(lambda rep: Lake(b, rep, inputs[rep % 2]), REPS)

    # each kind of operation once, on a spare copy of the tables:
    # first-execution costs land in set-up and the measured tables
    # start fresh
    first = {}
    for op in build_round(warm, random.Random(ORDER_SEED), np.random.default_rng(b.seed)):
        first.setdefault(op.kind, op)
    b.warm_up(list(first.values()))

    rng, nrng = random.Random(ORDER_SEED), np.random.default_rng(b.seed + 1)

    def rounds():
        while True:
            yield build_round(lake, rng, nrng)

    b.loop(rounds())
    lr = b.loop_result
    t0 = time.perf_counter()
    for name in ("orders_cow", "orders_mor", "lineitem"):
        try:
            lake.expect_table(name)
            lr.add_check(f"final:{name}", None)
        except ValueError as e:
            lr.add_check(f"final:{name}", str(e))
    print(f"final table checks {time.perf_counter() - t0:.2f} s", file=sys.stderr)

    if b.trace:
        tables = [lake.cat.load_table(ns, n) for ns, n in lake.cat.list_tables(NS)]
        meta = [os.path.join(t.meta_dir, f) for t in tables for f in os.listdir(t.meta_dir)]
        b.layer.update({
            "lakehouse.snapshots": sum(len(t.snapshots()) for t in tables),
            "lakehouse.data_files": sum(len(t.snapshot().files) for t in tables),
            "lakehouse.metadata_files": len(meta),
            "lakehouse.metadata_bytes": sum(os.path.getsize(p) for p in meta),
            "lakehouse.files_pruned_ratio": mean(lake.pruned),
            "lakehouse.write_amp": lake.written_bytes / max(1, lake.user_bytes),
            **{f"maintenance.{k}": mean([m[k] for m in lake.maint])
               for k in ("files_rewritten", "bytes_rewritten", "files_removed")},
        })
    n = b.rows
    return b.result(
        median(lake.amps),
        f"sf={SF}: orders {n['orders']} rows (x2 tables), lineitem {n['lineitem']}, "
        f"events {n['events']}; per round 9 appends, 1 refresh, 4 DML, 1 MERGE, "
        "3 probes, 1 maintenance sweep",
    )

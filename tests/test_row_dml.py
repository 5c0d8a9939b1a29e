"""Row-level DML across its three write modes — copy-on-write,
merge-on-read equality deletes and merge-on-read position deletes:
the change feed records exactly the rows the table stores, and a
merge-on-read commit that loses its race leaves no staged files."""

from __future__ import annotations

import os
import types

import pytest
from pyspark.sql import functions as F

from pg_lakehouse_spark.lakehouse import CommitConflict, LakeCatalog
from pg_lakehouse_spark.sql import LakeSQL

MODES = {
    "cow": {},
    "mor": {"write_delete_mode": "merge-on-read", "row_key": "k"},
    "mor-pos": {"write_delete_mode": "merge-on-read-positional"},
}


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "wh"))


@pytest.mark.parametrize("verb", ["update", "merge"])
@pytest.mark.parametrize("mode", list(MODES))
def test_feed_postimage_is_the_stored_row(catalog, spark, mode, verb):
    """A fractional value assigned to an int column is stored ROUNDED
    (the PG assignment cast); the change feed's postimage must show
    the stored value with the table's column types, not the raw
    double of the assignment expression."""
    tbl = catalog.create_table_as(
        "db", f"post_{verb}_{mode.replace('-', '_')}",
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"),
        properties={"change_data_feed": "on"} | MODES[mode],
    )
    before = tbl.current_version()
    if verb == "update":
        tbl.update(F.col("k") == 1, {"v": F.lit(1.6)})
        stored_v = 2
    else:
        tbl.merge(
            spark.createDataFrame([(1, 7.6)], "k int, nv double"),
            on=["k"],
            when_matched_update={"v": F.col("__src.nv")},
            when_not_matched_insert=False,
        )
        stored_v = 8
    stored = tbl.read().filter("k = 1").collect()
    assert [(r.k, r.v) for r in stored] == [(1, stored_v)]
    feed = tbl.read_changes(before).filter(
        F.col("_change_type") == "update_postimage"
    )
    assert [(r.k, r.v) for r in feed.collect()] == [(1, stored_v)]
    rows = feed.drop("_change_type", "_commit_version")
    assert dict(rows.dtypes) == dict(tbl.read().dtypes)


def test_sql_update_returning_shows_the_stored_row(spark, tmp_path):
    """RETURNING on a copy-on-write table with the feed on is served
    from the feed's postimages: it must return the rounded value the
    table stores."""
    lsql = LakeSQL(spark, LakeCatalog(spark, str(tmp_path / "wh")))
    lsql.sql(
        "CREATE TABLE db.c (k INT, v INT) WITH (change_data_feed='on')"
    )
    lsql.sql("INSERT INTO db.c VALUES (1, 1), (2, 2)")
    out = lsql.sql("UPDATE db.c SET v = 1.6 WHERE k = 1 RETURNING k, v")
    assert [(r.k, r.v) for r in out.collect()] == [(1, 2)]
    got = lsql.sql("SELECT k, v FROM db.c WHERE k = 1").collect()
    assert [(r.k, r.v) for r in got] == [(1, 2)]


@pytest.mark.parametrize("mode", ["mor", "mor-pos"])
def test_mor_lost_commit_race_leaves_no_orphan_files(catalog, spark, mode):
    """A merge-on-read UPDATE whose commit loses to a concurrent
    append raises CommitConflict — and removes the delete file, the
    postimage data files and the change files it staged."""
    name = f"race_{mode.replace('-', '_')}"
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "k int, v int")
    tbl = catalog.create_table_as(
        "db", name, df.coalesce(1),
        properties={"change_data_feed": "on"} | MODES[mode],
    )
    other = catalog.load_table("db", name)
    orig_stage = type(tbl)._stage_delete_file

    def racy(self, *a, **k):
        other.append(spark.createDataFrame([(100, 0)], "k int, v int"))
        return orig_stage(self, *a, **k)

    tbl._stage_delete_file = types.MethodType(racy, tbl)
    with pytest.raises(CommitConflict):
        tbl.update(F.col("k") < 5, {"v": F.lit(-1)})

    referenced = set()
    for v in range(1, tbl.current_version() + 1):
        s = tbl.snapshot(v)
        referenced |= {f["path"] for f in s.files}
        referenced |= {d["path"] for d in s.delete_files or []}
        referenced |= set(s.change_files or [])
    on_disk = set()
    dirs = [tbl.data_dir] + [
        os.path.join(tbl.location, d) for d in ("_deletes", "_changes")
    ]
    for top in dirs:
        for root, _dirs, files in os.walk(top):
            on_disk |= {
                os.path.relpath(os.path.join(root, fn), tbl.location)
                for fn in files
                if fn.endswith(".parquet")
            }
    assert on_disk, "the racing append wrote no data file"
    orphans = {os.path.normpath(p) for p in on_disk} - {
        os.path.normpath(p) for p in referenced
    }
    assert not orphans, orphans
    assert tbl.read().filter("v = -1").count() == 0

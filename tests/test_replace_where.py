"""replaceWhere (`tables.overwrite_where` + SQL INSERT ... REPLACE WHERE):
atomic region replacement."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.sources.sql import Lakehouse
from azure_databricks_lakehouse_spark.sources.tables import ParquetTable


@pytest.fixture()
def table(spark, tmp_path):
    rows = [(i, "2024-01-0" + str(1 + i % 3), float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "id int, day string, amt double")
    return ParquetTable.create(
        spark, str(tmp_path / "t"), df, partition_by=["day"]
    )


def _day(spark, table, day, ids):
    df = spark.createDataFrame(
        [(i, day, float(i) + 100.0) for i in ids],
        "id int, day string, amt double",
    )
    return df.select(*table.read().columns)


def test_replaces_exactly_the_region(spark, table):
    before_other = {
        (r.id, r.amt)
        for r in table.read().filter("day != '2024-01-02'").collect()
    }
    v0 = table.latest_version()
    table.overwrite_where(
        _day(spark, table, "2024-01-02", [900, 901]), "day = '2024-01-02'"
    )
    after = table.read()
    got_region = {
        (r.id, r.amt) for r in after.filter("day = '2024-01-02'").collect()
    }
    assert got_region == {(900, 1000.0), (901, 1001.0)}
    # rows outside the region are untouched
    assert {
        (r.id, r.amt) for r in after.filter("day != '2024-01-02'").collect()
    } == before_other
    # ONE commit; time travel shows the pre-replace state
    assert table.latest_version() == v0 + 1
    assert table.read(version=v0).filter("day = '2024-01-02'").count() == 10


def test_idempotent_backfill_rerun(spark, table):
    payload = _day(spark, table, "2024-01-03", [800, 801, 802])
    table.overwrite_where(payload, "day = '2024-01-03'")
    first = {
        (r.id, r.amt)
        for r in table.read().filter("day = '2024-01-03'").collect()
    }
    table.overwrite_where(payload, "day = '2024-01-03'")
    second = {
        (r.id, r.amt)
        for r in table.read().filter("day = '2024-01-03'").collect()
    }
    assert first == second == {(800, 900.0), (801, 901.0), (802, 902.0)}


def test_rejects_rows_outside_the_predicate(spark, table):
    bad = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)],
        "id int, day string, amt double",
    ).select(*table.read().columns)
    with pytest.raises(ValueError, match="replacement predicate"):
        table.overwrite_where(bad, "day = '2024-01-01'")
    # nothing committed
    assert table.history(limit=1)[0].operation == "CREATE"


def test_partition_files_outside_region_not_rewritten(spark, table):
    m0 = table._manifest()
    data_root = os.path.join(table.root, "data")
    other_before = {
        f: os.path.getmtime(os.path.join(data_root, f))
        for f in m0["files"]
        if "day=2024-01-02" not in f
    }
    table.overwrite_where(
        _day(spark, table, "2024-01-02", [900]), "day = '2024-01-02'"
    )
    m1 = table._manifest()
    for f, mtime in other_before.items():
        assert f in m1["files"]
        assert os.path.getmtime(os.path.join(data_root, f)) == mtime


def test_cdf_shows_exact_region_diff(spark, table):
    v0 = table.latest_version()
    table.overwrite_where(
        _day(spark, table, "2024-01-02", [900]), "day = '2024-01-02'"
    )
    changes = table.changes_between(v0).collect()
    deletes = {r.id for r in changes if r._change_type == "delete"}
    inserts = {r.id for r in changes if r._change_type == "insert"}
    assert deletes == {
        r.id
        for r in table.read(version=v0).filter("day = '2024-01-02'").collect()
    }
    assert inserts == {900}
    m = table.history(limit=1)[0].metrics
    assert m["rows_deleted"] == 10 and m["rows_inserted"] == 1


@pytest.mark.parametrize("mode", ["auto", "copy-on-write", "merge-on-read"])
def test_cdf_shows_exact_region_diff_per_mode(spark, table, mode):
    # the predicate matches 4 of the day's 10 rows, so no file is fully
    # matched: the forced modes must take the rewrite / DV branch
    cond = "day = '2024-01-01' AND id < 10"
    v0 = table.latest_version()

    def rows(df):
        return {(r.id, r.day, r.amt) for r in df.collect()}

    before = rows(table.read())
    gone = rows(table.read().filter(cond))
    assert {r[0] for r in gone} == {0, 3, 6, 9}
    table.overwrite_where(_day(spark, table, "2024-01-01", [1, 4]), cond, mode=mode)
    new = {(1, "2024-01-01", 101.0), (4, "2024-01-01", 104.0)}
    assert rows(table.read()) == (before - gone) | new
    changes = table.changes_between(v0).collect()
    by_type = {
        # str(): the CDC sidecar's hive partition value reads back as a date
        t: {(r.id, str(r.day), r.amt) for r in changes if r._change_type == t}
        for t in ("delete", "insert")
    }
    assert by_type["delete"] == gone
    assert by_type["insert"] == new
    assert len(changes) == 6
    m = table.history(limit=1)[0].metrics
    assert m["rows_deleted"] == 4 and m["rows_inserted"] == 2
    if mode == "copy-on-write":
        assert m["files_rewritten"] >= 1 and m["files_dv_masked"] == 0
    if mode == "merge-on-read":
        assert m["files_dv_masked"] >= 1 and m["files_rewritten"] == 0


def test_sql_insert_replace_where(spark, tmp_path, table):
    lh = Lakehouse(spark, warehouse=str(tmp_path / "wh"))
    lh.register("t", table.root)
    lh.sql(
        "INSERT INTO t REPLACE WHERE day = '2024-01-01' "
        "SELECT 700 AS id, '2024-01-01' AS day, CAST(7 AS DOUBLE) AS amt"
    )
    region = lh.sql("SELECT id FROM t WHERE day = '2024-01-01'").collect()
    assert {r.id for r in region} == {700}
    assert lh.sql("SELECT count(*) AS n FROM t WHERE day != '2024-01-01'").collect()[
        0
    ].n == 20


def test_refused_on_identity_tables(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id int, cat string")
    t = ParquetTable.create(spark, str(tmp_path / "ti"), df)
    t.add_identity_column("rid")
    with pytest.raises(ValueError, match="identity"):
        t.overwrite_where(
            spark.createDataFrame([(2, "a")], "id int, cat string"),
            "cat = 'a'",
        )


def test_dynamic_partition_overwrite(spark, table):
    # payload touches days 1 and 3; day 2 must be untouched
    df = spark.createDataFrame(
        [(700, "2024-01-01", 7.0), (701, "2024-01-03", 7.5)],
        "id int, day string, amt double",
    ).select(*table.read().columns)
    v0 = table.latest_version()
    table.overwrite_partitions(df)
    after = table.read()
    assert {r.id for r in after.filter("day = '2024-01-01'").collect()} == {700}
    assert {r.id for r in after.filter("day = '2024-01-03'").collect()} == {701}
    assert after.filter("day = '2024-01-02'").count() == 10
    assert table.latest_version() == v0 + 1  # one commit for both partitions
    # empty frame replaces nothing, commits nothing
    empty = spark.createDataFrame([], after.schema)
    assert table.overwrite_partitions(empty) == v0 + 1
    # unpartitioned table refuses
    up = ParquetTable.create(
        spark,
        table.root + "_up",
        spark.createDataFrame([(1,)], "id int"),
    )
    with pytest.raises(ValueError, match="partitioned"):
        up.overwrite_partitions(spark.createDataFrame([(2,)], "id int"))

def test_dynamic_partition_overwrite_typed_partitions(spark, tmp_path):
    """Round-7 ADVICE (medium): date/int/timestamp-partitioned tables
    must survive dynamic partition overwrite — the old repr() literal
    fallback rendered `datetime.date(2024, 1, 1)`, which the predicate
    parser rejects on the canonical day-reload."""
    import datetime

    rows = [
        (i, datetime.date(2024, 1, 1 + i % 3), i % 2,
         datetime.datetime(2024, 1, 1, 12, i % 3, 0))
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "id int, day date, bucket int, ts timestamp"
    )
    t = ParquetTable.create(
        spark, str(tmp_path / "typed"), df, partition_by=["day", "bucket"]
    )
    reload_df = spark.createDataFrame(
        [(700, datetime.date(2024, 1, 2), 0,
          datetime.datetime(2024, 1, 2, 0, 0, 0))],
        df.schema,
    )
    t.overwrite_partitions(reload_df)
    after = t.read()
    assert {
        r.id for r in after.filter("day = DATE '2024-01-02' AND bucket = 0").collect()
    } == {700}
    # the sibling (day=2024-01-02, bucket=1) partition is untouched
    assert after.filter("day = DATE '2024-01-02' AND bucket = 1").count() == 2
    assert after.filter("day != DATE '2024-01-02'").count() == 8

    # timestamp-partitioned: same contract
    t2 = ParquetTable.create(
        spark, str(tmp_path / "typed_ts"),
        df.select("id", "ts"), partition_by=["ts"],
    )
    t2.overwrite_partitions(
        spark.createDataFrame(
            [(900, datetime.datetime(2024, 1, 1, 12, 1, 0))],
            "id int, ts timestamp",
        )
    )
    hit = t2.read().filter("ts = TIMESTAMP '2024-01-01 12:01:00'")
    assert {r.id for r in hit.collect()} == {900}
    assert t2.read().count() == 1 + 8  # other two ts partitions intact

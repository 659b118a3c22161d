"""DML under whole-stage codegen: the suite's session runs interpreted,
so the file-split DML paths (drop / rewrite / deletion vector, for
DELETE, UPDATE and replaceWhere) run once more in a codegen-on session
and must produce the same table and the same change feed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.sources.tables import ParquetTable


@pytest.fixture()
def codegen_spark(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "true")
    s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    return s


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _run(spark, root):
    """One DML sequence covering every file class; returns the table and
    its version before the first statement."""
    df = spark.range(200).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 4).cast("string").alias("part"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    t = ParquetTable.create(spark, root, df, partition_by=["part"])
    v0 = t.latest_version()
    t.delete("part = '0'")  # whole partition: drop
    t.delete("k = 7", mode="merge-on-read")
    t.update(
        "part = '1' AND k < 120",
        {"v": F.concat(F.col("v"), F.lit("_u"))},
        mode="copy-on-write",
    )
    t.update("k = 11", {"v": F.lit("x")}, mode="merge-on-read")
    t.delete("part = '2' AND k > 150", mode="copy-on-write")
    incoming = spark.createDataFrame(
        [(3, "3", "new3"), (39, "3", "new39")], "k int, part string, v string"
    ).select(*t.read().columns)
    t.overwrite_where(incoming, "part = '3' AND k < 40", mode="merge-on-read")
    t.overwrite_where(
        incoming.limit(0), "part = '3' AND k >= 180", mode="copy-on-write"
    )
    return t, v0


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dml_matches_between_interpreted_and_codegen(
    spark, codegen_spark, tmp_path
):
    probe = codegen_spark.range(10).select((F.col("id") + 1).alias("x"))
    assert "*(" in _plan(probe)  # whole-stage codegen is really on
    assert "*(" not in _plan(spark.range(10).select((F.col("id") + 1).alias("x")))

    interp, v0_i = _run(spark, str(tmp_path / "interp"))
    codegen, v0_c = _run(codegen_spark, str(tmp_path / "codegen"))

    rows = _rows(interp.read())
    assert rows == _rows(codegen.read())
    # part 0 dropped, k=7, twelve part-2 rows, nine part-3 rows replaced
    # by two, five more part-3 rows replaced by none
    assert len(rows) == 200 - 50 - 1 - 12 - 9 + 2 - 5
    cols = [
        c
        for c in interp.changes_between(v0_i).columns
        if c != "_commit_timestamp"
    ]
    changes = _rows(interp.changes_between(v0_i).select(*cols))
    assert changes == _rows(codegen.changes_between(v0_c).select(*cols))

    def sidecars(t, v0):
        # each commit's own CDC rows, with Delta's update row types
        return [
            _rows(
                t._read_cdc_files(t._manifest(v)["cdc_files"]).select(
                    "k", "part", "v", "_change_type"
                )
            )
            for v in range(v0 + 1, t.latest_version() + 1)
        ]

    raw = sidecars(interp, v0_i)
    assert raw == sidecars(codegen, v0_c)
    kinds = {r[-1] for commit in raw for r in commit}
    assert kinds == {"delete", "update_preimage", "update_postimage", "insert"}

    def ops(t):
        return [(c.operation, c.metrics) for c in t.history()]

    assert ops(interp) == ops(codegen)

"""catalog.spread — the scale-adaptive unsplittable-input fix.

The round-12 optimization parallelizes heavy projections over the
corpus' single-row-group parquet files (a scan = ONE task locally) by
repartitioning to the session parallelism — but ONLY when the frame is
under-partitioned.  At production scale scans carry >= cores
partitions, so the gate must make spread a structural no-op there
(no exchange may enter the plan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.sources.catalog import spread


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_parallelizes_underpartitioned_input(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # single-row-group file
    out = spread(docs, "doc_id")
    p = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == p
    assert "Exchange" in _plan(out)
    # same rows, just redistributed
    assert out.count() == docs.count()


def test_spread_is_noop_on_well_partitioned_input(spark):
    p = spark.sparkContext.defaultParallelism
    df = spark.range(0, 10000, 1, numPartitions=p).select(
        F.col("id").alias("doc_id")
    )
    out = spread(df, "doc_id")
    assert out is df  # structurally untouched: no exchange, same plan
    wide = spark.range(0, 10000, 1, numPartitions=p * 4).select(
        F.col("id").alias("doc_id")
    )
    assert spread(wide, "doc_id") is wide


def test_spread_byte_gate_skips_large_underpartitioned_input(
    spark, sf_dir, monkeypatch
):
    # ADVICE r12: a multi-file table with fewer splits than cluster
    # cores must NOT be shuffled wholesale — spread only moves inputs
    # whose estimated size is small enough for the exchange to be cheap
    from azure_databricks_lakehouse_spark.sources import catalog

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1
    monkeypatch.setattr(catalog, "_SPREAD_MAX_BYTES", 1)
    assert catalog.spread(docs, "doc_id") is docs


class _StatsFailJdf:
    """Delegates to the real Java DataFrame except for the optimizer
    stats path, which raises."""

    def __init__(self, jdf):
        self._jdf = jdf

    def __getattr__(self, name):
        if name == "queryExecution":
            raise RuntimeError("stats unavailable")
        return getattr(self._jdf, name)


def test_spread_fails_closed_when_stats_raise(spark, sf_dir, monkeypatch):
    # an unknown size must not be read as "small": without an estimate
    # spread leaves the frame alone instead of shuffling it
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1
    monkeypatch.setattr(docs, "_jdf", _StatsFailJdf(docs._jdf))
    out = spread(docs, "doc_id")
    monkeypatch.undo()
    assert out is docs
    assert "Exchange" not in _plan(out)

"""Correctness checks and the storage measurement, all run after the
timed region.  Each check is counted as one operation; a failed check
counts as a failed operation and makes the command exit non-zero.

- corpus queries (``dml_mixed``): every ``CORPUS_SLICE`` query's result,
  collected when it first runs in warm-up, against its
  ``oracle_sql()`` DuckDB twin over the same generated parquet: column
  names, row count and an order-insensitive hash of the rendered values.
- ``dml_mixed``: the final table and view rows against a DuckDB replay of
  the same seeded statements.
- ``medallion_incremental``: bronze rows equal landed lines; per batch,
  silver pass + fail + duplicates account for every bronze row, with the
  pass and fail counts the generator predicts; silver and fact rows equal
  the distinct passing claims; gold aggregate sums equal fact sums.
"""

from __future__ import annotations

import io
import math
import os

import duckdb
import pyarrow.parquet as pq

from workloads import CORPUS_SLICE, MV, MV_QUERY, TABLE, Run


def _canon(frame):
    cols = sorted(frame.columns)
    return cols, frame[cols].sort_values(by=cols, kind="mergesort").to_csv(index=False)


def _duck(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(corpus_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_corpus(run: Run, corpus_dir: str, results: dict) -> None:
    """``results``: each slice query's Spark result, collected in warm-up."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = _duck(corpus_dir)
    for name in CORPUS_SLICE:
        got = results[name]
        want = con.sql(oracles[name]).df()
        g_cols, g_csv = _canon(got)
        w_cols, w_csv = _canon(want)
        run.check(
            g_cols == w_cols and len(got) == len(want) and g_csv == w_csv,
            f"{name}: result differs from its DuckDB oracle "
            f"(rows {len(got)} vs {len(want)}, columns {g_cols} vs {w_cols})",
        )


def _duck_replay(corpus_dir: str, script: list[tuple[str, str]]) -> duckdb.DuckDBPyConnection:
    """Replay the statement script on DuckDB.  DuckDB has no MERGE, so
    the reference's updateAll/insertAll MERGE is replayed as its
    definition: drop the target rows the source matches, insert the
    source."""
    con = duckdb.connect()
    orders = os.path.join(corpus_dir, "orders.parquet")
    con.execute(f"CREATE VIEW dml_src AS SELECT * FROM read_parquet('{orders}')")
    con.execute(
        f"CREATE TABLE {TABLE} AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate, o_orderpriority FROM dml_src"
    )
    for kind, stmt in script:
        if kind not in ("write",):
            continue
        if stmt.startswith("MERGE"):
            src = stmt[stmt.index("USING (") + 7 : stmt.index(") s ON")]
            con.execute(f"CREATE OR REPLACE TEMP TABLE merge_src AS {src}")
            con.execute(f"DELETE FROM {TABLE} WHERE o_orderkey IN (SELECT o_orderkey FROM merge_src)")
            con.execute(f"INSERT INTO {TABLE} SELECT * FROM merge_src")
        else:
            con.execute(stmt)
    return con


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _rows_match(got: list[tuple], want: list[tuple]) -> bool:
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
    )


def check_dml(run: Run, state: dict) -> None:
    lh = state["lh"]
    con = _duck_replay(state["corpus_dir"], state["script"])
    cols = "o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 4), o_orderdate, o_orderpriority"
    got = [tuple(r) for r in lh.sql(f"SELECT {cols} FROM {TABLE}").collect()]
    want = con.execute(f"SELECT {cols} FROM {TABLE}").fetchall()
    run.check(_rows_match(got, want), f"{TABLE}: {len(got)} rows differ from the DuckDB replay ({len(want)})")
    lh.sql(f"REFRESH MATERIALIZED VIEW {MV}")
    got = [tuple(r) for r in lh.sql(f"SELECT o_orderstatus, total, n FROM {MV}").collect()]
    want = con.execute(MV_QUERY).fetchall()
    run.check(_rows_match(got, want), f"{MV}: view rows differ from the DuckDB replay")
    check_corpus(run, state["corpus_dir"], state["corpus_results"])


def check_medallion(run: Run, state: dict) -> None:
    from pyspark.sql import functions as F

    from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

    spark, plan, lake = run.spark, state["plan"], state["lake"]
    landed = sum(len(b) for b in plan.batches)

    def rows(root: str) -> int:
        return ParquetTable.for_path(spark, root).read().count()

    run.check(rows(lake.bronze_claims) == landed, f"bronze rows != {landed} landed lines")
    for b, (bres, sres, _) in enumerate(state["results"]):
        n = len(plan.batches[b])
        dups = sres.n_incremental - sres.n_pass - sres.n_fail
        run.check(
            bres.n_rows == n
            and sres.n_incremental == n
            and sres.n_fail == plan.expected_fail[b]
            and sres.n_pass == plan.expected_pass[b]
            and dups == n - plan.expected_fail[b] - plan.expected_pass[b],
            f"batch {b}: bronze {bres.n_rows}, silver pass {sres.n_pass} fail {sres.n_fail} "
            f"dup {dups}; expected {n} lines, pass {plan.expected_pass[b]}, "
            f"fail {plan.expected_fail[b]}",
        )
    run.check(rows(lake.quarantine) == sum(plan.expected_fail), "quarantine rows != failed lines")
    run.check(rows(lake.silver_claims) == plan.expected_keys, "silver rows != distinct passing claims")
    fact = ParquetTable.for_path(spark, lake.fact_claims).read()
    n_fact, billed = fact.agg(F.count(F.lit(1)), F.sum("billed_amount")).first()
    run.check(
        n_fact == plan.expected_keys and state["results"][-1][2] == n_fact,
        f"fact rows {n_fact} != {plan.expected_keys} distinct passing claims",
    )
    run.check(
        round(billed * 100) == plan.expected_billed_cents,
        f"fact billed total {billed} != generated {plan.expected_billed_cents / 100}",
    )
    for root in (lake.agg_by_provider, lake.agg_by_month):
        n, total = (
            ParquetTable.for_path(spark, root)
            .read()
            .agg(F.sum("n_claims"), F.sum("total_billed"))
            .first()
        )
        run.check(
            n == n_fact and total == billed,
            f"{os.path.basename(root)}: sums ({n}, {total}) != fact ({n_fact}, {billed})",
        )


CHECKS = {"medallion_incremental": check_medallion, "dml_mixed": check_dml}


def storage_amplification(run: Run) -> float:
    """Bytes on disk under the workload's table roots divided by the bytes
    of each table's live rows written once as one compact parquet file."""
    from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

    on_disk = compact = 0
    for top in run.storage_roots:
        for d, dirs, files in os.walk(top):
            on_disk += sum(os.path.getsize(os.path.join(d, f)) for f in files)
            if "_manifest" in dirs:
                buf = io.BytesIO()
                pq.write_table(ParquetTable.for_path(run.spark, d).read().toArrow(), buf)
                compact += buf.tell()
    return on_disk / compact

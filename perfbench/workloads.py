"""The benchmark's workloads.  Each is one client in a closed loop: the
next operation is issued when the previous one has returned.

``medallion_incremental``
    Landing batches of claim lines go through ``bronze.ingest`` →
    ``silver.process`` → ``gold.build`` into one lakehouse whose tables
    grow batch by batch (CSV parse, DQ gate, window dedup, MERGE, star
    join, aggregates).  After each batch the gold fact is read.
``dml_mixed``
    ``Lakehouse.sql`` statements against a ``CREATE TABLE AS`` copy of
    ``orders`` carrying an aggregate materialized view: MERGE (~1% of the
    keys), UPDATE, DELETE and INSERT, then point and range SELECTs;
    within each maintenance cycle one iteration refreshes the view and
    one runs OPTIMIZE.

Every ``dml_mixed`` iteration also runs the declared corpus query in
``CORPUS_SLICE`` to the noop sink, so the query layer is measured beside
the table layers.

The measured plan is a fixed number of batches or iterations, sized from
``--seconds`` by the per-unit estimate of each workload, so the state the
engine reaches (and hence every figure) does not depend on how fast the
engine is.
"""

from __future__ import annotations

import os
import random
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import gen

CORPUS_SLICE = ("q03_star_join_revenue",)
SETUP_REPEATS = 3
READS_PER_UNIT = 3  # point + range SELECT pairs per dml iteration


class WorkloadFailed(RuntimeError):
    pass


@dataclass
class Run:
    """What one run measured, plus the state the checks read."""

    spark: object
    tracer: object
    work: str
    seed: int
    setup_s: list[float] = field(default_factory=list)
    lat: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    units: list[float] = field(default_factory=list)  # whole batch / iteration
    rows_written: int = 0
    write_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    storage_roots: list[str] = field(default_factory=list)
    phase_start: float | None = None

    def enter(self, phase: str) -> None:
        """Switch phase; the time spent in each phase goes to stderr."""
        now = time.perf_counter()
        if self.phase_start is not None:
            print(f"phase {self.tracer.phase}: {now - self.phase_start:.1f}s", file=sys.stderr)
        self.phase_start = now
        self.tracer.phase = phase

    def op(self, kind: str, fn, *args, **kwargs):
        """Time one operation; failures are counted, then abort the run."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # counted, reported and fatal for the run
            self.failed += 1
            raise WorkloadFailed(f"{kind}: {type(exc).__name__}: {exc}") from exc
        if self.tracer.phase == "measure":
            self.lat[kind].append(time.perf_counter() - t0)
        return out

    def check(self, ok: bool, what: str) -> None:
        """A correctness check counts as an operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def run_corpus_query(run: Run, corpus_dir: str, name: str, collect: bool = False):
    """One declared corpus query, built and run to the noop sink; with
    ``collect`` (warm-up) its result is returned for the oracle check."""
    import __spark_entry__ as entry

    fn = entry.queries()[name]

    def go():
        with run.tracer.span("queries.read"):
            with run.tracer.span("queries.read.build"):
                df = fn(run.spark, corpus_dir)
            with run.tracer.span("queries.read.execute"):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()

    return run.op("query", go)


def _select(run: Run, lh, stmt: str) -> list:
    """A read statement: parse, plan and collect, inside one span so the
    table layer's scan-to-result ratio is measured where it happens."""

    def go():
        with run.tracer.span("bench.select") as sp:
            rows = lh.sql(stmt).collect()
            if sp is not None:
                sp.rows_returned = len(rows)
        return rows

    return run.op("read", go)


# --- medallion_incremental ----------------------------------------------------

MEDALLION_CLAIMS_PER_BATCH = 600
MEDALLION_BATCH_EST_S = 30.0
MEDALLION_READS = 8  # point + range SELECT pairs on the fact per batch


def _medallion_setup(run: Run, root: str, n_batches: int):
    from azure_databricks_lakehouse_spark.pipelines import LakehousePaths, silver
    from azure_databricks_lakehouse_spark.sources.sql import Lakehouse

    plan = gen.claims_batches(run.seed, MEDALLION_CLAIMS_PER_BATCH * n_batches, n_batches)
    for b, rows in enumerate(plan.batches):
        gen.write_claims_csv(rows, os.path.join(root, "landing", f"b{b}", "claims.csv"))
    members, providers = gen.reference_rows(run.seed)
    lake = LakehousePaths(os.path.join(root, "lake"))
    spark = run.spark
    silver.load_reference_table(
        spark,
        spark.createDataFrame(
            members,
            "member_id string, first_name string, last_name string, date_of_birth string, "
            "gender string, zip_code string, plan_type string",
        ),
        lake.silver_members,
        ["member_id"],
    )
    silver.load_reference_table(
        spark,
        spark.createDataFrame(
            providers,
            "provider_id string, provider_name string, npi string, specialty string, "
            "facility_type string, address_state string, network_status string",
        ),
        lake.silver_providers,
        ["provider_id"],
    )
    return plan, lake, Lakehouse(spark, warehouse=os.path.join(root, "wh"))


def medallion_incremental(run: Run, seconds: int) -> dict:
    """Every batch is measured: the first lands into empty tables (the
    create path), each later one goes through the watermark increment and
    the silver and fact MERGEs into tables that grow."""
    from azure_databricks_lakehouse_spark.pipelines import bronze, gold, silver

    n_batches = max(1, round(seconds / MEDALLION_BATCH_EST_S))
    run.enter("setup")
    for k in range(SETUP_REPEATS):
        root = os.path.join(run.work, f"setup{k}")
        shutil.rmtree(os.path.join(run.work, f"setup{k - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        plan, lake, lh = _medallion_setup(run, root, n_batches)
        run.setup_s.append(time.perf_counter() - t0)

    rng = random.Random(run.seed)
    results = []
    run.enter("measure")
    for b in range(n_batches):
        t0 = time.perf_counter()
        bres = run.op(
            "pipeline",
            bronze.ingest,
            run.spark,
            lake.bronze_claims,
            os.path.join(root, "landing", f"b{b}", "*.csv"),
            load_id=f"batch{b}",
        )
        sres = run.op("pipeline", silver.process, run.spark, lake)
        gres = run.op("pipeline", gold.build, run.spark, lake, "2023-01-01", "2024-12-31")
        t_write = time.perf_counter() - t0
        if b == 0:
            lh.register("fact", lake.fact_claims)
        for _ in range(MEDALLION_READS):
            key = rng.choice(plan.batches[b])[0]
            _select(run, lh, f"SELECT claim_id, billed_amount, paid_amount FROM fact WHERE claim_id = '{key}'")
            lo = rng.randrange(1, 13)
            _select(
                run,
                lh,
                "SELECT provider_sk, COUNT(*) AS n, SUM(billed_amount) AS billed FROM fact "
                f"WHERE service_month BETWEEN 2023{lo:02d} AND 2024{lo:02d} GROUP BY provider_sk",
            )
        run.lat["write"].append(t_write)
        run.units.append(time.perf_counter() - t0)
        run.write_s += t_write
        run.rows_written += len(plan.batches[b])
        results.append((bres, sres, gres.n_fact))
    run.enter("checks")
    run.storage_roots = [lake.root]
    return {"plan": plan, "lake": lake, "results": results}


# --- dml_mixed ------------------------------------------------------------------

DML_ORDERS = 8000
DML_ITER_EST_S = 8.0
DML_CYCLE = 2  # iterations per maintenance cycle: one REFRESH, one OPTIMIZE
TABLE = "dml_orders"
MV = "dml_orders_mv"
MV_QUERY = (
    f"SELECT o_orderstatus, SUM(o_totalprice) AS total, COUNT(*) AS n FROM {TABLE} GROUP BY o_orderstatus"
)
_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


def _dml_setup(run: Run, root: str):
    from azure_databricks_lakehouse_spark.sources.sql import Lakehouse

    corpus_dir = os.path.join(root, "corpus")
    gen.write_corpus_tables(run.seed, DML_ORDERS, corpus_dir)
    run.spark.read.parquet(os.path.join(corpus_dir, "orders.parquet")).createOrReplaceTempView(
        "dml_src"
    )
    lh = Lakehouse(run.spark, warehouse=os.path.join(root, "wh"))
    lh.sql(f"CREATE TABLE {TABLE} AS SELECT {_COLS} FROM dml_src")
    lh.sql(f"CREATE MATERIALIZED VIEW {MV} AS {MV_QUERY}")
    return lh, corpus_dir


def dml_statements(seed: int, n_iters: int, n_orders: int) -> list[tuple[str, str]]:
    """The seeded statement script: ``(kind, sql)`` pairs, where kind is
    ``write``, ``read`` or ``maint``.  The DuckDB replay runs the same
    list, so it is generated once, up front."""
    rng = random.Random(seed)
    out: list[tuple[str, str]] = []
    next_key = n_orders
    width = max(1, n_orders // 100)
    for i in range(n_iters):
        lo = rng.randrange(n_orders - width)
        bump = rng.randrange(1, 100)
        out.append(
            (
                "write",
                f"MERGE INTO {TABLE} t USING (SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus, "
                f"o_totalprice + {bump} AS o_totalprice, o_orderdate, o_orderpriority FROM dml_src "
                f"WHERE o_orderkey BETWEEN {lo} AND {lo + width - 1}) s ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            )
        )
        k = rng.randrange(n_orders)
        out.append(
            (
                "write",
                f"UPDATE {TABLE} SET o_totalprice = o_totalprice + 1.5, o_orderpriority = '1-URGENT' "
                f"WHERE o_orderkey BETWEEN {k} AND {k + 20}",
            )
        )
        k = rng.randrange(n_orders)
        out.append(("write", f"DELETE FROM {TABLE} WHERE o_orderkey BETWEEN {k} AND {k + 10}"))
        vals = ", ".join(
            f"({next_key + j}, {rng.randrange(n_orders // 10)}, 'N', {rng.randrange(1000, 50000)}.25, "
            f"TIMESTAMP '2001-0{1 + j}-15 00:00:00', '3-MEDIUM')"
            for j in range(5)
        )
        next_key += 5
        out.append(("write", f"INSERT INTO {TABLE} VALUES {vals}"))
        for _ in range(READS_PER_UNIT):
            k = rng.randrange(n_orders)
            out.append(("read", f"SELECT {_COLS} FROM {TABLE} WHERE o_orderkey = {k}"))
            k = rng.randrange(n_orders)
            out.append(
                (
                    "read",
                    f"SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total FROM {TABLE} "
                    f"WHERE o_orderkey BETWEEN {k} AND {k + n_orders // 10} GROUP BY o_orderstatus",
                )
            )
        if i % DML_CYCLE == 0:
            out.append(("maint", f"REFRESH MATERIALIZED VIEW {MV}"))
        else:
            out.append(("maint", f"OPTIMIZE {TABLE}"))
        out.append(("iteration", str(i)))
    return out


def dml_mixed(run: Run, seconds: int) -> dict:
    """Every iteration is measured, from the first: the set-up's CREATE
    statements are the only warm-up the statement paths get.  The corpus
    query runs once cold before the loop (its result is kept for the
    oracle check), then warm once per iteration."""
    n_iters = DML_CYCLE * max(1, round(seconds / (DML_ITER_EST_S * DML_CYCLE)))
    script = dml_statements(run.seed, n_iters, DML_ORDERS)
    run.enter("setup")
    for k in range(SETUP_REPEATS):
        root = os.path.join(run.work, f"setup{k}")
        shutil.rmtree(os.path.join(run.work, f"setup{k - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        lh, corpus_dir = _dml_setup(run, root)
        run.setup_s.append(time.perf_counter() - t0)

    table = lh.table(TABLE)
    changed_before = _rows_changed(table)
    run.enter("warmup")
    corpus_results = {q: run_corpus_query(run, corpus_dir, q, collect=True) for q in CORPUS_SLICE}
    run.enter("measure")
    t_unit = time.perf_counter()
    for kind, stmt in script:
        if kind == "iteration":
            run_corpus_query(run, corpus_dir, CORPUS_SLICE[int(stmt) % len(CORPUS_SLICE)])
            run.units.append(time.perf_counter() - t_unit)
            t_unit = time.perf_counter()
        elif kind == "read":
            _select(run, lh, stmt)
        else:
            t0 = time.perf_counter()
            run.op(kind, lh.sql, stmt)
            if kind == "write":
                run.write_s += time.perf_counter() - t0
    run.enter("checks")
    run.rows_written = _rows_changed(table) - changed_before
    run.storage_roots = [os.path.join(root, "wh")]
    return {"lh": lh, "script": script, "corpus_dir": corpus_dir, "corpus_results": corpus_results}


def _rows_changed(table) -> int:
    """Rows the table's commits report as inserted, updated or deleted."""
    total = 0
    for c in table.history():
        m = c.metrics or {}
        total += sum(m.get(k, 0) for k in ("rows_updated", "rows_inserted", "rows_deleted"))
    return total


WORKLOADS = {
    "medallion_incremental": medallion_incremental,
    "dml_mixed": dml_mixed,
}


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM's."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")

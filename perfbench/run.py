"""Lakehouse benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload dml_mixed --seed 1 --seconds 24 --trace 0

Runs from the root of a checkout of the repository, in one process, on
``local[N]`` with N the number of CPUs this process may use, with one
client.  Inputs are generated from ``--seed``.  Everything the run writes
(generated inputs, tables, Spark local and temp dirs) lives under
``.perfbench_work/`` in the checkout and is deleted at the end; a traced
run also leaves its spans in ``.perfbench_out/``.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The exit code is 0 only when every operation and every
correctness check passed.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "write_mean_s": "s",
    "read_p50_s": "s",
    "iteration_s": "s",
    "rows_per_s": "rows/s",
    "storage_amplification": "ratio",
}

_SPAN_METRICS = ("wall_s", "self_s", "driver_s", "spark_jobs", "py4j_calls",
                 "executor_cpu_s", "shuffle_write_bytes", "input_rows")
_PIPELINE_OPS = ("bronze.ingest", "silver.process", "gold.build", "gold.build_fact",
                 "gold.build_aggregation_tables")
_SQL_KINDS = ("merge", "update", "delete", "insert", "select", "optimize")
_TABLE_OPS = ("merge", "update", "delete", "append", "read", "optimize")
_TABLE_WRITES = ("merge", "update", "delete", "append", "optimize")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``."""
    unit = {"wall_s": "s", "self_s": "s", "driver_s": "s", "spark_jobs": "count",
            "py4j_calls": "count", "executor_cpu_s": "s", "shuffle_write_bytes": "bytes",
            "input_rows": "rows", "bytes_written": "bytes", "files_added": "count",
            "files_dv_masked": "count", "build_s": "s", "execute_s": "s"}
    out = [("session.get_spark.wall_s", "s"), ("session.run.peak_rss_mb", "MB")]
    out += [(f"pipelines.{op}.{m}", unit[m]) for op in _PIPELINE_OPS for m in _SPAN_METRICS]
    out += [(f"sources.sql.{k}.{m}", unit[m]) for k in _SQL_KINDS for m in ("self_s", "py4j_calls")]
    out += [(f"sources.tables.{op}.{m}", unit[m]) for op in _TABLE_OPS
            for m in ("wall_s", "self_s", "driver_s", "spark_jobs", "py4j_calls")]
    out += [(f"sources.tables.{op}.{m}", unit[m]) for op in _TABLE_WRITES
            for m in ("bytes_written", "files_added", "files_dv_masked")]
    out += [(f"sources.tables.{op}.rows_written_per_row_changed", "ratio")
            for op in ("merge", "update", "delete")]
    out += [("sources.tables.read.rows_scanned_per_row_returned", "ratio")]
    out += [(f"sources.mv.refresh.{m}", unit[m]) for m in ("wall_s", "driver_s", "spark_jobs")]
    out += [(f"queries.read.{m}", unit[m]) for m in
            ("build_s", "execute_s", "driver_s", "spark_jobs", "executor_cpu_s", "shuffle_write_bytes")]
    return out


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python create under ``work``,
    and run on the engine's defaults whatever the caller's environment."""
    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = os.path.join(work, "tmp")


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # keep every job of a run in the status store for the traced run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def _trace_wrappers(tracer) -> None:
    from azure_databricks_lakehouse_spark.pipelines import bronze, gold, silver
    from azure_databricks_lakehouse_spark.sources.sql import Lakehouse
    from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

    tracer.wrap(bronze, "ingest", "pipelines.bronze.ingest")
    tracer.wrap(silver, "process", "pipelines.silver.process")
    tracer.wrap(gold, "build", "pipelines.gold.build")
    tracer.wrap(gold, "build_fact", "pipelines.gold.build_fact")
    tracer.wrap(gold, "build_aggregation_tables", "pipelines.gold.build_aggregation_tables")
    tracer.wrap_sql(Lakehouse)
    for op in _TABLE_WRITES:
        tracer.wrap_table_write(ParquetTable, op)
    tracer.wrap(ParquetTable, "read", "sources.tables.read")


def layer_metrics(tracer, get_spark_s: float, rss_mb: float) -> dict[str, float]:
    """Per-call means over the measured phase, named ``<module>.<op>.<metric>``;
    a layer the workload does not exercise reads 0."""
    from spans import span_metrics

    jobs, stages = tracer.spark_activity()
    per_span = span_metrics(tracer, jobs, stages)
    calls: dict[str, list] = {}
    for sp in tracer.spans:
        if sp.phase == "measure":
            calls.setdefault(sp.name, []).append((sp, per_span[sp.sid]))
    out = {name: 0.0 for name, _ in per_layer_names()}
    out["session.get_spark.wall_s"] = get_spark_s
    out["session.run.peak_rss_mb"] = rss_mb

    def mean(name: str, key: str) -> float:
        xs = [m[key] for _, m in calls.get(name, [])]
        return sum(xs) / len(xs) if xs else 0.0

    for op in _PIPELINE_OPS:
        for m in _SPAN_METRICS:
            out[f"pipelines.{op}.{m}"] = mean(f"pipelines.{op}", m)
    for k in _SQL_KINDS:
        for m in ("self_s", "py4j_calls"):
            out[f"sources.sql.{k}.{m}"] = mean(f"sources.sql.{k}", m)
    for op in _TABLE_OPS:
        for m in ("wall_s", "self_s", "driver_s", "spark_jobs", "py4j_calls"):
            out[f"sources.tables.{op}.{m}"] = mean(f"sources.tables.{op}", m)
    for op in _TABLE_WRITES:
        tables = [sp.table for sp, _ in calls.get(f"sources.tables.{op}", []) if sp.table]
        for m in ("bytes_written", "files_added", "files_dv_masked"):
            out[f"sources.tables.{op}.{m}"] = (
                sum(t[m] for t in tables) / len(tables) if tables else 0.0
            )
        if op in ("merge", "update", "delete"):
            changed = sum(t["rows_changed"] for t in tables)
            out[f"sources.tables.{op}.rows_written_per_row_changed"] = (
                sum(t["rows_written"] for t in tables) / changed if changed else 0.0
            )
    selects = calls.get("bench.select", [])
    returned = sum(sp.rows_returned for sp, _ in selects)
    out["sources.tables.read.rows_scanned_per_row_returned"] = (
        sum(m["input_rows"] for _, m in selects) / returned if returned else 0.0
    )
    for m in ("wall_s", "driver_s", "spark_jobs"):
        out[f"sources.mv.refresh.{m}"] = mean("sources.mv.refresh", m)
    out["queries.read.build_s"] = mean("queries.read.build", "wall_s")
    out["queries.read.execute_s"] = mean("queries.read.execute", "wall_s")
    for m in ("driver_s", "spark_jobs", "executor_cpu_s", "shuffle_write_bytes"):
        out[f"queries.read.{m}"] = mean("queries.read", m)
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans_{tracer.run_id}.jsonl"), jobs)
    return out


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        # fails fast (no JVM started) where the engine is not present
        from azure_databricks_lakehouse_spark import session

        import checks
        import workloads
        from spans import NullTracer, Tracer

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
                  file=sys.stderr)
            return 2
        n_cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", master=f"local[{n_cpus}]", extra_conf=_spark_conf(work))
        get_spark_s = time.perf_counter() - t0
        try:
            run_id = f"{args.workload}_s{args.seed}"
            tracer = Tracer(spark, run_id) if args.trace else NullTracer()
            if args.trace:
                _trace_wrappers(tracer)
            run = workloads.Run(spark, tracer, work, args.seed)
            try:
                state = workloads.WORKLOADS[args.workload](run, args.seconds)
            except workloads.WorkloadFailed as exc:
                print(f"operation failed: {exc}", file=sys.stderr)
                state = None
            if args.trace:
                tracer.unwrap()
            if state is not None:
                rss_mb = workloads.peak_rss_mb(spark)
                amplification = checks.storage_amplification(run)
                try:
                    checks.CHECKS[args.workload](run, state)
                except Exception as exc:  # a check that cannot run has failed
                    run.check(False, f"check raised {type(exc).__name__}: {exc}")
            run.enter("report")
            for p in run.problems:
                print(f"check failed: {p}", file=sys.stderr)
            e2e = {}
            if state is not None:
                e2e = {
                    "setup_s": get_spark_s + workloads.p50(run.setup_s),
                    "write_mean_s": sum(run.lat["write"]) / len(run.lat["write"]),
                    "read_p50_s": workloads.p50(run.lat["read"]),
                    "iteration_s": sum(run.units) / len(run.units),
                    "rows_per_s": run.rows_written / run.write_s,
                    "storage_amplification": amplification,
                }
            if args.trace:
                # the traced run's own end-to-end figures, for the overhead
                print("end_to_end " + json.dumps(e2e), file=sys.stderr)
                values = layer_metrics(tracer, get_spark_s, rss_mb if state is not None else 0.0)
                metrics = {name: {"value": values[name], "unit": unit} for name, unit in per_layer_names()}
            else:
                metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    ok = state is not None and run.failed == 0
    print(json.dumps({"correct": ok, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

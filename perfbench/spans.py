"""Span tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded around calls into the engine's public functions.  The
benchmark installs thin wrappers on those functions in its own process
(module attributes and class methods), so the engine's code is untouched;
an untraced run installs nothing.

Each span keeps its name, start, end, parent, run id and phase.  While a
span is open it owns the Spark job group, so every Spark job is
attributed exactly to the innermost span that submitted it.  After the
run, one JSON export of Spark's status store (which works with the UI
off) supplies job intervals and stage metrics; py4j calls are counted by
wrapping the py4j client of this process.  Work the tracer itself does
inside a span (directory snapshots) is subtracted from every open span.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0
    excluded: float = 0.0  # tracer work inside the span
    py4j_start: int = 0
    py4j_end: int = 0
    children: list[int] = field(default_factory=list)
    table: dict | None = None  # storage counters of a table write
    rows_returned: int = 0  # result rows of a read statement

    @property
    def wall(self) -> float:
        return self.end - self.start - self.excluded


class NullTracer:
    """Untraced runs: no wrappers, no job groups, no counters."""

    enabled = False
    phase = "setup"

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._py4j = 0
        self._counting = True
        self._restore: list[tuple[object, str, object]] = []
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            # memory commands release proxies when Python's GC runs, at no
            # fixed point of the program; counting them would make the
            # count differ between identical runs
            if self._counting and not command.startswith("m\n"):
                self._py4j += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._restore.append((client, "send_command", None))

    # -- spans -----------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        self._counting = False
        try:
            if span is None:
                sc._jsc.clearJobGroup()
            else:
                sc._jsc.setJobGroup(str(span.sid), span.name, False)
        finally:
            self._counting = True

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, self.phase, 0.0)
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp.sid)
        t0 = time.perf_counter()
        self._set_group(sp)
        self._exclude(time.perf_counter() - t0)
        self._stack.append(sp)
        sp.py4j_start = self._py4j
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j_end = self._py4j
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            # restoring the job group is tracer work inside the parent
            if self._stack:
                self._exclude(time.perf_counter() - sp.end)

    def _exclude(self, seconds: float) -> None:
        for open_span in self._stack:
            open_span.excluded += seconds

    @contextmanager
    def untimed(self):
        """Tracer work: excluded from open spans' time and py4j counts."""
        t0 = time.perf_counter()
        self._counting = False
        try:
            yield
        finally:
            self._counting = True
            self._exclude(time.perf_counter() - t0)

    def in_table_write(self) -> bool:
        return any(s.table is not None for s in self._stack)

    # -- wrappers --------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def wrap_sql(self, lakehouse_cls) -> None:
        """``Lakehouse.sql`` spans named by statement kind; a REFRESH
        statement is also the ``sources.mv`` layer's span."""
        orig = lakehouse_cls.__dict__["sql"]
        tracer = self

        def traced(self_, statement, *args, **kwargs):
            kind = statement.split(None, 1)[0].lower() if statement.strip() else "empty"
            name = "sources.mv.refresh" if kind == "refresh" else f"sources.sql.{kind}"
            with tracer.span(name):
                return orig(self_, statement, *args, **kwargs)

        lakehouse_cls.sql = traced
        self._restore.append((lakehouse_cls, "sql", orig))

    def wrap_table_write(self, table_cls, op: str) -> None:
        """A ``ParquetTable`` write: besides the span, the outermost table
        write records what it left on disk (bytes and files added, DV
        masks, rows written per row changed) from a directory diff and
        the new commits' history metrics."""
        orig = table_cls.__dict__[op]
        tracer = self

        def traced(self_, *args, **kwargs):
            if tracer.in_table_write():
                with tracer.span(f"sources.tables.{op}"):
                    return orig(self_, *args, **kwargs)
            with tracer.untimed():
                before = _tree(self_.root)
            with tracer.span(f"sources.tables.{op}") as sp:
                sp.table = {}
                result = orig(self_, *args, **kwargs)
            with tracer.untimed():
                sp.table = _table_delta(self_, before, _tree(self_.root))
            return result

        setattr(table_cls, op, traced)
        self._restore.append((table_cls, op, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._restore.clear()

    # -- status store ------------------------------------------------------

    def spark_activity(self) -> tuple[list[dict], dict[int, dict]]:
        """Jobs and stages from Spark's status store, as JSON in one call
        each (no per-field py4j traffic)."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        self._counting = False
        try:
            store = sc._jsc.sc().statusStore()
            mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            mapper.registerModule(getattr(scala, "MODULE$"))
            jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
            no_quantiles = sc._gateway.new_array(jvm.double, 0)
            stages = json.loads(
                mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
            )
        finally:
            self._counting = True
        by_stage: dict[int, dict] = defaultdict(
            lambda: {"cpu_ns": 0, "shuffle_write": 0, "input_rows": 0}
        )
        for st in stages:
            agg = by_stage[st["stageId"]]
            agg["cpu_ns"] += st.get("executorCpuTime", 0)
            agg["shuffle_write"] += st.get("shuffleWriteBytes", 0)
            agg["input_rows"] += st.get("inputRecords", 0)
        return jobs, dict(by_stage)

    def dump(self, path: str, jobs: list[dict]) -> None:
        """Write the spans (one JSON object a line) and the job list."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "run": self.run_id,
                            "id": s.sid,
                            "name": s.name,
                            "parent": s.parent,
                            "phase": s.phase,
                            "start": s.start,
                            "end": s.end,
                            "excluded": s.excluded,
                            "py4j_calls": s.py4j_end - s.py4j_start,
                            "table": s.table,
                        }
                    )
                    + "\n"
                )
            for j in jobs:
                fh.write(json.dumps({"run": self.run_id, "job": j}) + "\n")


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def _table_delta(table, before: dict[str, int], after: dict[str, int]) -> dict:
    # commit JSON and change-data files carry commit timestamps, so their
    # sizes vary between identical runs; bytes_written counts the data,
    # deletion-vector and stats files
    new = [p for p, size in after.items() if before.get(p) != size]
    cdc_dir = os.path.join(table.root, "_change_data") + os.sep
    data_dir = os.path.join(table.root, "data") + os.sep
    rows_written = sum(
        pq.read_metadata(p).num_rows for p in new if p.startswith(data_dir) and p.endswith(".parquet")
    )
    versions = {
        int(os.path.basename(p)[1:-5])
        for p in new
        if os.path.basename(os.path.dirname(p)) == "_manifest" and os.path.basename(p).startswith("v")
    }
    files_added = files_dv = rows_changed = 0
    if versions:
        for c in table.history(limit=len(versions)):
            if c.version in versions:
                m = c.metrics or {}
                files_added += m.get("files_added", 0)
                files_dv += m.get("files_dv_masked", 0)
                rows_changed += sum(m.get(k, 0) for k in ("rows_updated", "rows_inserted", "rows_deleted"))
    return {
        "bytes_written": sum(
            after[p] for p in new if not (p.endswith(".json") or p.startswith(cdc_dir))
        ),
        "files_added": files_added,
        "files_dv_masked": files_dv,
        "rows_written": rows_written,
        "rows_changed": rows_changed,
    }


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(tracer: Tracer, jobs: list[dict], stages: dict[int, dict]) -> dict[int, dict]:
    """Per-span inclusive counters: wall, self and driver seconds, Spark
    jobs, executor CPU, shuffle bytes written, input rows, py4j calls.

    ``driver_s`` is wall time minus the union of the intervals of the
    Spark jobs attributed to the span or its descendants.  Job intervals
    come from the JVM's clock; only the length of their union is used, so
    it need not agree with the monotonic clock the spans use.
    """
    own_jobs: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        g = j.get("jobGroup")
        if g is not None and g.isdigit():
            own_jobs[int(g)].append(j)
    out: dict[int, dict] = {}
    for sp in reversed(tracer.spans):  # children are created after parents
        js = list(own_jobs.get(sp.sid, []))
        child_wall = 0.0
        for c in sp.children:
            js.extend(out[c]["_jobs"])
            child_wall += tracer.spans[c].wall
        stage_ids = {s for j in js for s in j.get("stageIds", [])}
        intervals = [
            (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
            for j in js
            if j.get("submissionTime") and j.get("completionTime")
        ]
        spark_s = min(union_seconds(intervals), sp.wall)
        out[sp.sid] = {
            "_jobs": js,
            "wall_s": sp.wall,
            "self_s": max(0.0, sp.wall - child_wall),
            "driver_s": max(0.0, sp.wall - spark_s),
            "spark_jobs": len(js),
            "py4j_calls": sp.py4j_end - sp.py4j_start,
            "executor_cpu_s": sum(stages.get(s, {}).get("cpu_ns", 0) for s in stage_ids) / 1e9,
            "shuffle_write_bytes": sum(stages.get(s, {}).get("shuffle_write", 0) for s in stage_ids),
            "input_rows": sum(stages.get(s, {}).get("input_rows", 0) for s in stage_ids),
        }
    return out

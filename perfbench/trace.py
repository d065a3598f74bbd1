"""Outside-in tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``Tracer.wrap`` swaps
each traced name at the point where its caller resolves it (a module
global or a class attribute) for a wrapper that opens a span. Nothing
inside the program changes. Spans live in memory as
``(id, name, start, end, parent, op)`` rows and are written out when
the run ends.

Spark work is attributed with job groups: a span marked ``jobs=True``
sets ``sc.setJobGroup`` for its duration, and the uncompressed event
log maps each job, stage and task back to the group, so to its span.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [id, name, start, end, parent, op]
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._groups: list[str | None] = []
        self.sc = None

    # --- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        row = [sid, name, time.perf_counter(), None, parent, self.op]
        self.spans.append(row)
        self._stack.append(sid)
        if jobs and self.sc is not None:
            self._groups.append(self.sc.getLocalProperty("spark.jobGroup.id"))
            self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            if jobs and self.sc is not None:
                prev = self._groups.pop()
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, "")
            self._stack.pop()
            row[3] = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, jobs: bool = False) -> None:
        """Replace ``owner.attr`` with a span-opening wrapper. A call
        re-entering the same name (a recursive function) stays inside
        the outer span, so recursion is not counted twice."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.active or (
                tracer._stack and tracer.spans[tracer._stack[-1]][1] == name
            ):
                return fn(*a, **kw)
            with tracer.span(name, jobs):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["id", "name", "start", "end", "parent", "op"], "spans": self.spans}, fh)

    # --- analysis ------------------------------------------------------

    def op_spans(self) -> dict[int, list[list]]:
        by_op: dict[int, list[list]] = defaultdict(list)
        for s in self.spans:
            if s[5] is not None and s[3] is not None:
                by_op[s[5]].append(s)
        return by_op

    def self_times(self, spans: list[list]) -> dict[str, float]:
        """Seconds of self time per span name: each span's duration
        minus that of its direct children (calls on one thread nest,
        so children never overlap)."""
        child = defaultdict(float)
        for s in spans:
            if s[4] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s[1]] += (s[3] - s[2]) - child[s[0]]
        return dict(out)

    def inclusive(self, spans: list[list], name: str) -> float:
        """Seconds inside outermost spans called ``name``."""
        ids = {s[0] for s in spans if s[1] == name}
        return sum(s[3] - s[2] for s in spans if s[1] == name and s[4] not in ids)

    def span_of_group(self, group: str | None) -> list | None:
        if not group or not group.startswith("span-"):
            return None
        return self.spans[int(group[5:])]

    def ancestors(self, span: list):
        while span is not None:
            yield span
            span = self.spans[span[4]] if span[4] is not None else None


def install_program_wrappers(tr: Tracer) -> None:
    """Wrap the program's public entry points where the benchmark's
    workloads (or the program's own modules) resolve them."""
    from pyspark.sql import DataFrameWriter, SparkSession

    from load_datawarehouse_spark import warehouse
    from load_datawarehouse_spark.warehouse import SparkWarehouse

    tr.wrap(warehouse, "prepare", "data.prepare")
    tr.wrap(warehouse, "clean_dataframe_keys", "data.clean_dataframe_keys")
    tr.wrap(warehouse, "infer_schema", "schema_infer.infer_schema")
    tr.wrap(warehouse, "infer_schema_distributed", "schema_infer.infer_distributed", jobs=True)
    tr.wrap(warehouse, "_conform_record", "warehouse.conform")
    tr.wrap(SparkWarehouse, "load", "warehouse.load", jobs=True)
    tr.wrap(SparkWarehouse, "merge", "warehouse.merge", jobs=True)
    tr.wrap(SparkSession, "createDataFrame", "spark.create_df", jobs=True)
    tr.wrap(DataFrameWriter, "parquet", "spark.write", jobs=True)


# --- event log ---------------------------------------------------------------

EXEC_FIELDS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def read_event_log(log_dir: str) -> tuple[dict[int, str | None], dict[int, dict[str, float]]]:
    """(job id -> job group, job id -> summed task metrics) from the
    uncompressed event log(s) under ``log_dir``."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0.0))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    per_job[jid]  # every job is listed, even one with no tasks
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if jid is None:
                        continue
                    acc = per_job[jid]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["tasks"] += 1
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return job_group, dict(per_job)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution, as its tracker recorded them when ``df`` ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[k] = float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
    return out


def storage_used_mb(spark) -> float:
    """Block-manager storage memory in use over all executors."""
    infos = spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos()
    used = sum(i.usedOnHeapStorageMemory() + i.usedOffHeapStorageMemory() for i in infos)
    return used / (1 << 20)

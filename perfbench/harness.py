"""One benchmark run of one workload, in a fresh process.

``run.py`` starts this module with the environment set (see there).
Phases, in order:

1. input generation (harness side, untimed);
2. set-up: session start, fixtures and one cold call of each op type,
   timed together as ``setup_s``;
3. warm-up, untimed (``harness.warmup_s``); the query suite's DuckDB
   oracle check runs here;
4. the timed phase: a closed loop for ``--seconds`` seconds (the
   query suite finishes the pass it is in);
5. final output checks.

With ``--trace 1`` the program's entry points are wrapped
(``trace.py``), Spark's event log is on, and the timed phase
alternates untraced and traced ops (whole passes for the query
suite), so the tracing overhead is measured in the same process.

The last line of standard output is the result object; the line
before it (``{"detail": ...}``) carries sample counts, the tail
percentile, the per-op layer self times and the run's environment.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

T_START = time.perf_counter()

from perfbench import trace as tracemod  # noqa: E402
from perfbench.workloads import WORKLOADS, QuerySuite, suite_expected_rows  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "throughput_ops_per_s": "1/s",
    "throughput_rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond
    it. Below 20 samples that percentile would sit under the median,
    so the median is reported instead."""
    if n < 20:
        return 50
    return min(99, math.floor(100 * (n - 10) / n))


def tail_value(sorted_xs: list[float], pct: int) -> float:
    """Nearest-rank value at ``pct``; the median itself at 50."""
    if pct == 50:
        return statistics.median(sorted_xs)
    return sorted_xs[math.ceil(pct / 100 * len(sorted_xs)) - 1]


def e2e_from_ops(ops: list[dict], wall: float | None = None) -> tuple[dict[str, float], dict]:
    """Op metrics over closed-loop ops. Throughput divides by the timed
    wall time, which also holds the client's own work between ops
    (drawing the next input, checking the output). Without ``wall``,
    that is the summed cycle time of ``ops``."""
    lat = sorted(o["s"] for o in ops)
    if wall is None:
        wall = sum(o["cycle"] for o in ops)
    pct = tail_percentile(len(lat))
    values = {
        "throughput_ops_per_s": len(lat) / wall,
        "throughput_rows_per_s": sum(o["rows"] for o in ops) / wall,
        "latency_p50_ms": statistics.median(lat) * 1e3,
        "latency_tail_ms": tail_value(lat, pct) * 1e3,
    }
    return values, {"samples": len(lat), "tail_percentile": pct, "wall_s": round(wall, 4), "busy_s": round(sum(lat), 4)}


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def per_layer_names(queries: list[str]) -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    names = {
        "session.start_s": "s",
        "data.prepare_ms": "ms",
        "schema_infer.infer_ms": "ms",
        "schema_infer.fields": "count",
        "warehouse.conform_ms": "ms",
        "warehouse.load_self_ms": "ms",
        "warehouse.bytes_written_per_user_byte": "ratio",
        "warehouse.data_files": "count",
        "warehouse.table_bytes_per_row": "B/row",
        "spark.create_df_ms": "ms",
        "spark.write_ms": "ms",
        "spark.jobs_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.exec.run_ms": "ms",
        "spark.exec.cpu_ms": "ms",
        "spark.exec.gc_ms": "ms",
        "spark.exec.shuffle_read_bytes": "B",
        "spark.exec.shuffle_write_bytes": "B",
        "spark.exec.spill_bytes": "B",
        "spark.storage_used_mb": "MB",
    }
    for q in queries:
        for phase in ("analysis", "optimization", "planning"):
            names[f"spark.catalyst.{phase}_ms.{q}"] = "ms"
    for q in queries:
        names[f"ops.build_ms.{q}"] = "ms"
        names[f"ops.action_ms.{q}"] = "ms"
        names[f"ops.build_jobs.{q}"] = "count"
    names["harness.warmup_s"] = "s"
    names["harness.cpu_steal_pct"] = "%"
    names["harness.unattributed_pct"] = "%"
    for m in E2E_UNITS:
        names[f"harness.tracing_overhead_pct.{m}"] = "%"
    return names


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args, workload=None) -> None:
        self.args = args
        self.traced = bool(args.trace)
        self.tr = tracemod.Tracer()
        self.wl = workload or WORKLOADS[args.workload](args.seed, args.work, self.tr)
        self.ops: list[dict] = []  # timed ops
        self.untimed = {"attempted": 0, "failed": 0}
        self.problems: list[str] = []
        self.catalyst: dict[str, list[dict]] = {}
        self.env: dict = {}

    # --- ops ------------------------------------------------------------

    def one_op(self, op_id: int, traced: bool) -> dict:
        c0 = time.perf_counter()
        op = self.wl.next_op()
        self.tr.active, self.tr.op = traced, op_id
        err, rows = None, 0
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{op.kind}", jobs=True):
                rows = self.wl.run_op(op)
        except Exception as exc:  # a failed op is counted, not fatal
            err = f"{op.kind}: {type(exc).__name__}: {exc}"[:300]
        dt = time.perf_counter() - t0
        self.tr.active = False
        problems = [err] if err else self.wl.check(op, rows)
        if op_id < 0:
            self.env.setdefault("untimed_ops", []).append((op.kind, round(dt, 3)))
        if traced and op_id >= 0 and not err and getattr(self.wl, "last_df", None) is not None:
            self.catalyst.setdefault(op.kind, []).append(tracemod.catalyst_phases_ms(self.wl.last_df))
        self.problems.extend(problems[:3])
        cycle = time.perf_counter() - c0
        return {"id": op_id, "kind": op.kind, "s": dt, "cycle": cycle, "rows": rows, "ok": not problems, "traced": traced}

    def untimed_op(self, op_id: int) -> None:
        ok = self.one_op(op_id, self.traced and op_id == -2)["ok"]
        self.untimed["attempted"] += 1
        self.untimed["failed"] += not ok

    # --- phases -----------------------------------------------------------

    def run(self) -> None:
        wl, args = self.wl, self.args
        t = time.perf_counter()
        wl.inputs()
        gen_s = time.perf_counter() - t

        from load_datawarehouse_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.traced:
            self.eventlog = os.path.join(args.work, "eventlog")
            os.makedirs(self.eventlog)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START - gen_s
        if self.traced:
            self.tr.sc = self.spark.sparkContext
            tracemod.install_program_wrappers(self.tr)

        t = time.perf_counter()
        self.tr.active, self.tr.op = self.traced, -1
        with self.tr.span("setup.fixtures", jobs=True):
            wl.fixtures(self.spark)
        self.tr.active = False
        fixtures_s = time.perf_counter() - t

        t = time.perf_counter()
        for _ in range(wl.kinds):  # one cold call of each op type
            self.untimed_op(-2)
        cold_s = time.perf_counter() - t
        self.setup_s = session_s + fixtures_s + cold_s

        t = time.perf_counter()
        oracle_bad: dict[str, str] = {}
        if isinstance(wl, QuerySuite):
            oracle_bad = wl.oracle_check()
            self.env["oracle_s"] = round(time.perf_counter() - t, 3)
            self.problems.extend(f"oracle mismatch {n}: {why}" for n, why in oracle_bad.items())
        for _ in range(wl.warmup_ops):
            self.untimed_op(-3)
        self.warmup_s = time.perf_counter() - t

        steal0, tot0 = cpu_times()
        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        # a traced run needs at least one untraced and one traced group
        min_ops = 2 * wl.kinds if self.traced else 1
        k = 0
        while k < min_ops or not (wl.at_boundary() and time.perf_counter() >= deadline):
            self.ops.append(self.one_op(k, self.traced and (k // wl.kinds) % 2 == 1))
            k += 1
        self.timed_wall = time.perf_counter() - t0
        steal1, tot1 = cpu_times()

        final = wl.final_check()
        self.problems.extend(final)
        for o in self.ops:
            # a wrong final table or a wrong oracle match fails the ops
            # that produced it
            if final or o["kind"] in oracle_bad:
                o["ok"] = False
        self.env |= {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_version": self.spark.version,
            "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, tot1 - tot0),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "gen_s": round(gen_s, 3),
            "session_s": round(session_s, 3),
            "fixtures_s": round(fixtures_s, 3),
            "cold_s": round(cold_s, 3),
            "warmup_s": round(self.warmup_s, 3),
            "timed_wall_s": round(self.timed_wall, 3),
        }
        if hasattr(wl, "summary"):
            self.env |= wl.summary(len(self.ops))
        self.storage_mb = tracemod.storage_used_mb(self.spark)
        self.session_s = session_s

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # --- results ----------------------------------------------------------

    def counts(self) -> tuple[int, int]:
        attempted = len(self.ops) + self.untimed["attempted"]
        failed = sum(not o["ok"] for o in self.ops) + self.untimed["failed"]
        return attempted, failed

    def e2e(self) -> tuple[dict[str, float], dict]:
        values, info = e2e_from_ops(self.ops, self.timed_wall)
        return {"setup_s": self.setup_s, **values}, info

    def per_layer(self) -> tuple[dict[str, float], dict]:
        tr = self.tr
        job_group, per_job = tracemod.read_event_log(self.eventlog)
        traced = [o for o in self.ops if o["traced"]]
        plain = [o for o in self.ops if not o["traced"]]
        by_op = tr.op_spans()

        # Spark jobs -> the op (and the outermost named span) they ran in
        op_jobs: dict[int, list[dict]] = {}
        build_jobs: dict[int, int] = {}
        for jid, group in job_group.items():
            span = tr.span_of_group(group)
            if span is None or span[5] is None:
                continue
            op_jobs.setdefault(span[5], []).append(per_job[jid])
            if any(s[1] == "ops.build" for s in tr.ancestors(span)):
                build_jobs[span[5]] = build_jobs.get(span[5], 0) + 1

        self_times, gaps = [], []
        for o in traced:
            spans = by_op.get(o["id"], [])
            st = tr.self_times(spans)
            self_times.append(st)
            gaps.append(100.0 * st.get(f"op.{o['kind']}", 0.0) / o["s"])

        def per_op(name: str, inclusive: bool = False) -> float:
            vals = []
            for o in traced:
                spans = by_op.get(o["id"], [])
                vals.append(tr.inclusive(spans, name) if inclusive else tr.self_times(spans).get(name, 0.0))
            return _median(vals) * 1e3

        def exec_median(field: str) -> float:
            return _median(sum(j[field] for j in op_jobs.get(o["id"], [])) for o in traced)

        stats = self.wl.table_stats()
        rows = stats["rows"] or 1
        m = {
            "session.start_s": self.session_s,
            "data.prepare_ms": per_op("data.prepare", inclusive=True),
            "schema_infer.infer_ms": per_op("schema_infer.infer_schema", inclusive=True),
            "schema_infer.fields": float(stats.get("fields", 0)),
            "warehouse.conform_ms": per_op("warehouse.conform", inclusive=True),
            "warehouse.load_self_ms": per_op("warehouse.load"),
            "warehouse.bytes_written_per_user_byte": stats["bytes_written"] / stats["user_bytes"] if stats["user_bytes"] else 0.0,
            "warehouse.data_files": float(stats["files"]),
            "warehouse.table_bytes_per_row": stats["bytes"] / rows if stats["rows"] else 0.0,
            "spark.create_df_ms": per_op("spark.create_df", inclusive=True),
            "spark.write_ms": per_op("spark.write", inclusive=True),
            "spark.jobs_per_op": _median(len(op_jobs.get(o["id"], [])) for o in traced),
            "spark.tasks_per_op": exec_median("tasks"),
            "spark.exec.run_ms": exec_median("run_ms"),
            "spark.exec.cpu_ms": exec_median("cpu_ms"),
            "spark.exec.gc_ms": exec_median("gc_ms"),
            "spark.exec.shuffle_read_bytes": exec_median("shuffle_read_bytes"),
            "spark.exec.shuffle_write_bytes": exec_median("shuffle_write_bytes"),
            "spark.exec.spill_bytes": exec_median("spill_bytes"),
            "spark.storage_used_mb": self.storage_mb,
        }
        queries = list(suite_expected_rows())
        for q in queries:
            phases = self.catalyst.get(q, [])
            for phase in ("analysis", "optimization", "planning"):
                m[f"spark.catalyst.{phase}_ms.{q}"] = _median(p[phase] for p in phases)
        for q in queries:
            q_ops = [o for o in traced if o["kind"] == q]
            m[f"ops.build_ms.{q}"] = _median(tr.inclusive(by_op.get(o["id"], []), "ops.build") for o in q_ops) * 1e3
            m[f"ops.action_ms.{q}"] = _median(tr.inclusive(by_op.get(o["id"], []), "ops.action") for o in q_ops) * 1e3
            m[f"ops.build_jobs.{q}"] = _median(build_jobs.get(o["id"], 0) for o in q_ops)
        m["harness.warmup_s"] = self.warmup_s
        m["harness.cpu_steal_pct"] = self.env["cpu_steal_pct"]
        m["harness.unattributed_pct"] = _median(gaps)
        on, _ = e2e_from_ops(traced)
        off, _ = e2e_from_ops(plain)
        for k in on:
            # positive when tracing made the metric worse
            worse = off[k] - on[k] if k.startswith("throughput") else on[k] - off[k]
            m[f"harness.tracing_overhead_pct.{k}"] = 100.0 * worse / off[k]
        m["harness.tracing_overhead_pct.setup_s"] = self.setup_overhead_pct()

        layers: dict[str, float] = {}
        for st in self_times:
            for name, s in st.items():
                layers[name] = layers.get(name, 0.0) + s
        n = max(1, len(self_times))
        wall = sum(o["s"] for o in traced) / n
        info = {
            "traced_ops": len(traced),
            "untraced_ops": len(plain),
            "mean_op_wall_ms": round(wall * 1e3, 3),
            "mean_self_ms_by_span": {k: round(v / n * 1e3, 3) for k, v in sorted(layers.items())},
            "self_time_sum_pct_of_wall": round(100.0 * sum(layers.values()) / n / wall, 3) if wall else 0.0,
            "unattributed_pct": round(m["harness.unattributed_pct"], 3),
            "fixtures_self_ms_by_span": {k: round(v * 1e3, 3) for k, v in sorted(tr.self_times(by_op.get(-1, [])).items())},
            "traced_e2e": on,
            "untraced_e2e": off,
        }
        return m, info

    def setup_overhead_pct(self) -> float:
        """Traced ``setup_s`` against the last untraced run of this
        workload in this checkout; 0 when there is none yet."""
        path = last_setup_path(self.args.workload)
        try:
            with open(path) as fh:
                base = json.load(fh)["setup_s"]
        except (OSError, ValueError, KeyError):
            return 0.0
        return 100.0 * (self.setup_s - base) / base


def last_setup_path(workload: str) -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_build", "perfbench", f"last-setup-{workload}.json")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    args = p.parse_args(argv)

    run = Run(args)
    try:
        run.run()
    finally:
        if getattr(run, "spark", None) is not None:
            run.stop()
    attempted, failed = run.counts()
    e2e, info = run.e2e()
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **info, "env": run.env, "problems": run.problems[:20], "timed_ops": [(o["kind"], round(o["s"], 3)) for o in run.ops]}
    if args.trace:
        values, detail["layers"] = run.per_layer()
        units = per_layer_names(list(suite_expected_rows()))
        tracemod_path = os.path.join(os.path.dirname(last_setup_path(args.workload)), f"trace-{args.workload}-{args.seed}.json")
        run.tr.write(tracemod_path)
        detail["spans_file"] = tracemod_path
    else:
        values, units = e2e, E2E_UNITS
        os.makedirs(os.path.dirname(last_setup_path(args.workload)), exist_ok=True)
        with open(last_setup_path(args.workload), "w") as fh:
            json.dump({"setup_s": run.setup_s}, fh)
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0 and not run.problems, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload ingest_records --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It starts ``perfbench.harness`` in
a fresh process with the environment the repository's tier-1 command
uses (``SPARK_GRAFT_CPUS`` = usable cores, ``SPARK_LOCAL_DIRS``), the
checkout on ``PYTHONPATH`` so Spark's Python workers can import the
package, and every scratch path (warehouse root, Spark local dirs,
temporary files, the event log) under one fresh directory in
``.bench_build/perfbench/``. The directory is removed afterwards and
every process the run started is stopped. The result line is printed
only when the run finished; otherwise the exit code is not 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the run must end within 180 s; leave room to stop and clean up
DEADLINE_S = 165
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
NEEDED = ("load_datawarehouse_spark", "__spark_entry__.py", os.path.join("tests", "oracle_harness.py"))


def _stop_group(pgid: int) -> None:
    """Terminate what is left of the child's process group and wait
    until it is gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [n for n in NEEDED if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        PYSPARK_PYTHON=sys.executable,
        # the same str hashes in every run, so dict and set layouts repeat
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # the JVM's temp files and perf-data file stay in the run's directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, "-m", "perfbench.harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ]
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = child.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
        out, rc = "", 1
    else:
        rc = child.returncode
    finally:
        _stop_group(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stderr.write(out)
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return rc or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())

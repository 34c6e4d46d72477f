#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 12 --trace 0

Runs one workload (see ``worker.py``) in a child process whose scratch
space (TMPDIR, Spark local dirs, JVM temp dir, cwd / spark-warehouse,
DuckDB temp dir) is a fresh directory inside the checkout, deleted
afterwards.  The run fails if it leaves anything behind in the checkout or
in the system temp dir.  The last line of stdout is the result JSON:
``{"correct", "attempted", "failed", "metrics"}``.  Exit code 0 only if
every correctness check passed.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "realtime_analytics_with_kafka_clickhouse_spark"
SCRATCH_ROOT = os.path.join(ROOT, ".perfbench_scratch")
WORKLOADS = ("ingest_backlog", "dashboard")
CPUS = min(2, len(os.sched_getaffinity(0)))  # Spark task threads: fixed, at most nproc
DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 170
# Names the engine's stack (Spark, the JVM, DuckDB, the engine's own scratch
# roots) would create in the system temp dir if it escaped the run's TMPDIR.
TMP_PATTERNS = ("spark*", "blockmgr-*", "hsperfdata_*", "*snappy*", "*lz4*", "*zstd*",
                "duckdb*", "pyspark*", "jansi*", "liblz4*")


def _tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, dirs, files in os.walk(root):
        skip = (SCRATCH_ROOT, os.path.join(ROOT, ".git"))
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _tmp_entries() -> set[str]:
    tmp = tempfile.gettempdir()
    return {n for n in os.listdir(tmp) if any(fnmatch.fnmatch(n, p) for p in TMP_PATTERNS)}


def _kill_group(child: subprocess.Popen) -> None:
    """Stop the child's whole process group (the JVM included) and wait
    until every member is gone."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(child.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: program package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    # A terminated benchmark still stops its child group and cleans up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tree_before, tmp_before = _tree(ROOT), _tmp_entries()
    run_dir = os.path.join(SCRATCH_ROOT, f"run-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "cwd", "work")}
    for d in dirs.values():
        os.makedirs(d)
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "child.log")
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        TZ="UTC",
        PERFBENCH_SPAWN_WALL=repr(time.time()),
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", dirs["work"], "--result", result_path]
    result = record = None
    try:
        with open(log_path, "w") as log:
            child = subprocess.Popen(cmd, cwd=dirs["cwd"], env=env, stdout=log,
                                     stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                # The JVM and anything else the child started share its
                # process group: stop them all and wait for the child.
                _kill_group(child)
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                out = json.load(f)
            result, record = out["result"], out["record"]
            for problem in out["problems"]:
                print(f"perfbench: {problem}", file=sys.stderr)
        else:
            with open(log_path, errors="replace") as f:
                tail = f.read()[-6000:]
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: worker {why}\n{tail}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_ROOT)
        except OSError:
            pass
    if result is None:
        return 1

    leaked = sorted(set(_tree(ROOT).items()) ^ set(tree_before.items()))
    leaked_tmp = sorted(_tmp_entries() - tmp_before)
    result["attempted"] += 1
    if leaked or leaked_tmp:
        print(f"perfbench: run left files behind: tree={leaked[:5]} tmp={leaked_tmp[:5]}",
              file=sys.stderr)
        result["failed"] += 1
        result["correct"] = False
    if record is not None:
        print(json.dumps({"trace_record": record}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""One benchmark run, inside the isolated child process ``run.py`` starts.

Workloads (each drives the program only through its public entry points):

* ``ingest_backlog`` - closed loop.  Wire files of ``BACKLOG_FILE_LINES``
  orders are staged, then one ``run_wire_stream_pipeline`` call drains them,
  one micro-batch per file.  Measures the drain rate; per-row work
  dominates.
* ``dashboard`` - closed loop, one client.  Refreshes the five reference
  panels from ``__spark_entry__.queries()`` over an ``events`` table of
  ``DASHBOARD_ROWS`` rows; read side only.

End-to-end metrics are measured untraced.  With ``--trace 1`` the run
alternates untraced and traced ops; traced ops record spans around the
layers' public functions and read Spark's status store, and the per-layer
numbers come from them (the traced/untraced difference is the tracing
overhead).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import time
from contextlib import nullcontext
from decimal import Decimal

import gen

T_ENTRY = time.time()
SPAWN_WALL = float(os.environ.get("PERFBENCH_SPAWN_WALL", T_ENTRY))
PKG = "realtime_analytics_with_kafka_clickhouse_spark"

BACKLOG_FILE_LINES = 25_000
BACKLOG_NOMINAL_FILE_S = 2.5  # drain time of one file on a 4-core box at local[2]
# Set-up: a cold call of one small file (class loading, code generation,
# the first state store), then a warm call of full files (JIT tier-up of the
# per-row path).
BACKLOG_COLD_FILE_LINES = 2_500
BACKLOG_WARMUP_FILES = 3
DASHBOARD_ROWS = 100_000  # the sf0.1 events table size
DASHBOARD_WARMUP_ROUNDS = 5
PANELS = ("global_totals", "category_revenue_share", "region_revenue_sorted",
          "hourly_trend", "hourly_trend_from_rollup")
E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p75_ms": "ms",
             "orders_per_s": "1/s", "live_heap_mb": "MB", "stored_bytes_per_order": "B"}
# The per-layer metrics every workload reports (``--trace 1``); the
# workload-specific ones go to the trace record only.
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.executor_run_ms_per_op": "ms", "spark.executor_cpu_ms_per_op": "ms",
    "spark.jvm_gc_ms_per_op": "ms", "spark.shuffle_bytes_per_op": "B",
    "spark.driver_ms_per_op": "ms", "sources.ms_per_op": "ms",
    "storage.fs_calls_per_op": "count", "storage.fs_ms_per_op": "ms",
    "op.unattributed_ms_per_op": "ms", "harness.tracing_overhead_pct": "%",
    "harness.half_drift_pct": "%",
}
FS_FUNCS = ("exists", "delete", "rename", "mkdirs", "list_dir", "read_text", "write_text",
            "recover_latest_swap", "cleanup_swaps", "swap_tmp_path", "swap_in")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def quantile(values: list[float], q: float) -> float:
    """Interpolated quantile (``statistics.quantiles`` inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Run:
    """State shared by every workload: session, listener, tracer, op log."""

    def __init__(self, args) -> None:
        self.args = args
        self.work = args.work
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.ops: list[dict] = []  # measured ops only
        self.layer: dict[str, float] = {}
        self.sizing: dict[str, object] = {}
        self.gen_s = 0.0  # time spent making inputs, excluded from setup_s
        self.rollup_writes: list[tuple[int, int]] = []  # (op id, rollup bytes) per merge
        self._op_ids = itertools.count(1)

    # -- set-up ---------------------------------------------------------
    def start_session(self) -> None:
        t0 = time.time()
        from realtime_analytics_with_kafka_clickhouse_spark.session import get_spark
        from tracing import ProgressLog, Tracer

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.progress = ProgressLog()
        self.spark.streams.addListener(self.progress)
        self.tracer = Tracer()
        if self.trace:
            self._install_wrappers()
        self.layer["session.start_s"] = time.time() - t0 + (T_ENTRY - SPAWN_WALL)

    def _install_wrappers(self) -> None:
        import importlib

        fs = importlib.import_module(f"{PKG}.storage.fs")
        txlog = importlib.import_module(f"{PKG}.storage.txlog")
        pipeline = importlib.import_module(f"{PKG}.streaming.pipeline")
        rollups = importlib.import_module(f"{PKG}.operators.rollups")
        normalize = importlib.import_module(f"{PKG}.operators.normalize")
        w = self.tracer.wrap
        for name in FS_FUNCS:
            w(fs, name, f"fs.{name}")
        # load_table is bound by name into each module that imported it.
        for mod in (rollups, pipeline):
            w(mod, "load_table", "sources.load_table")
        w(txlog, "read_table", "txlog.read_table")
        w(txlog, "merge_rollup_tx", "txlog.merge_rollup_tx")
        w(txlog, "vacuum", "txlog.vacuum")
        w(pipeline, "merge_rollup", "pipeline.merge_rollup", after=self._rollup_written)
        w(normalize, "parse_wire_with_dlq", "normalize.parse_wire_with_dlq")
        w(normalize, "normalize_orders", "normalize.normalize_orders")

    def _rollup_written(self, spark, rollup_dir: str, *args, **kwargs) -> None:
        """After a traced merge: the merge rewrote the whole rollup, so its
        new size is the bytes that merge wrote."""
        if self.tracer.op is not None:
            self.rollup_writes.append((self.tracer.op["id"], dir_bytes(rollup_dir)))

    # -- ops ------------------------------------------------------------
    def op(self, name: str, fn, traced: bool, measured: bool = True) -> dict:
        """Run one op (set-up ops too); a raised exception counts as a
        failed op.  Only measured ops enter ``self.ops``."""
        sc = self.spark.sparkContext
        rec = {"id": next(self._op_ids), "name": name, "traced": traced}
        group = f"perfbench-op-{rec['id']}"
        if traced:
            sc.setJobGroup(group, name)
        self.tracer.enabled = traced
        self.tracer.op = rec
        n_started = len(self.progress.started)
        rec["start"] = time.time()
        try:
            fn()
            rec["ok"] = True
        except Exception as exc:  # a failing op is reported, and the run goes on
            rec["ok"] = False
            self.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
        rec["end"] = time.time()
        self.tracer.enabled = False
        self.tracer.op = None
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec["groups"] = [group]
        rec["n_started"] = n_started
        self.attempted += 1
        self.failed += 0 if rec["ok"] else 1
        if measured:
            self.ops.append(rec)
        return rec

    def harvest(self, rec: dict, groups: list[str]) -> None:
        """Spark scheduler numbers for a traced op."""
        from tracing import job_stats, union_length

        tracker = self.spark.sparkContext.statusTracker()
        jobs = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        st = job_stats(self.spark, jobs)
        busy = union_length(st.pop("intervals"), rec["start"], rec["end"])
        st["driver_ms"] = 1000 * (rec["end"] - rec["start"] - busy)
        rec["spark"] = st

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"check failed: {what}")

    # -- per-layer summary ----------------------------------------------
    def generic_layers(self) -> None:
        """The per-op layer split every workload reports."""
        from tracing import self_times

        traced = [o for o in self.ops if o["traced"] and o["ok"]]
        untraced = [o for o in self.ops if not o["traced"] and o["ok"]]
        n = max(len(traced), 1)
        L = self.layer
        for key in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                    "jvm_gc_ms", "shuffle_bytes", "driver_ms"):
            L[f"spark.{key}_per_op"] = sum(o["spark"][key] for o in traced) / n
        fs_calls = fs_s = 0.0
        for o in traced:
            spans = self.tracer.op_spans(o["id"])
            by_id = {s["id"]: s for s in spans}
            for s in spans:
                if s["name"].startswith("fs."):
                    fs_calls += 1
                    parent = by_id.get(s["parent"])
                    if parent is None or not parent["name"].startswith("fs."):
                        fs_s += s["end"] - s["start"]
            o["self_s"] = self_times(spans)
        L["storage.fs_calls_per_op"] = fs_calls / n
        L["storage.fs_ms_per_op"] = 1000 * fs_s / n
        L["op.unattributed_ms_per_op"] = 1000 * statistics.fmean(
            [o["split"]["unattributed"] for o in traced]) if traced else 0.0
        L["harness.tracing_overhead_pct"] = 0.0
        if traced and untraced:
            # Means, not medians: traced and untraced ops alternate by round
            # or call, so both sides hold the same mix of ops.
            wall = [statistics.fmean([o["end"] - o["start"] for o in ops])
                    for ops in (traced, untraced)]
            L["harness.tracing_overhead_pct"] = 100 * (wall[0] / wall[1] - 1)

    def half_drift(self, samples: list[float]) -> None:
        """How far the second half of the measured samples' median is from
        the first half's: near 0 when set-up reached steady state.  The
        samples must be alike (ingest leaves out the call's first batch,
        which reloads the dedup state)."""
        half = len(samples) // 2
        ratio = (statistics.median(samples[half:]) / statistics.median(samples[:half])
                 if half else 1.0)
        self.sizing["second_over_first_half"] = ratio
        self.layer["harness.half_drift_pct"] = 100 * abs(ratio - 1)


# ---------------------------------------------------------------- ingest
class Ingest:
    """The ingest workload's dirs, input stream, calls and checks."""

    def __init__(self, run: Run, stream_name: str) -> None:
        self.run = run
        w = run.work
        self.src = f"{w}/src"
        self.raw, self.rollup, self.dlq, self.ck = (f"{w}/raw", f"{w}/rollup", f"{w}/dlq",
                                                    f"{w}/ck")
        os.makedirs(self.src)
        self.stream = gen.WireStream(run.args.seed, stream_name)
        self.n_files = 0
        self.calls = 0
        self._last_mtime_ns = 0

    def stage(self, lines: int) -> None:
        """Write the next file; strictly increasing mtimes keep the file
        source's arrival order equal to the generator's order."""
        name = f"part-{self.n_files:06d}.json"
        self.n_files += 1
        t = time.time()
        path = self.stream.write_file(self.src, name, lines)
        mtime = max(time.time_ns(), self._last_mtime_ns + 2_000_000)
        os.utime(path, ns=(mtime, mtime))
        self._last_mtime_ns = mtime
        self.run.gen_s += time.time() - t

    def call(self, traced: bool, measured: bool = True) -> dict:
        from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
            run_wire_stream_pipeline,
        )

        run = self.run
        rec = run.op(
            "pipeline.call",
            lambda: run_wire_stream_pipeline(run.spark, self.src, self.raw, self.rollup,
                                             self.dlq, self.ck),
            traced, measured)
        self.calls += 1
        # Listener events arrive asynchronously: wait for both queries'
        # termination before reading this call's progress.
        if not run.progress.wait_terminated(2 * self.calls):
            run.check(False, "query termination events not delivered")
        started = run.progress.started[rec["n_started"]:]
        rec["run_ids"] = {s["run_id"] for s in started}
        rec["batches"] = [p for p in run.progress.progress if p["run_id"] in rec["run_ids"]]
        if traced and measured and rec["ok"]:
            run.harvest(rec, sorted(rec["run_ids"]))
            rec["split"] = self.split(rec)
        return rec

    def split(self, rec: dict) -> dict:
        """The call's wall time along the main query's timeline; parts sum
        to the wall time."""
        main = sorted((b for b in rec["batches"] if b["main"]), key=lambda b: b["start"])
        spans = self.run.tracer.op_spans(rec["id"])
        wall = rec["end"] - rec["start"]
        parts = dict.fromkeys(("query_start", "latest_offset", "query_planning", "merge_rollup",
                               "raw_append", "wal_commit", "commit_offsets",
                               "nodata_batches"), 0.0)
        if main:
            parts["query_start"] = main[0]["start"] - rec["start"]
        merge = [(s["start"], s["end"]) for s in spans if s["name"] == "pipeline.merge_rollup"]
        for b in main:
            d = {k: v / 1000 for k, v in b["durations"].items()}
            if b["rows"] == 0:
                # Spark's extra batch when the watermark moved: it still runs
                # foreachBatch, so it rewrites the rollup with nothing new.
                parts["nodata_batches"] += d.get("triggerExecution", 0.0)
                continue
            b_end = b["start"] + d.get("triggerExecution", 0.0)
            m = sum(e - s for s, e in merge if b["start"] <= s < b_end)
            parts["latest_offset"] += d.get("latestOffset", 0.0)
            parts["query_planning"] += d.get("queryPlanning", 0.0)
            parts["merge_rollup"] += m
            parts["raw_append"] += max(d.get("addBatch", 0.0) - m, 0.0)
            parts["wal_commit"] += d.get("walCommit", 0.0)
            parts["commit_offsets"] += d.get("commitOffsets", 0.0)
        # The rest of the wall time: inside batches but outside the named
        # phases, between batches, and after the last batch (the DLQ query
        # finishing, both queries stopping).
        parts["unattributed"] = wall - sum(parts.values())
        return parts

    def layer_metrics(self) -> None:
        """The ingest-specific per-layer numbers (the trace record)."""
        run = self.run
        traced = [o for o in run.ops if o["traced"] and o["ok"]]
        # Per-batch numbers are over the main query's data batches; the
        # no-data batches Spark adds when the watermark moves are counted
        # and timed apart.
        main = [b for o in traced for b in o["batches"] if b["main"] and b["rows"] > 0]
        nodata = [b for o in traced for b in o["batches"] if b["main"] and b["rows"] == 0]
        dlq = [b for o in traced for b in o["batches"] if not b["main"] and b["rows"] > 0]
        nb = max(len(main), 1)
        L = run.layer
        L["pipeline.calls"] = len(traced)
        L["pipeline.batches"] = len(main)
        L["pipeline.nodata_batches"] = len(nodata)
        L["pipeline.nodata_batch_ms"] = (sum(b["durations"].get("triggerExecution", 0)
                                             for b in nodata) / max(len(nodata), 1))
        n_calls = max(len(traced), 1)
        L["pipeline.call_ms"] = 1000 * sum(o["end"] - o["start"] for o in traced) / n_calls
        L["pipeline.query_start_ms"] = 1000 * sum(o["split"]["query_start"]
                                                  for o in traced) / n_calls
        for key, name in (("triggerExecution", "batch_ms"), ("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_offsets_ms")):
            L[f"pipeline.{name}"] = sum(b["durations"].get(key, 0) for b in main) / nb
        L["pipeline.dlq_batch_ms"] = (sum(b["durations"].get("triggerExecution", 0) for b in dlq)
                                      / max(len(dlq), 1))
        L["sources.latest_offset_ms"] = sum(b["durations"].get("latestOffset", 0)
                                            for b in main) / nb
        L["pipeline.merge_rollup_ms"] = 1000 * sum(o["split"]["merge_rollup"] for o in traced) / nb
        L["pipeline.raw_append_ms"] = 1000 * sum(o["split"]["raw_append"] for o in traced) / nb
        L["pipeline.dedup_state_rows"] = sum(b["state_rows"] for b in main) / nb
        L["pipeline.dedup_state_bytes"] = sum(b["state_bytes"] for b in main) / nb
        fs_calls = sum(1 for o in traced for s in run.tracer.op_spans(o["id"])
                       if s["name"].startswith("fs."))
        L["storage.fs_calls_per_batch"] = fs_calls / nb
        L["storage.fs_ms_per_batch"] = L["storage.fs_ms_per_op"] * len(traced) / nb
        L["sources.ms_per_op"] = L["sources.latest_offset_ms"] * nb / n_calls
        # On disk at the end of the run (append-only raw/DLQ; the checkpoint
        # after its own clean-up) ...
        for part in ("raw", "rollup", "dlq", "ck"):
            L[f"storage.stored_bytes.{'checkpoint' if part == 'ck' else part}"] = dir_bytes(
                getattr(self, part))
        # ... while every merge, no-data batches' too, rewrites the rollup.
        ids = {o["id"] for o in traced}
        writes = [b for op, b in run.rollup_writes if op in ids]
        L["storage.bytes_written.rollup"] = sum(writes)
        L["pipeline.merges"] = len(writes)
        L["storage.rollup_rewrite_bytes_per_batch"] = sum(writes) / max(len(writes), 1)
        # Per-row work is the raw append (its job runs parse, normalize and
        # dedup over the batch); everything else recurs per batch or call.
        wall = sum(o["end"] - o["start"] for o in traced)
        per_row = sum(o["split"]["raw_append"] for o in traced)
        L["split.fixed_share_pct"] = 100 * (1 - per_row / wall) if wall else 0.0

    def normalize_drain(self) -> None:
        """Noop drain of parse + normalize over this run's own files."""
        from realtime_analytics_with_kafka_clickhouse_spark.operators.normalize import (
            normalize_orders,
            parse_wire_with_dlq,
        )

        spark = self.run.spark
        raw = spark.read.text(self.src)
        ok, dlq = parse_wire_with_dlq(raw)
        t = time.time()
        normalize_orders(ok).write.format("noop").mode("overwrite").save()
        dt_s = time.time() - t
        n_dlq = dlq.count()
        self.run.layer["normalize.rows_per_s"] = self.stream.expected.lines / dt_s
        self.run.layer["normalize.dlq_rows"] = n_dlq
        self.run.check(n_dlq == self.stream.expected.malformed,
                       f"normalize dlq rows {n_dlq} != planted {self.stream.expected.malformed}")

    def verify(self) -> None:
        """Independent checks of everything the pipeline stored."""
        from pyspark.sql import functions as F

        run, spark, exp = self.run, self.run.spark, self.stream.expected
        accepted = spark.read.parquet(self.raw).count()
        quarantined = spark.read.parquet(self.dlq).count()
        run.check(accepted == exp.accepted, f"accepted rows {accepted} != {exp.accepted}")
        run.check(quarantined == exp.malformed, f"dlq rows {quarantined} != {exp.malformed}")
        run.check(accepted + quarantined + exp.duplicates == exp.lines,
                  f"accepted+quarantined+duplicates != input lines {exp.lines}")
        rows = spark.read.parquet(self.rollup).select(
            F.col("hour").cast("long").alias("h"), "category", "order_count",
            "total_revenue", "total_quantity").collect()
        got = {(r.h, r.category): [r.order_count, round(Decimal(r.total_revenue) * 100),
                                   r.total_quantity] for r in rows}
        diff = [k for k in set(got) | set(exp.rollup) if got.get(k) != exp.rollup.get(k)]
        run.check(not diff, f"rollup differs from the exact aggregation at {sorted(diff)[:3]}")
        marker = open(f"{self.rollup}/_LAST_MERGED_BATCH").read().strip()
        commits = [int(n) for n in os.listdir(f"{self.ck}/main/commits") if n.isdigit()]
        run.check(int(marker) == max(commits),
                  f"merge marker {marker} != last batch {max(commits)}")
        late = sum(b["late_dropped"] for b in run.progress.progress)
        run.check(late == 0, f"{late} rows dropped as late: inputs must stay inside the watermark")

    def stored_bytes(self) -> int:
        return sum(dir_bytes(d) for d in (self.raw, self.rollup, self.dlq, self.ck))


def ingest_backlog(run: Run, seconds: float) -> dict:
    ing = Ingest(run, "ingest_backlog")
    run.start_session()
    for files, lines in ((1, BACKLOG_COLD_FILE_LINES), (BACKLOG_WARMUP_FILES, BACKLOG_FILE_LINES)):
        for _ in range(files):
            ing.stage(lines)
        ing.call(traced=False, measured=False)
    setup_end = time.time()
    setup_s = setup_end - SPAWN_WALL - run.gen_s
    run.layer["session.warmup_s"] = setup_s - run.layer["session.start_s"]

    # The backlog is sized to take about `seconds` to drain at the nominal
    # per-file time, staged before the timed call and drained by one call
    # (so only one micro-batch per run pays the per-call state reload).  A
    # traced run adds a second, traced call of the same size.
    n_files = max(2, round(seconds / BACKLOG_NOMINAL_FILE_S))
    busy = 0.0
    orders = 0
    batch_ms: list[float] = []
    for traced in (False, True) if run.trace else (False,):
        before = ing.stream.expected.accepted
        for _ in range(n_files):
            ing.stage(BACKLOG_FILE_LINES)
        rec = ing.call(traced=traced)
        if not traced:
            orders += ing.stream.expected.accepted - before
            busy += rec["end"] - rec["start"]
            batch_ms += [b["durations"]["triggerExecution"] for b in rec["batches"]
                         if b["main"] and b["rows"] > 0]
    heap = jvm_heap(run)
    if run.trace:
        run.generic_layers()
        ing.layer_metrics()
        ing.normalize_drain()
    ing.verify()
    run.sizing.update(file_orders=BACKLOG_FILE_LINES, files_per_call=n_files,
                      cold_file_orders=BACKLOG_COLD_FILE_LINES,
                      warmup_files=BACKLOG_WARMUP_FILES, measured_calls=len(run.ops),
                      measured_batches=len(batch_ms), input_lines=ing.stream.expected.lines)
    run.half_drift(batch_ms[1:])
    return {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(batch_ms),
        "latency_p75_ms": quantile(batch_ms, 0.75),
        "orders_per_s": orders / busy,
        "live_heap_mb": heap,
        "stored_bytes_per_order": ing.stored_bytes() / ing.stream.expected.lines,
    }


# ------------------------------------------------------------- dashboard
def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat()
    if isinstance(v, Decimal):
        return str(v.normalize())
    return v


def _canon_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def dashboard(run: Run, seconds: float) -> dict:
    import __spark_entry__

    sf_dir = f"{run.work}/sf"
    queries = __spark_entry__.queries()
    run.start_session()
    results: dict[str, list] = {}

    def refresh(name: str, traced: bool, measured: bool = True):
        fn = queries[name]
        holder = {}

        def body():
            with_span = run.tracer.span if traced else (lambda name: nullcontext())
            with with_span("rollups.plan"):
                df = fn(run.spark, sf_dir)
            with with_span("rollups.exec"):
                rows = df.collect()
            holder["cols"], holder["rows"] = df.columns, rows

        rec = run.op(f"panel.{name}", body, traced, measured)
        if rec["ok"]:
            canon = _canon_rows(holder["cols"], holder["rows"])
            if name not in results:
                results[name] = canon
            else:
                run.check(canon == results[name], f"panel {name} returned a different result")
        if traced and measured and rec["ok"]:
            run.harvest(rec, rec["groups"])
            spans = run.tracer.op_spans(rec["id"])
            from tracing import self_times

            st = self_times(spans)
            covered = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
            rec["split"] = {
                "sources.load_table": st.get("sources.load_table", 0.0),
                "txlog.read_table": st.get("txlog.read_table", 0.0)
                + sum(v for k, v in st.items() if k.startswith("fs.")),
                "rollups.plan_self": st.get("rollups.plan", 0.0),
                "rollups.exec": st.get("rollups.exec", 0.0),
                "unattributed": rec["end"] - rec["start"] - covered,
            }
        return rec

    first_call_s = {}
    for name in PANELS:  # first calls: plan caches, the stored txlog rollup build
        rec = refresh(name, traced=False, measured=False)
        first_call_s[name] = rec["end"] - rec["start"]
    for _ in range(DASHBOARD_WARMUP_ROUNDS):
        for name in PANELS:
            refresh(name, traced=False, measured=False)
    setup_end = time.time()
    setup_s = setup_end - SPAWN_WALL - run.gen_s
    run.layer["session.warmup_s"] = setup_s - run.layer["session.start_s"]

    t0 = time.time()
    rnd = 0
    while time.time() - t0 < seconds:
        traced = run.trace and rnd % 2 == 1
        for name in PANELS:
            refresh(name, traced)
        rnd += 1
    heap = jvm_heap(run)
    # The user-visible op is a whole dashboard refresh: the five panels of
    # one untraced round.
    lat = [1000 * sum(o["end"] - o["start"] for o in run.ops[i:i + len(PANELS)])
           for i in range(0, len(run.ops), len(PANELS))
           if not run.ops[i]["traced"] and all(o["ok"] for o in run.ops[i:i + len(PANELS)])]
    calls = sum(1 for o in run.ops if o["ok"] and not o["traced"])
    if run.trace:
        run.generic_layers()
        traced_ops = [o for o in run.ops if o["traced"] and o["ok"]]
        n = max(len(traced_ops), 1)
        L = run.layer
        loads = [s for o in traced_ops for s in run.tracer.op_spans(o["id"])
                 if s["name"] == "sources.load_table"]
        L["sources.load_table_calls"] = len(loads) / n
        L["sources.load_table_ms"] = 1000 * sum(s["end"] - s["start"] for s in loads) / n
        L["sources.ms_per_op"] = L["sources.load_table_ms"]
        reads = [s for o in traced_ops for s in run.tracer.op_spans(o["id"])
                 if s["name"] == "txlog.read_table"]
        L["txlog.read_table_ms"] = 1000 * sum(s["end"] - s["start"] for s in reads) / n
        L["rollups.plan_ms"] = 1000 * sum(
            o["split"]["rollups.plan_self"] + o["split"]["sources.load_table"]
            + o["split"]["txlog.read_table"] for o in traced_ops) / n
        L["rollups.exec_ms"] = 1000 * sum(o["split"]["rollups.exec"] for o in traced_ops) / n
        for name in PANELS:
            walls = [1000 * (o["end"] - o["start"]) for o in traced_ops
                     if o["name"] == f"panel.{name}"]
            L[f"panel.{name}_p50_ms"] = statistics.median(walls) if walls else 0.0
        # The first call's extra cost over a warm call is the rollup build.
        L["txlog.build_s"] = (first_call_s["hourly_trend_from_rollup"]
                              - L["panel.hourly_trend_from_rollup_p50_ms"] / 1000)
    for name in PANELS:
        walls = [1000 * (o["end"] - o["start"]) for o in run.ops
                 if o["ok"] and not o["traced"] and o["name"] == f"panel.{name}"]
        if walls:
            run.sizing[f"panel.{name}_p50_ms"] = statistics.median(walls)
    oracle_check(run, sf_dir, results)
    run.half_drift(lat)
    rollup_root = os.environ["TMPDIR"]
    stored = sum(dir_bytes(os.path.join(rollup_root, d)) for d in os.listdir(rollup_root)
                 if d.startswith("spark_graft_inc_rollups-"))
    run.sizing.update(rows=DASHBOARD_ROWS, warmup_rounds=DASHBOARD_WARMUP_ROUNDS,
                      measured_refreshes=len(lat))
    return {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat),
        "latency_p75_ms": quantile(lat, 0.75),
        "orders_per_s": DASHBOARD_ROWS * calls / (sum(lat) / 1000),
        "live_heap_mb": heap,
        "stored_bytes_per_order": stored / DASHBOARD_ROWS,
    }


def oracle_check(run: Run, sf_dir: str, results: dict[str, list]) -> None:
    """Each panel against its ``oracle_sql()`` DuckDB query, once per run."""
    import duckdb

    import __spark_entry__

    oracle = __spark_entry__.oracle_sql()
    con = duckdb.connect(config={"temp_directory": os.path.join(os.environ["TMPDIR"], "duckdb")})
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
        for name in PANELS:
            res = con.execute(oracle[name])
            cols = [d[0] for d in res.description]
            want = _canon_rows(cols, res.fetchall())
            run.check(results.get(name) == want, f"panel {name} differs from its DuckDB oracle")
    finally:
        con.close()


def jvm_heap(run: Run) -> float:
    from tracing import jvm_heap_mb

    return jvm_heap_mb(run.spark)


WORKLOADS = {"ingest_backlog": ingest_backlog, "dashboard": dashboard}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    run = Run(args)
    t = time.time()
    if args.workload == "dashboard":
        os.makedirs(f"{args.work}/sf")
        gen.write_events_table(f"{args.work}/sf/events.parquet", args.seed, DASHBOARD_ROWS)
    run.gen_s += time.time() - t
    e2e = WORKLOADS[args.workload](run, args.seconds)
    if args.trace:
        metrics = {k: {"value": run.layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        record = {"workload": args.workload, "seed": args.seed, "sizing": run.sizing,
                  "layers": run.layer, "e2e_untraced_ops": e2e,
                  "ops": [{k: o.get(k) for k in ("id", "name", "traced", "ok", "start", "end",
                                                 "split", "spark", "self_s")}
                          for o in run.ops],
                  "spans": run.tracer.spans, "problems": run.problems}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        record = None
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
              "metrics": metrics}
    run.spark.stop()
    with open(args.result, "w") as f:
        json.dump({"result": result, "record": record, "problems": run.problems}, f)


if __name__ == "__main__":
    main()

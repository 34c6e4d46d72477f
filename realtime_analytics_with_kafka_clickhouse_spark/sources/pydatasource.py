"""Python DataSource API source (SURVEY.md §2.1 extension, Spark 4).

The reference's only ingress besides Kafka is its Python producer loop
(/root/reference/producers/sales_producer.py) — a row generator living
OUTSIDE the engine.  Spark 4's Python DataSource API
(`pyspark.sql.datasource`) moves that pattern INSIDE the planner: a
user-defined source declares a schema and a partition list, and each
partition generates its rows executor-side, so a synthetic/external feed
parallelizes and prunes like any other scan (no driver-side row loop, no
collect-and-parallelize).

``LedgerDataSource`` is the deterministic proof instance: ``n`` rows of an
arithmetic ledger split over ``parts`` partitions by round-robin.  Every
value is a pure function of the row id, so a DuckDB ``range(n)`` query
reproduces the table bit-for-bit — which is what lets the driver gate
hash-check a *source*, not just operators over parquet.
"""

from __future__ import annotations

import atexit as _atexit
import os as _os
import shutil as _shutil
import tempfile as _tempfile

from pyspark.sql import DataFrame, SparkSession


@_atexit.register
def _sweep_pyds_roots() -> None:
    # The streaming proofs create per-run checkpoint/output dirs under
    # these per-PID roots; sweep them on exit (the files.py mirror-root
    # discipline) so repeated bench/test runs don't accumulate /tmp
    # garbage.
    for kind in ("stream", "sink"):
        _shutil.rmtree(
            _os.path.join(
                _tempfile.gettempdir(),
                f"spark_graft_pyds_{kind}-{_os.getpid()}",
            ),
            ignore_errors=True,
        )


LEDGER_SCHEMA = "id BIGINT, bucket BIGINT, amount BIGINT"
#: Default row count / parallelism for the proof query (kept modest: the
#: point is the API shape, not volume — scale comes from `parts`).
LEDGER_ROWS = 100_000
LEDGER_PARTS = 8


def _make_datasource_class():
    """Build the DataSource subclass lazily so importing this module never
    requires the (Spark 4-only) datasource API at import time."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _LedgerPartition(InputPartition):
        def __init__(self, index: int, n: int, parts: int):
            self.index, self.n, self.parts = index, n, parts

    class _LedgerReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", LEDGER_ROWS))
            self.parts = int(options.get("parts", LEDGER_PARTS))

        def partitions(self):
            return [_LedgerPartition(i, self.n, self.parts) for i in range(self.parts)]

        def read(self, partition):
            # Executor-side generation: each partition walks its
            # round-robin residue class — no shared state, no driver loop.
            for i in range(partition.index, partition.n, partition.parts):
                yield (i, i % 10, (i * i) % 9973)

    class LedgerDataSource(DataSource):
        @classmethod
        def name(cls):
            return "graft_ledger"

        def schema(self):
            return LEDGER_SCHEMA

        def reader(self, schema):
            return _LedgerReader(self.options)

    return LedgerDataSource


_REGISTERED_SESSIONS: set[int] = set()


def register_ledger_source(spark: SparkSession) -> None:
    """Register the source once per session (re-registration is an error
    in some Spark versions; memoized on session identity)."""
    key = id(spark)
    if key not in _REGISTERED_SESSIONS:
        spark.dataSource.register(_make_datasource_class())
        _REGISTERED_SESSIONS.add(key)


#: Stream chunking: 100k ledger rows arrive in offset-tracked
#: micro-batches (the offset is the row index — a dict checkpoint the
#: engine persists, exactly the Kafka-offset contract).  2 data batches
#: + the empty catch-up batch: enough to prove cross-batch offset
#: handoff without paying 5 micro-batch fixed costs per bench run.
LEDGER_STREAM_CHUNK = 50_000


def _make_stream_datasource_class():
    """Streaming twin of ``LedgerDataSource`` on Spark 4's
    ``SimpleDataSourceStreamReader``: the planner drives offset
    management (initialOffset / read(start) -> (rows, next) /
    readBetweenOffsets for deterministic failure replay), so a pure-
    Python feed gets checkpointed exactly-once micro-batches with no
    broker — the API the reference's producer loop
    (/root/reference/producers/sales_producer.py) would target today."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    def _rows(lo: int, hi: int):
        # A LIST iterator, not a generator: the simple-reader protocol
        # PICKLES the prefetched batch between driver and executors
        # (generators can't pickle; bare lists fail the iterator check).
        return iter([(i, i % 10, (i * i) % 9973) for i in range(lo, hi)])

    class _LedgerStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", LEDGER_ROWS))
            self.chunk = int(options.get("chunk", LEDGER_STREAM_CHUNK))

        def initialOffset(self) -> dict:
            return {"index": 0}

        def read(self, start: dict):
            lo = int(start["index"])
            hi = min(lo + self.chunk, self.n)
            return _rows(lo, hi), {"index": hi}

        def readBetweenOffsets(self, start: dict, end: dict):
            # Failure replay: a batch is its offset range, regenerated
            # deterministically — same contract as re-reading a Kafka
            # offset span.
            return _rows(int(start["index"]), int(end["index"]))

    class LedgerStreamDataSource(DataSource):
        @classmethod
        def name(cls):
            return "graft_ledger_stream"

        def schema(self):
            return LEDGER_SCHEMA

        def simpleStreamReader(self, schema):
            return _LedgerStreamReader(self.options)

    return LedgerStreamDataSource


def register_ledger_stream_source(spark: SparkSession) -> None:
    key = ("stream", id(spark))
    if key not in _REGISTERED_SESSIONS:
        spark.dataSource.register(_make_stream_datasource_class())
        _REGISTERED_SESSIONS.add(key)


def python_stream_datasource_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated proof of the STREAMING Python DataSource: consume the
    ledger stream through real offset-tracked micro-batches into a memory
    sink, then RESTART from the same checkpoint — the second run must add
    zero rows (offsets persisted, exactly-once), which makes duplication
    falsifiable in the hash.  Result: the same per-bucket fold as the
    batch scan, so the DuckDB ``range(n)`` oracle hash-checks the whole
    path (generator -> offsets -> replay -> sink)."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    register_ledger_stream_source(spark)
    run = uuid.uuid4().hex[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_pyds_stream-{os.getpid()}", run
    )
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "data")
    src = (
        spark.readStream.format("graft_ledger_stream")
        .option("n", str(LEDGER_ROWS))
        .option("chunk", str(LEDGER_STREAM_CHUNK))
        .load()
    )
    for _ in range(2):  # initial run + checkpoint-restart (must no-op)
        q = (
            src.writeStream.format("parquet")  # fault-tolerant file sink
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    # Batch read honors the file-sink commit log (_spark_metadata): only
    # files of committed batches count, so a duplicating restart would
    # surface as extra rows and break the hash.
    return spark.read.parquet(out).groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("amount").alias("total_amount"),
        F.max("id").alias("max_id"),
    )


def _make_sink_datasource_class():
    """Write side of the Python DataSource API (Spark 4
    ``DataSourceStreamWriter``): a pure-Python streaming SINK with the
    two-phase commit the engine coordinates — executors ``write()`` a
    micro-batch partition each and return a commit message, the driver
    ``commit(messages, batchId)`` publishes them to a manifest keyed by
    batch id.  Readers trust ONLY manifest-listed files, and a replayed
    batch REPLACES its manifest entry (same batchId), so a crash between
    task writes and commit — or a checkpoint restart — can orphan files
    but never duplicate rows: the exactly-once contract of Spark's own
    file sink, re-implemented at the user level (JSON-lines here; the
    real-world shape is any transactional external store)."""
    import json as _json

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class _FileCommit(WriterCommitMessage):
        def __init__(self, path: str, rows: int):
            self.path, self.rows = path, rows

    class _LedgerSinkWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("graft_ledger_sink requires a 'path' option")

        def write(self, iterator):
            import os as _os
            import uuid as _uuid

            _os.makedirs(f"{self.path}/files", exist_ok=True)
            out = f"{self.path}/files/part-{_uuid.uuid4().hex}.jsonl"
            # Hot per-row loop (r14 optimization, r15 ADVICE hardening):
            # the schema is three int64 columns, so the JSON line is a
            # fixed template — f-string formatting emits byte-identical
            # output to json.dumps at ~4x the throughput.  Lines are
            # written in bounded chunks (writelines of 8192-line slabs),
            # keeping memory O(chunk) instead of O(partition).  Contract:
            # the only producer is the ledger stream source, whose rows
            # are non-null ints by construction — a null/bool/float would
            # render as invalid JSON, so every row is type-checked and a
            # bad one fails the task loudly, deleting the partial file.
            n = 0
            try:
                with open(out, "w") as f:
                    chunk: list[str] = []
                    for row in iterator:
                        i, b, a = row[0], row[1], row[2]
                        if not (type(i) is int and type(b) is int and type(a) is int):
                            raise TypeError(
                                "graft_ledger_sink writes int64-only rows; got "
                                f"{tuple(type(v).__name__ for v in (i, b, a))} in row {n}"
                            )
                        chunk.append(f'{{"id": {i}, "bucket": {b}, "amount": {a}}}\n')
                        n += 1
                        if len(chunk) >= 8192:
                            f.writelines(chunk)
                            chunk.clear()
                    if chunk:
                        f.writelines(chunk)
            except BaseException:
                _os.remove(out)
                raise
            return _FileCommit(out, n)

        def commit(self, messages, batchId) -> None:
            # Driver-side publish: REPLACE this batchId's entry (a replay
            # re-writes fresh files; the stale ones become unreferenced).
            manifest_path = f"{self.path}/manifest.json"
            try:
                with open(manifest_path) as f:
                    manifest = _json.load(f)
            except (OSError, ValueError):
                manifest = {}
            manifest[str(batchId)] = [
                m.path for m in messages if m is not None and m.rows > 0
            ]
            tmp = manifest_path + ".tmp"
            with open(tmp, "w") as f:
                _json.dump(manifest, f)
            import os as _os

            _os.replace(tmp, manifest_path)  # atomic on POSIX

        def abort(self, messages, batchId) -> None:
            import os as _os

            for m in messages:
                if m is not None:
                    try:
                        _os.remove(m.path)
                    except OSError:
                        pass

    class LedgerSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "graft_ledger_sink"

        def schema(self):
            return LEDGER_SCHEMA

        def streamWriter(self, schema, overwrite):
            return _LedgerSinkWriter(self.options)

    return LedgerSinkDataSource


def register_ledger_sink(spark: SparkSession) -> None:
    key = ("sink", id(spark))
    if key not in _REGISTERED_SESSIONS:
        spark.dataSource.register(_make_sink_datasource_class())
        _REGISTERED_SESSIONS.add(key)


def python_stream_datasource_sink_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-gated proof of the full Python DataSource STREAMING LOOP:
    the Python stream source feeds the Python stream sink (engine-
    coordinated two-phase commit into a batch-keyed manifest), the query
    restarts from its checkpoint (must re-commit nothing), and the
    rollup reads ONLY manifest-listed files — so a duplicated or lost
    batch anywhere in source offsets, task writes, or commit publishing
    breaks the range(n) oracle hash."""
    import json as _json
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    register_ledger_stream_source(spark)
    register_ledger_sink(spark)
    run = uuid.uuid4().hex[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_pyds_sink-{os.getpid()}", run
    )
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "out")
    os.makedirs(out, exist_ok=True)
    src = (
        spark.readStream.format("graft_ledger_stream")
        .option("n", str(LEDGER_ROWS))
        .option("chunk", str(LEDGER_STREAM_CHUNK))
        .load()
    )
    for _ in range(2):  # initial run + checkpoint restart (must no-op)
        q = (
            src.writeStream.format("graft_ledger_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    with open(f"{out}/manifest.json") as f:
        committed = [p for paths in _json.load(f).values() for p in paths]
    rows = spark.read.schema("id bigint, bucket bigint, amount bigint").json(
        committed
    )
    return rows.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("amount").alias("total_amount"),
        F.max("id").alias("max_id"),
    )


def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated proof query: scan the Python-defined source and fold
    it to a per-bucket report.  ``sf_dir`` is unused (the source is
    synthetic) but kept for the uniform (spark, sf_dir) registry shape."""
    from pyspark.sql import functions as F

    register_ledger_source(spark)
    df = (
        spark.read.format("graft_ledger")
        .option("n", str(LEDGER_ROWS))
        .option("parts", str(LEDGER_PARTS))
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("amount").alias("total_amount"),
        F.max("id").alias("max_id"),
    )

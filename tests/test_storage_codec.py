"""The storage contract of the wire path: ZSTD parquet parts clustered by
the raw table's ORDER BY key, and ZSTD state checkpoints that keep the
codec an existing checkpoint recorded."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq

from realtime_analytics_with_kafka_clickhouse_spark.operators.normalize import (
    normalize_orders,
    parse_wire,
)
from realtime_analytics_with_kafka_clickhouse_spark.schemas import ORDER_KEY
from realtime_analytics_with_kafka_clickhouse_spark.sources.generator import (
    generate_orders,
    to_wire,
)
from realtime_analytics_with_kafka_clickhouse_spark.streaming.pipeline import (
    run_wire_stream_pipeline,
)

STATE_CODEC = "spark.sql.streaming.stateStore.compression.codec"


def _data_files(root: str) -> list[str]:
    return sorted(glob.glob(f"{root}/**/part-*.parquet", recursive=True))


def _codecs(path: str) -> set[str]:
    meta = pq.read_metadata(path)
    return {
        meta.row_group(g).column(c).compression
        for g in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    }


def test_wire_parts_are_zstd_and_sorted_by_the_order_key(spark, tmp_path):
    """Every raw epoch file and DLQ file is ZSTD, and each raw epoch file
    is sorted by ``ORDER_KEY``, although dedup hands the batch over in
    hash order."""
    orders = generate_orders(spark, 600, seed=5).dropDuplicates(["order_id"])
    src = str(tmp_path / "wire")
    to_wire(orders).coalesce(1).write.mode("append").text(src)
    bad = spark.createDataFrame([("corrupt {",), ("99",)], ["value"])
    to_wire(orders.limit(40)).union(bad).coalesce(1).write.mode("append").text(src)
    raw, dlq = str(tmp_path / "raw"), str(tmp_path / "dlq")
    run_wire_stream_pipeline(
        spark, src, raw, str(tmp_path / "rollup"), dlq, str(tmp_path / "ckpt")
    )

    raw_files, dlq_files = _data_files(raw), _data_files(dlq)
    assert raw_files and dlq_files
    for f in raw_files + dlq_files:  # an epoch of duplicates only has no column chunk
        assert _codecs(f) == ({"ZSTD"} if pq.read_metadata(f).num_rows else set()), f
    assert sum(pq.read_metadata(f).num_rows for f in dlq_files) == 2
    rows = 0
    for f in raw_files:
        got = pq.read_table(f, columns=list(ORDER_KEY)).to_pylist()
        keys = [tuple(r[c] for c in ORDER_KEY) for r in got]
        assert keys == sorted(keys), f
        rows += len(keys)
    want = normalize_orders(parse_wire(to_wire(orders))).select(*ORDER_KEY)
    assert rows == want.count()
    # The sort is not vacuous: the input arrives out of key order.
    arrival = [tuple(r) for r in want.collect()]
    assert arrival != sorted(arrival)


def _dedup_run(session, src: str, out: str, ck: str) -> None:
    ids = session.readStream.schema("id LONG").option("maxFilesPerTrigger", 1).json(src)
    q = (
        ids.dropDuplicates(["id"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _write_ids(path: str, ids) -> None:
    with open(path, "w") as fh:
        fh.writelines(json.dumps({"id": i}) + "\n" for i in ids)


def test_lz4_checkpoint_resumes_under_the_zstd_default(spark, tmp_path):
    """A dedup stream checkpointed under lz4 restarts in a session whose
    default is ZSTD: its second batch still drops the first batch's ids,
    and the offset log still names lz4.  Both runs use child sessions, so
    the shared session's conf never changes."""
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    os.mkdir(src)
    assert spark.conf.get(STATE_CODEC) == "zstd"
    first = spark.newSession()
    first.conf.set(STATE_CODEC, "lz4")
    _write_ids(f"{src}/a.json", range(0, 20))
    _dedup_run(first, src, out, ck)
    assert spark.conf.get(STATE_CODEC) == "zstd"

    second = spark.newSession()
    assert second.conf.get(STATE_CODEC) == "zstd"
    _write_ids(f"{src}/b.json", range(10, 30))
    _dedup_run(second, src, out, ck)

    got = sorted(r.id for r in second.read.parquet(out).collect())
    assert got == list(range(30))
    offsets = sorted(int(n) for n in os.listdir(f"{ck}/offsets") if n.isdigit())
    assert offsets == [0, 1]
    for n in offsets:
        with open(f"{ck}/offsets/{n}") as fh:
            conf = json.loads(fh.read().splitlines()[1])["conf"]
        assert conf[STATE_CODEC] == "lz4", n

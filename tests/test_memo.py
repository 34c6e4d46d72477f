"""Driver-side memo (_memo.py): correctness of the fingerprint-keyed cache.

The memo serves k-means fits and CC labels across queries; the one way it
can be WRONG is serving a stale artifact after the underlying parquet was
rewritten at the same path.  These tests pin the invalidation contract.
"""

from __future__ import annotations

import ast
import importlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from realtime_analytics_with_kafka_clickhouse_spark.operators import _memo

from tests.conftest import SF_DIR


def test_memo_hits_without_recompute(tmp_path):
    d = str(tmp_path)
    shutil.copy(f"{SF_DIR}/documents.parquet", f"{d}/documents.parquet")
    calls = []
    v1 = _memo.memo_get("t_hit", d, ("documents",), lambda: calls.append(1) or "a")
    v2 = _memo.memo_get("t_hit", d, ("documents",), lambda: calls.append(1) or "b")
    assert v1 == v2 == "a"
    assert len(calls) == 1


def test_memo_invalidates_on_rewrite(tmp_path):
    d = str(tmp_path)
    shutil.copy(f"{SF_DIR}/documents.parquet", f"{d}/documents.parquet")
    v1 = _memo.memo_get("t_inval", d, ("documents",), lambda: "old")
    # Rewrite the file with different bytes (size changes -> fingerprint
    # changes even on filesystems with coarse mtime resolution).
    time.sleep(0.01)
    shutil.copy(f"{SF_DIR}/embeddings.parquet", f"{d}/documents.parquet")
    v2 = _memo.memo_get("t_inval", d, ("documents",), lambda: "new")
    assert v1 == "old" and v2 == "new"


def test_memo_single_slot_per_kind(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", str(a / "documents.parquet"))
    shutil.copy(f"{SF_DIR}/documents.parquet", str(b / "documents.parquet"))
    _memo.memo_get("t_slot", str(a), ("documents",), lambda: "va")
    _memo.memo_get("t_slot", str(b), ("documents",), lambda: "vb")  # evicts a
    assert sum(1 for k in _memo._MEMO if k[0] == "t_slot") == 1
    # a's entry was evicted -> recompute, not a stale hit
    again = _memo.memo_get("t_slot", str(a), ("documents",), lambda: "va2")
    assert again == "va2"


def test_kmeans_fit_is_memoized(spark):
    from realtime_analytics_with_kafka_clickhouse_spark.operators import similarity

    f1 = similarity._kmeans_fit(spark, SF_DIR)
    t0 = time.perf_counter()
    f2 = similarity._kmeans_fit(spark, SF_DIR)
    assert time.perf_counter() - t0 < 0.1  # pure cache hit, no Spark job
    assert f1 is f2


def test_exact_ann_ground_truth_is_memoized(spark):
    """The 5 recall gates share ONE exact-baseline derivation per
    embeddings fingerprint: second call must be a pure memo hit (the
    pair list is reused; only a createDataFrame on the driver runs)."""
    from realtime_analytics_with_kafka_clickhouse_spark.operators import _memo, similarity

    n_q1, df1 = similarity._exact_cosine_ground_truth(spark, SF_DIR)
    hit = _memo.memo_peek("exact_cosine_topk_pairs", SF_DIR, ("embeddings",))
    assert not _memo.is_miss(hit)
    t0 = time.perf_counter()
    n_q2, _ = similarity._exact_cosine_ground_truth(spark, SF_DIR)
    assert time.perf_counter() - t0 < 0.5  # no Spark job on the hit path
    assert n_q1 == n_q2 and n_q1 > 0
    assert df1.count() == hit["n_pairs"]

    similarity._exact_l2_ground_truth(spark, SF_DIR)
    l2 = _memo.memo_peek("exact_l2_topk_pairs", SF_DIR, ("embeddings",))
    assert not _memo.is_miss(l2) and l2["n_pairs"] > 0


def test_relative_sf_dir_keeps_the_memo(spark, tmp_path):
    """A relative table dir (``--sf-dir sf``) has the memo key of its
    absolute path, so the memos hit instead of building on every call."""
    from realtime_analytics_with_kafka_clickhouse_spark.sources import tables

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(f"{SF_DIR}/events.parquet", sf / "events.parquet")
    absolute, relative = str(sf), os.path.relpath(sf)
    key = tables.memo_key(spark, absolute, "events")
    for d in (relative, os.path.join(".", relative)):
        assert tables.memo_key(spark, d, "events") == key
    first = tables.load_table(spark, relative, "events")
    assert tables.load_table(spark, relative, "events") is first
    assert tables.load_table(spark, absolute, "events") is first
    calls = []
    for d in (relative, absolute):
        _memo.memo_get("t_relative", d, ("events",), lambda: calls.append(d))
    assert calls == [relative]


def test_missing_table_is_never_memoized(spark, tmp_path):
    """A missing table has no fingerprint: planted frames behind a fake dir
    (absolute or relative) must never be served to the next caller."""
    from realtime_analytics_with_kafka_clickhouse_spark.sources import tables

    for d in (str(tmp_path / "missing"), "missing"):
        with pytest.raises(FileNotFoundError):
            tables.memo_key(spark, d, "events")
        calls = []
        for value in ("first", "second"):
            got = _memo.memo_get("t_missing", d, ("events",), lambda: calls.append(value) or value)
            assert got == value
        assert calls == ["first", "second"]


def _double_column(path: str, column: str) -> None:
    """Numbers times two; strings twice over, joined by a space."""
    t = pq.read_table(path)
    i = t.schema.get_field_index(column)
    col = t.column(i)
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        doubled = pc.binary_join_element_wise(col, col, " ")
    else:
        doubled = pc.multiply(col, 2)
    t = t.set_column(i, t.field(i), doubled)
    os.remove(path)  # fixture copies keep the read-only mode
    pq.write_table(t, path)


@pytest.mark.parametrize(
    "module, query, table, column",
    [
        ("storage.layout", "order_update_mutation", "orders", "o_totalprice"),
        ("streaming.pipeline", "txlog_restore_version", "events", "value"),
        ("operators.text", "bpe_train_merges", "documents", "text"),
    ],
)
def test_build_once_table_rebuilds_after_rewrite(
    spark, tmp_path, module, query, table, column
):
    """A build-once scratch table is keyed on the fingerprint of the table
    it reads: rewritten in place, the query serves the rewritten values
    (equal to a first build over a fresh copy), not the old build."""
    fn = getattr(
        importlib.import_module(
            f"realtime_analytics_with_kafka_clickhouse_spark.{module}"
        ),
        query,
    )
    rewritten, fresh = tmp_path / "rewritten", tmp_path / "fresh"
    for d in (rewritten, fresh):
        d.mkdir()
        for f in os.listdir(SF_DIR):
            shutil.copyfile(f"{SF_DIR}/{f}", d / f)
    before = sorted(fn(spark, str(rewritten)).collect())
    for d in (rewritten, fresh):
        _double_column(str(d / f"{table}.parquet"), column)
    after = sorted(fn(spark, str(rewritten)).collect())
    assert after == sorted(fn(spark, str(fresh)).collect())
    assert after != before


def test_clean_exit_leaves_no_scratch_root(tmp_path):
    """A process that makes a scratch dir in every area the package uses
    and exits normally leaves no ``spark_graft_*`` entry in its TMPDIR."""
    pkg = Path(_memo.__file__).parents[1]
    areas = sorted({
        a
        for f in pkg.rglob("*.py")
        for a in re.findall(r'scratch_dir\(\s*"(\w+)"', f.read_text())
    })
    assert {"memo", "inc_rollups", "mutation", "ivf_stream"} <= set(areas)
    code = (
        "import os\n"
        "from realtime_analytics_with_kafka_clickhouse_spark.operators._memo "
        "import scratch_dir\n"
        f"for area in {areas!r}:\n"
        "    d = scratch_dir(area, 'x')\n"
        "    os.makedirs(d)\n"
        "    open(os.path.join(d, 'f'), 'w').close()\n"
        "    print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        cwd=Path(__file__).parents[1],
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    ).stdout.split()
    assert len(out) == len(areas)
    assert all(d.startswith(str(tmp_path)) for d in out)
    assert [n for n in os.listdir(tmp_path) if n.startswith("spark_graft_")] == []


def test_bucketed_join_survives_a_session_restart(tmp_path):
    """The bucketed tables are named in the session's catalog, so a new
    session after ``spark.stop()`` in the same process must write and name
    them anew instead of reading names its catalog never had."""
    code = (
        "from realtime_analytics_with_kafka_clickhouse_spark.session import get_spark\n"
        "from realtime_analytics_with_kafka_clickhouse_spark.storage.bucketing "
        "import bucketed_orders_lineitem_join as op\n"
        "rows = []\n"
        "for _ in range(2):\n"
        "    spark = get_spark('restart', shuffle_partitions=2)\n"
        f"    rows.append(sorted(op(spark, {SF_DIR!r}).collect()))\n"
        "    spark.stop()\n"
        "print(len(rows[0]), rows[0] == rows[1])\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env={
            **os.environ,
            "TMPDIR": str(tmp_path),
            "SPARK_GRAFT_CPUS": "2",
            "SPARK_GRAFT_DRIVER_MEM": "1g",
        },
        cwd=Path(__file__).parents[1],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    n_rows, equal = out.stdout.split()[-2:]
    assert int(n_rows) > 0 and equal == "True"


def _module_caches(tree: ast.Module) -> set[str]:
    """Names bound to ``{}`` at module level and never filled there: dicts
    that functions fill at run time."""
    empty = {
        t.id
        for node in tree.body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and isinstance(node.value, ast.Dict)
        and not node.value.keys
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
    }
    filled = {
        t.value.id
        for node in tree.body
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name)
    }
    return empty - filled


def test_build_once_values_live_in_the_two_stores(spark, tmp_path, monkeypatch):
    """Module-level run-time dicts are only ``_memo``'s store and timings,
    the executor's corpus slot and the txlog's content-addressed caches; a
    call that builds once records each kind it builds in ``BUILD_SEC``."""
    pkg = Path(_memo.__file__).parents[1]
    caches = {
        f"{f.stem}.{name}"
        for f in pkg.rglob("*.py")
        for name in _module_caches(ast.parse(f.read_text()))
    }
    assert caches == {
        "_memo._MEMO",
        "_memo.BUILD_SEC",
        "similarity._CORPUS",
        "txlog._COMMIT_MEMO",
        "txlog._DIRS_SCHEMA_MEMO",
    }
    assert "_session_token" not in (pkg / "sources" / "files.py").read_text()

    from realtime_analytics_with_kafka_clickhouse_spark.operators import text
    from realtime_analytics_with_kafka_clickhouse_spark.sources import files
    from realtime_analytics_with_kafka_clickhouse_spark.streaming import pipeline

    d = tmp_path / "sf"
    d.mkdir()
    for f in os.listdir(SF_DIR):
        shutil.copyfile(f"{SF_DIR}/{f}", d / f)
    monkeypatch.setattr(_memo, "_MEMO", {})
    monkeypatch.setattr(_memo, "BUILD_SEC", {})
    calls = {
        pipeline.hourly_trend_from_rollup: {"stored_rollup"},
        pipeline.txlog_time_travel: {"txlog_append_table"},
        files.json_roundtrip_rollup: {"events_json_mirror"},
        text.bpe_tokenize_stats: {"bpe_merges"},
    }
    for fn, kinds in calls.items():
        before = set(_memo.BUILD_SEC)
        fn(spark, str(d)).collect()
        assert set(_memo.BUILD_SEC) - before == kinds, fn.__name__
    assert {k[0] for k in _memo._MEMO} == set(_memo.BUILD_SEC)


def test_one_scratch_helper_owns_temp_dirs_and_exit_hooks():
    """Only ``_memo`` asks for the temp dir or registers an exit hook, and
    it does each once."""
    pkg = Path(_memo.__file__).parents[1]
    outside = [
        str(f.relative_to(pkg))
        for f in pkg.rglob("*.py")
        if f.name != "_memo.py" and re.search(r"gettempdir\(|\batexit\b", f.read_text())
    ]
    assert outside == []
    src = Path(_memo.__file__).read_text()
    assert src.count("gettempdir(") == 1
    assert src.count("atexit.register") == 1


def test_sweep_keeps_live_owners_and_drops_orphans(tmp_path, monkeypatch):
    """Orphaned: the root's pid is gone, or is alive but started after the
    root was last written (a reused pid).  The sweep also drops this
    process's own roots, and keeps a root whose live owner predates it."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait(timeout=60)
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        roots = {
            "own": os.path.dirname(_memo.scratch_dir("t", "x")),
            "dead": _memo._root("t", dead.pid),
            "reused": _memo._root("t", live.pid),
            "live": _memo._root("u", live.pid),
        }
        for r in roots.values():
            os.makedirs(r)
        old = time.time() - 3600
        os.utime(roots["reused"], (old, old))
        assert {k for k, r in roots.items() if _memo._orphaned(r)} == {"dead", "reused"}
        _memo._sweep_scratch_roots()
        assert os.listdir(tmp_path) == [os.path.basename(roots["live"])]
    finally:
        live.kill()
        live.wait(timeout=60)

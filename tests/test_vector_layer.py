"""The executor-side vector layer of ``operators/similarity.py``: one corpus
slot (``_corpus``) that reads ``embeddings.parquet`` once and derives every
view from one raw matrix, its byte gate, and the one left-fold kernel
(``_lfold``)."""

from __future__ import annotations

import ast
import inspect
import math
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from realtime_analytics_with_kafka_clickhouse_spark.functions import hints
from realtime_analytics_with_kafka_clickhouse_spark.operators import similarity as S

from tests.conftest import SF_DIR

VIEWS = ("unit", "int8", "norm", "rp")


@pytest.fixture(autouse=True)
def _empty_slot():
    S._CORPUS.clear()
    yield
    S._CORPUS.clear()


def _copy_corpus(tmp_path) -> str:
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(pq.read_table(os.path.join(SF_DIR, "embeddings.parquet")), path)
    return path


def _pylist_matrix(path: str) -> np.ndarray:
    """The per-row Python conversion the Arrow load replaced."""
    col = pq.read_table(path, columns=["embedding"]).column("embedding")
    return np.asarray(col.to_pylist(), dtype=np.float64)


def _arrays(view) -> tuple:
    return view if isinstance(view, tuple) else (view,)


def _same_bits(a, b) -> bool:
    return a.shape == b.shape and a.dtype == b.dtype and a.tobytes() == b.tobytes()


@pytest.mark.parametrize("op", ["ann_cosine_topk", "ann_rp_topk", "ann_quantized_topk"])
def test_relative_sf_dir_gives_the_absolute_rows(spark, op):
    rel = os.path.relpath(SF_DIR)
    assert not os.path.isabs(rel)
    fn = getattr(S, op)
    rows = sorted(fn(spark, SF_DIR).collect())
    assert rows
    assert sorted(fn(spark, rel).collect()) == rows


def test_all_views_share_one_slot_and_one_raw(tmp_path):
    path = _copy_corpus(tmp_path)
    raws = [S._corpus(path, v)["raw"] for v in VIEWS]
    assert len(S._CORPUS) == 1
    assert all(r is raws[0] for r in raws)
    (slot,) = S._CORPUS.values()
    assert set(slot) == {"ids", "raw", *VIEWS}
    # The Arrow load equals the per-row Python conversion bit for bit.
    assert _same_bits(slot["raw"], _pylist_matrix(path))
    assert slot["ids"].tolist() == pq.read_table(path).column("vec_id").to_pylist()
    # A relative path names the same slot.
    assert S._corpus(os.path.relpath(path), *VIEWS) is slot
    assert len(S._CORPUS) == 1


def test_rewrite_refreshes_every_view(tmp_path):
    path = _copy_corpus(tmp_path)
    old = {v: [a.copy() for a in _arrays(S._corpus(path, *VIEWS)[v])] for v in VIEWS}

    tbl = pq.read_table(path)
    emb = tbl.column("embedding").combine_chunks()
    shifted = pa.ListArray.from_arrays(
        emb.offsets, pc.add(emb.flatten(), pa.scalar(1.0, pa.float32()))
    )
    pq.write_table(tbl.set_column(1, "embedding", shifted), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))

    slot = S._corpus(path, *VIEWS)
    assert len(S._CORPUS) == 1
    raw = _pylist_matrix(path)
    assert _same_bits(slot["raw"], raw)
    for v in VIEWS:
        expected = _arrays(S._VIEWS[v](raw))
        got = _arrays(slot[v])
        assert all(_same_bits(g, e) for g, e in zip(got, expected)), v
        assert not all(_same_bits(g, o) for g, o in zip(got, old[v])), v


@pytest.mark.parametrize(
    "rows, what",
    [
        ([[1.0, 2.0], None], "null"),
        ([[1.0, None], [1.0, 2.0]], "null"),
        ([[1.0, 2.0], [3.0]], "width"),
    ],
)
def test_null_and_ragged_embeddings_raise_naming_the_path(tmp_path, rows, what):
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(rows)), pa.int64()),
                "embedding": pa.array(rows, pa.list_(pa.float32())),
            }
        ),
        path,
    )
    with pytest.raises(ValueError, match=what) as err:
        S._corpus(path, "unit")
    assert path in str(err.value)
    assert not S._CORPUS


def test_byte_gate_raises_before_any_read(tmp_path, monkeypatch):
    path = _copy_corpus(tmp_path)
    cells = pq.ParquetFile(path).metadata.num_rows * S.DIM
    reads = []
    real_read = pq.read_table
    monkeypatch.setattr(
        pq, "read_table", lambda *a, **k: reads.append(a) or real_read(*a, **k)
    )
    # raw + one view fits exactly; raw + two views does not.
    monkeypatch.setattr(hints, "EXECUTOR_CORPUS_BYTE_LIMIT", cells * 8 * 2)
    with pytest.raises(ValueError, match="ann_ivf_topk / ann_ivfpq_topk") as err:
        S._corpus(path, "unit", "int8")
    assert path in str(err.value)
    assert reads == [] and not S._CORPUS

    slot = S._corpus(path, "unit")
    assert len(reads) == 1 and "unit" in slot
    # Adding a view to a held slot is gated too, and reads nothing.
    with pytest.raises(ValueError, match="EXECUTOR_CORPUS_BYTE_LIMIT"):
        S._corpus(path, "int8")
    assert len(reads) == 1 and "int8" not in slot


def test_lfold_is_a_sequential_left_fold():
    rng = np.random.default_rng(7)
    x = rng.standard_normal((200, 64)) * 10.0 ** rng.integers(-8, 8, (200, 64))
    folded = S._lfold(lambda j: x[:, j], x.shape[1])
    for i in range(len(x)):
        acc = 0.0
        for v in x[i]:
            acc = acc + float(v)
        assert folded[i] == acc
    assert S._norms(x)[3] == math.sqrt(S._lfold(lambda j: x[3, j] * x[3, j], 64))
    # numpy's pairwise sum gives other bits on these rows.
    assert not np.array_equal(folded, x.sum(axis=1))


def test_one_corpus_read_one_slot_one_fold_kernel():
    src = Path(S.__file__).read_text()
    assert src.count("pq.read_table(") == 1
    assert "to_pylist(" not in src
    tree = ast.parse(src)
    # Module-level dict caches: the executor's corpus slot, nothing else
    # (the driver's IVF index table lives in ``_memo``'s store).
    caches = {
        t.id
        for node in tree.body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and isinstance(node.value, ast.Dict)
        and not node.value.keys
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
    }
    assert caches == {"_CORPUS"}
    # Every in-place accumulation (a hand-written fold loop) lives in _lfold.
    owners = [
        getattr(node, "name", "<module>")
        for node in tree.body
        for sub in ast.walk(node)
        if isinstance(sub, ast.AugAssign)
    ]
    assert owners == ["_lfold"]
    # embedding_norm_arrow keeps its pure-Arrow surface.
    norm_src = inspect.getsource(S.embedding_norm_arrow)
    assert "mapInArrow" in norm_src and "pd." not in norm_src

"""Similarity search over ``embeddings`` (SURVEY.md §2.9 [EXT]).

Two paths, as a real engine would ship:

- ``ann_cosine_topk``: exact brute-force top-k — the correctness baseline.
  O(n^2) pairs; at driver scale this is a single shuffle-free cross join of
  one small broadcast side.  NOT the 100 TB path.
- ``ann_lsh_bucketed``: random-hyperplane LSH — vectors hash to a signature
  bucket; only same-bucket pairs are compared.  This is the scale path:
  candidate count ~ n^2 / 2^planes per bucket family, and the bucket join
  is a plain shuffle join on the signature.

Determinism: dot products are sequential left folds over the dimension
index (identical fold order in the DuckDB oracle), cosines are rounded to 6
decimals BEFORE ranking, and every ordering carries the neighbor id as a
tiebreak — so results are bit-stable across engines and parallelism.

Hyperplanes are md5-derived ±1 components (functions.hashing), so the
oracle re-derives the same planes; a production deployment would precompute
the plane matrix once and broadcast it.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import (
    broadcast_if_small,
    collect_request_sized,
    runtime_broadcast,
)
from ..sources.tables import load_table, memo_key
from ._memo import path_fingerprint, scratch_dir, scratch_persist

DIM = 64
TOP_K = 5
# LSH planes scale with candidate count so expected bucket occupancy
# (n / 2^planes) stays O(TARGET_BUCKET_OCCUPANCY) — a fixed plane count
# would make buckets (and the candidate pair set) grow linearly with n.
# Floor of 8 keeps the small-fixture behavior; the DuckDB oracle derives
# the same count from COUNT(*) so both sides stay in lockstep at every sf.
MIN_LSH_PLANES = 8
TARGET_BUCKET_OCCUPANCY = 4


def n_lsh_planes(n_vectors: int) -> int:
    if n_vectors <= TARGET_BUCKET_OCCUPANCY:
        return MIN_LSH_PLANES
    return max(MIN_LSH_PLANES, math.ceil(math.log2(n_vectors / TARGET_BUCKET_OCCUPANCY)))


# Executor-side memo for the ANN candidate matrix: one load + normalize per
# python worker process (workers are reused across tasks), not one per task.
# Keyed by (kind, path, fingerprint): the fingerprint (mtime + total size of
# the parquet files) invalidates stale vectors when the file is rewritten at
# the same path in a long-lived worker, and the float64 / int8 kinds each
# get one slot so the two ANN paths don't evict each other every task wave
# (round-3 advice).  One entry per kind bounds executor memory.
_CAND_CACHE: dict = {}


def _cand_cache_get(kind: str, path: str, load):
    """Fetch-or-load with per-kind single-slot eviction."""
    import pyarrow.parquet as pq  # noqa: F401
    from pyarrow import fs as pafs

    # FileSystem.from_uri resolves local paths AND object-store URIs
    # (s3://, hdfs://, gs://) — executor-side reads must not assume a
    # POSIX mount (round-2 advice).
    filesystem, fs_path = pafs.FileSystem.from_uri(path)
    key = (kind, path, path_fingerprint(filesystem, fs_path))
    hit = _CAND_CACHE.get(key)
    if hit is None:
        for k in [k for k in _CAND_CACHE if k[0] == kind]:
            del _CAND_CACHE[k]
        _CAND_CACHE[key] = hit = load(filesystem, fs_path)
    return hit


def _load_candidate_matrix(path: str):
    def load(filesystem, fs_path):
        import numpy as np
        import pyarrow.parquet as pq

        tbl = pq.read_table(fs_path, filesystem=filesystem, columns=["vec_id", "embedding"])
        ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
        cand = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float64)
        unit = cand / np.linalg.norm(cand, axis=1, keepdims=True)
        return ids, unit

    return _cand_cache_get("float64", path, load)


def _load_raw_matrix(path: str):
    """(ids, raw float64 matrix) — the UN-normalized sibling of
    ``_load_candidate_matrix`` for kernels that re-rank with the raw
    left-fold cosine (norms must be folded per vector, not divided out
    up front).  Executor-memoized per dataset fingerprint like every
    candidate loader."""

    def load(filesystem, fs_path):
        import numpy as np
        import pyarrow.parquet as pq

        tbl = pq.read_table(fs_path, filesystem=filesystem, columns=["vec_id", "embedding"])
        ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
        raw = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float64)
        return ids, raw

    return _cand_cache_get("raw_float64", path, load)


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product over dims 1..64 (double math).

    zip_with + fold: the products and the left-to-right summation order
    are bit-identical to an unrolled `p1 + p2 + ... + p64` chain (what the
    oracles spell out), but with one positional array walk instead of the
    old sequence(1,64) + two element_at probes per dimension — the dot is
    the inner loop of every ANN verify, so constant factors here are the
    whole game."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _normed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors per vector — blocked matmul.

    Each executor loads the (bounded) candidate matrix straight from
    storage, once per worker process (memoized; pyarrow.fs handles local
    and object-store paths alike) — the driver never materializes or ships
    the table, so there is no ``collect()`` anywhere in the lineage and no
    driver-memory ceiling.  Arrow batches of query vectors compute cosines against all
    candidates in one float64 matmul and emit only their top-k — O(k)
    output per row, never an O(n^2) materialized pair table.  At 100 TB
    the candidate side would be blocked/IVF-partitioned with a final
    per-query top-k merge (see ``ann_lsh_bucketed`` for the LSH variant).

    Cosines round to 6 decimals BEFORE ranking, with neighbor-id tiebreak,
    so ranking is deterministic and matches the fold-order-exact SQL oracle
    (matmul-vs-fold float error ~1e-15 is absorbed by the rounding).
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas batches are pandas)

    emb = load_table(spark, sf_dir, "embeddings")
    cand_path = os.path.join(sf_dir, "embeddings.parquet")

    def topk(batches):
        # Executor-side candidate load: memoized per worker process (see
        # _load_candidate_matrix) — one read/normalize per executor, not
        # per task, and filesystem-agnostic via pyarrow.fs.
        ids_b, unit_b = _load_candidate_matrix(cand_path)
        for pdf in batches:
            q = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            q_unit = q / np.linalg.norm(q, axis=1, keepdims=True)
            cos = np.round(q_unit @ unit_b.T, 6)
            out_vec, out_nbr, out_cos, out_rank = [], [], [], []
            for qi, vid in enumerate(pdf["vec_id"]):
                row = cos[qi]
                mask = ids_b != vid
                order = np.lexsort((ids_b[mask], -row[mask]))[:TOP_K]
                sel_ids = ids_b[mask][order]
                sel_cos = row[mask][order]
                out_vec.extend([vid] * len(order))
                out_nbr.extend(sel_ids.tolist())
                out_cos.extend(sel_cos.tolist())
                out_rank.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {"vec_id": out_vec, "neighbor_id": out_nbr,
                 "cos_sim": out_cos, "rank": out_rank}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        topk, schema="vec_id long, neighbor_id long, cos_sim double, rank long"
    )


def _signature_col(e: Column, n_planes: int) -> Column:
    """Random-hyperplane signature: sum over p of (dot_p(v) > 0) * 2^p.

    plane_p[j] = +1 if md5-hash("p:j") is odd else -1 — rederivable anywhere
    (incl. the oracle); a production deployment precomputes the plane matrix
    once and broadcasts it instead of hashing per row.
    """
    planes = _plane_matrix(n_planes)  # precomputed once, embedded as literals

    bit_vals = []
    for p in range(n_planes):
        lit_plane = F.array(*[F.lit(x) for x in planes[p]])
        # zip_with walk (one positional pass) — same products, same
        # left-fold order as the oracle's unrolled chain, ~2x the
        # throughput of sequence(1,64) + two element_at probes per dim
        # (HOFs run interpreted; see _dot).
        prods = F.zip_with(lit_plane, e, lambda pl, x: pl * x.cast("double"))
        dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bit_vals.append(F.when(dot > 0, F.lit(float(1 << p))).otherwise(F.lit(0.0)))
    sig = bit_vals[0]
    for b in bit_vals[1:]:
        sig = sig + b
    return sig.cast("long")


def _plane_matrix(n_planes: int) -> list[list[float]]:
    """±1 hyperplane components, identical to the oracle's md5 derivation
    (plane_p[j] = +1 iff md5-hash of "p:j" is odd) but computed once on the
    driver instead of per row."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [1.0 if h(f"{p}:{j}") % 2 == 1 else -1.0 for j in range(1, DIM + 1)]
        for p in range(n_planes)
    ]


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed candidate pairs with exact cosine (>= no threshold;
    bucket membership is the filter).  Output: (vec_a, vec_b, cos_sim).

    Shuffle discipline for 100 TB: only the (vec_id, sig) projection rides
    the bucket self-join shuffle — never the 64-float vectors.  The
    candidate pair set that comes out is LSH-small, so the vector fetch for
    both sides is a broadcast join against the (unshuffled) embeddings
    scan.  Plane count derives from n (``n_lsh_planes``) so expected bucket
    occupancy n / 2^planes stays O(1) at every scale; the count() that
    sizes it is a parquet-metadata-only job."""
    v = _normed_vectors(spark, sf_dir)
    planes = n_lsh_planes(load_table(spark, sf_dir, "embeddings").count())
    sigs = v.select("vec_id", _signature_col(F.col("embedding"), planes).alias("sig"))
    a = sigs.select(F.col("vec_id").alias("vec_a"), "sig")
    b = sigs.select(F.col("vec_id").alias("vec_b"), "sig")
    pairs = a.join(b, "sig").filter(F.col("vec_a") < F.col("vec_b")).select("vec_a", "vec_b")
    va = v.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    vb = v.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    # LSH pairs scale with duplication density, not a domain, and sit
    # above the bucket self-join barrier: a limit-probe would re-execute
    # that join once per gated call (the r10 2.1x regression), so the
    # size gate is AQE's runtime SMJ->broadcast conversion
    with_a = runtime_broadcast(pairs).join(va, "vec_a")
    cos = F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    return (
        runtime_broadcast(with_a)
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
    )


# Near-dup cosine threshold.  The driver fixture plants no true embedding
# duplicates (max pairwise cosine ~0.51), so the demo threshold sits where
# the fixture has signal; a production dedup pass would use ~0.95+.
EMB_NEAR_DUP_THRESHOLD = 0.3


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (dedup family, SURVEY.md §2.9): LSH-bucketed
    candidate pairs filtered to cosine >= threshold.  The bucket join keeps
    candidate generation ~linear; the threshold is the dedup decision.
    Output: (vec_a, vec_b, cos_sim)."""
    return ann_lsh_bucketed(spark, sf_dir).filter(
        F.col("cos_sim") >= EMB_NEAR_DUP_THRESHOLD
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the scale path next to brute force): the ``label``
    column acts as the coarse quantizer cell (probe=1), and exact top-k runs
    only WITHIN each cell as a grouped-map matmul — candidate count per
    query drops from n to n/cells, and each cell block fits executor memory
    by construction.  A trained IVF would assign cells by nearest centroid;
    the fixture's label IS that assignment, so the Spark plumbing (grouped
    Arrow blocks, per-block matmul, per-row top-k) is the real thing.

    Cosines round to 6 decimals before ranking with neighbor-id tiebreak —
    deterministic, oracle-reproducible (same trick as ann_cosine_topk)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def cell_topk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cos = np.round(unit @ unit.T, 6)
        out_vec, out_nbr, out_cos, out_rank = [], [], [], []
        for qi, vid in enumerate(ids):
            row = cos[qi]
            mask = ids != vid
            order = np.lexsort((ids[mask], -row[mask]))[:TOP_K]
            sel_ids = ids[mask][order]
            sel_cos = row[mask][order]
            out_vec.extend([vid] * len(order))
            out_nbr.extend(sel_ids.tolist())
            out_cos.extend(sel_cos.tolist())
            out_rank.extend(range(1, len(order) + 1))
        return pd.DataFrame(
            {"vec_id": out_vec, "neighbor_id": out_nbr,
             "cos_sim": out_cos, "rank": out_rank}
        )

    return emb.groupBy("label").applyInPandas(
        cell_topk, schema="vec_id long, neighbor_id long, cos_sim double, rank long"
    )


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against the exact brute-force baseline —
    the acceptance gate every approximate index ships with (FAISS calls it
    1-recall@k).  Per query: |IVF top-k ∩ exact top-k| / k.

    probe=1 cell search genuinely loses boundary neighbors, so recall < 1
    for some queries — the output is falsifiable, not a tautology.  (On the
    near-uniform synthetic fixture the label cells average ~0.10 recall@5
    at sf0.01 and the trained probe-2 quantizer ~0.47 — uniform vectors are
    ANN's worst case; the eval op existing is what lets a deployment SEE
    that and raise nprobe/K.)  Shape:
    two candidate frames of (vec_id, neighbor_id) id-pairs, one semi-join
    + count per query — the embeddings themselves never join here, only
    id pairs ride the shuffle, so the eval costs a fraction of either
    index build at any corpus size."""
    _, exact = _exact_cosine_ground_truth(spark, sf_dir)
    approx = ann_ivf_topk(spark, sf_dir).select("vec_id", "neighbor_id")
    k_per_q = exact.groupBy("vec_id").agg(F.count("*").alias("k"))
    hits = (
        exact.join(approx, ["vec_id", "neighbor_id"], "left_semi")
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        k_per_q.join(hits, "vec_id", "left")
        .fillna({"n_hits": 0})
        .select(
            "vec_id",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(
                F.col("n_hits").cast("double") / F.col("k").cast("double"), 6
            ).alias("recall_at_k"),
        )
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the memory
    lever that makes billion-vector ANN fit executor RAM (4x smaller than
    float32, 8x than float64; IVF/LSH candidate verify then runs on int8
    dot products rescaled by the per-vector scale).

    Map-only HOF program.  Rounding is floor(x + 0.5) written explicitly
    instead of round(): half-away vs half-even conventions differ across
    engines, floor does not — the same cross-engine-determinism discipline
    as the rational idf in text.tfidf_top_terms.  Output keeps the scale
    and the worst-dimension reconstruction error so the quality cost is
    inspectable.

    The quantized vector is emitted as a CSV string (``quant_csv``), not an
    ``array<int>``: the driver's correctness compare canonicalizes via a
    pandas sort + hash, which cannot hash list cells (the one red row in
    round 3).  A consumer wanting the array form splits on ','."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    max_abs = F.aggregate(
        F.transform(e, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    # Zero-vector guard: an all-zero embedding quantizes to zeros with a
    # tiny positive scale instead of dividing by zero.
    #
    # STAGED projections, not one expression tree: HOFs evaluate
    # interpreted, and a lambda that references the `scale` fold would
    # re-run that 64-element fold PER ELEMENT (and `quant_csv` would
    # re-run the whole `q` transform) — O(dim^2) work per row.  Binding
    # scale and q as real columns computes each once per row; values are
    # identical (same ops, same order).
    staged = emb.select(
        "vec_id",
        e,
        (F.greatest(max_abs, F.lit(1e-30)) / F.lit(127.0)).alias("scale_full"),
    ).select(
        "vec_id",
        e,
        "scale_full",
        F.transform(
            e,
            lambda x: F.floor(x.cast("double") / F.col("scale_full") + F.lit(0.5)).cast(
                "int"
            ),
        ).alias("q"),
    )
    recon_err = F.aggregate(
        F.zip_with(
            e,
            F.col("q"),
            lambda x, qi: F.abs(
                x.cast("double") - qi.cast("double") * F.col("scale_full")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    quant_csv = F.array_join(F.transform("q", lambda v: v.cast("string")), ",")
    return staged.select(
        "vec_id",
        F.round("scale_full", 6).alias("scale"),
        quant_csv.alias("quant_csv"),
        F.round(recon_err, 6).alias("max_abs_err"),
    )


LABEL_CENTROID_SCHEMA = "label int, dim int, centroid double"


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF surface (SURVEY.md §2.8): per-label embedding
    centroids via ``applyInPandas`` — Arrow-batched numpy math per group.

    Rows are sorted by vec_id inside the UDF so the float accumulation
    order is deterministic; results are rounded to 6 decimals to absorb
    the (deterministic-but-different) summation-tree vs the SQL oracle.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def centroid(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id")
        mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        mean = mat.mean(axis=0)
        return pd.DataFrame(
            {
                "label": pdf["label"].iloc[0],
                "dim": np.arange(1, mean.shape[0] + 1, dtype=np.int32),
                "centroid": np.round(mean, 6),
            }
        )

    return emb.groupBy("label").applyInPandas(centroid, schema=LABEL_CENTROID_SCHEMA)


def arrow_grouped_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` grouped map (NEW r6) — the last §2.8 UDF-surface
    leg next to pandas grouped-agg/grouped-map, mapInPandas, mapInArrow,
    UDTF, and stateful: per-label profile computed with pyarrow.compute
    ONLY (no pandas materialization — the Arrow batch is reduced in
    place, the zero-copy path for wide binary/list columns).

    Measures are integer-exact by construction (count, min/max id, and a
    milli-quantized first-dimension sum where floor(f64*1000) is
    deterministic elementwise on every engine), so the grouped-Arrow leg
    is hash-checked, not tolerance-checked."""
    import pyarrow as pa
    import pyarrow.compute as pc

    emb = load_table(spark, sf_dir, "embeddings")

    def profile(table: "pa.Table") -> "pa.Table":
        dim1 = pc.cast(pc.list_element(table["embedding"], 0), pa.float64())
        milli = pc.cast(pc.floor(pc.multiply(dim1, 1000.0)), pa.int64())
        return pa.table(
            {
                "label": pa.array([table["label"][0].as_py()], pa.int32()),
                "n_vecs": pa.array([table.num_rows], pa.int64()),
                "min_vec": pa.array([pc.min(table["vec_id"]).as_py()], pa.int64()),
                "max_vec": pa.array([pc.max(table["vec_id"]).as_py()], pa.int64()),
                "dim1_milli_sum": pa.array([pc.sum(milli).as_py()], pa.int64()),
            }
        )

    return emb.groupBy("label").applyInArrow(
        profile,
        schema="label int, n_vecs long, min_vec long, max_vec long, dim1_milli_sum long",
    )


def _load_quantized_matrix(path: str):
    """Executor memo of the int8-quantized candidate matrix (+ scales).

    Quantization here is elementwise IEEE arithmetic only (abs, max, one
    divide, +0.5, floor) — no reductions whose order could differ between
    numpy, Spark, and DuckDB — so every engine derives bit-identical
    integer vectors.  ~8x smaller resident memory than the float64 matrix
    of ``_load_candidate_matrix``."""

    def load(filesystem, fs_path):
        import numpy as np
        import pyarrow.parquet as pq

        tbl = pq.read_table(fs_path, filesystem=filesystem, columns=["vec_id", "embedding"])
        ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
        x = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float64)
        scale = np.maximum(np.abs(x).max(axis=1), 1e-30) / 127.0
        q = np.floor(x / scale[:, None] + 0.5).astype(np.int64)
        return ids, q, scale

    return _cand_cache_get("int8", path, load)


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors by int8-quantized dot product — the memory-bound
    scale path ANN engines actually run: integer matmul over vectors 8x
    smaller than float64, rescaled per pair back to approximate the true
    dot product.

    Determinism without rounding: the integer dot is EXACT, and the
    rescale is two ordered float multiplies ((d * scale_a) * scale_b) —
    single IEEE operations are bit-identical on every engine, so the
    DuckDB oracle reproduces scores exactly with no tolerance.  Ranking
    is (score desc, neighbor id asc).

    Shape mirrors ``ann_cosine_topk`` (executor-memoized candidate side,
    Arrow batches, O(k) output); the quantization uses the same
    max-abs/127 symmetric convention as ``embedding_quantize_int8``."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    cand_path = os.path.join(sf_dir, "embeddings.parquet")

    def topk(batches):
        ids_b, q_b, s_b = _load_quantized_matrix(cand_path)
        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            s_q = np.maximum(np.abs(x).max(axis=1), 1e-30) / 127.0
            q_q = np.floor(x / s_q[:, None] + 0.5).astype(np.int64)
            d = q_q @ q_b.T  # exact integer dot products
            score = (d.astype(np.float64) * s_q[:, None]) * s_b[None, :]
            out_vec, out_nbr, out_score, out_rank = [], [], [], []
            for qi, vid in enumerate(pdf["vec_id"]):
                row = score[qi]
                mask = ids_b != vid
                order = np.lexsort((ids_b[mask], -row[mask]))[:TOP_K]
                out_vec.extend([vid] * len(order))
                out_nbr.extend(ids_b[mask][order].tolist())
                out_score.extend(row[mask][order].tolist())
                out_rank.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {"vec_id": out_vec, "neighbor_id": out_nbr,
                 "qdot": out_score, "rank": out_rank}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        topk, schema="vec_id long, neighbor_id long, qdot double, rank long"
    )


KMEANS_K = 10
KMEANS_ITERS = 2


def _sq_dist(vec: Column, centroid: Column) -> Column:
    """Squared L2 distance as a sequential left fold over the dimension
    index — the same association order as the oracle's unrolled `t1 + t2 +
    ... + t64` chain, so IEEE doubles agree bit-for-bit."""
    terms = F.zip_with(vec, centroid, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c))
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def _with_ranked_cells(
    emb: DataFrame, cent_rows: list[tuple[int, list[float]]]
) -> DataFrame:
    """Adds ``ranked``: an ``array<struct<d,c>>`` of (round-6 sq-dist,
    cluster id) sorted ascending by (d, c) — the full argmin/probe ranking
    computed MAP-SIDE.

    r15 (§4 rewrite of the hottest interpreted-HOF ladder): the K x DIM
    squared-distance folds run as an explicit per-dimension numpy
    accumulation loop inside ONE ``mapInPandas`` pass — each step is the
    same IEEE ``(x - c) * (x - c)`` then left-fold add the interpreted
    ``zip_with``/``aggregate`` ladder performed per row, so the RAW sums
    are bit-identical (the ``_load_rp_candidate_matrix`` discipline;
    parity-pinned old-vs-new in ``tests/test_r15_parity.py``).  The
    round-6 and the (d, c) struct sort stay in Spark, so every
    engine-boundary value is produced by the same Catalyst expressions
    as before.  The quantizer (K*dim doubles — tiny at any corpus size)
    rides into the kernel as a closure constant; nothing shuffles.
    Struct ordering is lexicographic (d first, then c), identical to a
    ``min(struct(d, c))`` tiebreak."""
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    cell_ids = [int(c) for c, _ in cent_rows]
    cents = [list(map(float, v)) for _, v in cent_rows]
    out_schema = T.StructType(
        list(emb.schema.fields)
        + [T.StructField("_cell_d2", T.ArrayType(T.DoubleType(), False), False)]
    )

    def dists(batches):
        C = np.asarray(cents, dtype=np.float64)  # K x DIM closure constant
        n_cells, ndim = C.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            D = np.empty((len(pdf), n_cells), dtype=np.float64)
            for ki in range(n_cells):
                crow = C[ki]
                acc = np.zeros(len(pdf), dtype=np.float64)
                for d in range(ndim):
                    diff = X[:, d] - crow[d]
                    acc += diff * diff
                D[:, ki] = acc
            out = pdf.copy()
            out["_cell_d2"] = list(D)
            yield out

    ids_lit = F.array(*[F.lit(c).cast("int") for c in cell_ids])
    return (
        emb.mapInPandas(dists, out_schema)
        .withColumn(
            "ranked",
            F.array_sort(
                F.zip_with(
                    F.col("_cell_d2"),
                    ids_lit,
                    lambda d, cid: F.struct(
                        F.round(d, 6).alias("d"), cid.alias("c")
                    ),
                )
            ),
        )
        .drop("_cell_d2")
    )


def _ranked_cells_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus ``(vec_id, embedding, ranked)`` under the memoized
    FROZEN quantizer, scratch-persisted per embeddings fingerprint (r14
    optimization — the ``_capped_shingles`` discipline): eleven registry
    queries derive this exact frame per call, and each derivation is an
    interpreted higher-order-expression ladder (K cells x DIM round-6
    sq-dists per row, ~1-2 s per call at sf0.1).  The values are
    deterministic (round-6 distance + cell-id tiebreak), the artifact
    stays distributed (parquet out, parquet in, never collected), and
    persisting the cell assignment is exactly what a production IVF
    deployment does — the index IS this table."""
    from ._memo import memo_get

    def compute():
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return {
            "path": scratch_persist(
                _with_ranked_cells(emb, _kmeans_fit(spark, sf_dir)),
                "ranked_cells",
            )
        }

    state = memo_get("ranked_cells", sf_dir, ("embeddings",), compute)
    return spark.read.parquet(state["path"])


def _kmeans_fit(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """KMEANS_ITERS Lloyd rounds; returns the fitted (cluster, centroid)
    rows — K*dim doubles, literal-foldable at any corpus size.  Each round
    is one map-side assignment + one grouped decimal-mean aggregate; the
    driver only ever holds the K*dim quantizer.

    The fit is memoized driver-side per dataset fingerprint: three
    registry queries (kmeans_train, ann_ivf_kmeans, ann_recall_at_k's IVF
    side) need the IDENTICAL deterministic quantizer, and the K*dim-double
    result is the textbook memo candidate — re-fitting per query repays
    two full Lloyd jobs for an artifact that fits in a closure."""
    from ._memo import memo_get

    return memo_get(
        "kmeans_fit", sf_dir, ("embeddings",), lambda: _kmeans_fit_uncached(spark, sf_dir)
    )


def _kmeans_fit_uncached(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float]]]:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _kmeans_fit_frame(emb)


def _kmeans_fit_frame(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """Lloyd fit over an arbitrary (vec_id, embedding) frame — the seam
    the drift RESPONSE needs (``ann_ivf_quantizer_refresh`` refits on
    index ∪ drifted batch), factored out of the corpus fit so both run
    the identical deterministic recipe: init = K lowest vec_ids, round-6
    argmin assignment with cluster tiebreak, exact decimal-sum means."""
    init = sorted(
        emb.orderBy("vec_id").limit(KMEANS_K).collect(), key=lambda r: r["vec_id"]
    )
    cent_rows = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(init)]
    mean_cols = [
        (
            F.sum(F.col("embedding").getItem(i).cast("double").cast("decimal(38,15)"))
            .cast("double")
            / F.count("*")
        ).alias(f"m{i}")
        for i in range(DIM)
    ]
    for _ in range(KMEANS_ITERS):
        rows = (
            _with_ranked_cells(emb, cent_rows)
            .select(F.element_at("ranked", 1)["c"].alias("cluster"), "embedding")
            .groupBy("cluster")
            .agg(*mean_cols)
            .collect()  # K rows of K*dim doubles — driver-bounded
        )
        cent_rows = sorted(
            (int(r["cluster"]), [float(r[f"m{i}"]) for i in range(DIM)]) for r in rows
        )
    return cent_rows


def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column — the
    training step an IVF index needs for its coarse quantizer (vs.
    ann_ivf_topk, which borrows the label column as pre-trained cells).

    Deterministic contract (oracle-verifiable, like everything else):
    init centroids are the K lowest vec_ids; each round assigns by
    squared-L2 argmin (distance rounded to 6, cluster id tiebreak) and
    recomputes centroid means with the decimal-sum convention (exact
    per-dimension sums, one correctly-rounded double divide) so the 32-way
    parallel sums equal DuckDB's serial ones exactly.

    Scale shape: each round assigns MAP-SIDE against the K*dim-double
    quantizer folded into the plan as literals (no crossJoin, no argmin
    shuffle — the only exchange is the 64-decimal-sum partial aggregate),
    and the driver ever holds K*dim doubles.  Rounds are a fixed constant
    (KMEANS_ITERS) — the plan does not grow with data volume.  Output:
    final assignment + distance, also fully map-side (zero shuffles)."""
    best = F.element_at("ranked", 1)
    return _ranked_cells_src(spark, sf_dir).select(
        "vec_id", best["c"].alias("cluster"), best["d"].alias("dist_sq")
    )


IVF_PROBE = 2


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer (the production shape;
    ann_ivf_topk borrows the label column instead): vectors index into
    their argmin k-means cell, queries probe their IVF_PROBE nearest cells,
    and exact cosine top-k runs only within probed cells.

    Probe > 1 is what buys recall back at scale: a query near a cell
    boundary still sees its true neighbors in the adjacent cell, at
    2x candidate cost instead of n.  Candidate count per query is
    probe * n / K; the cell equi-join shuffles (vec_id, cell) pairs plus
    the embeddings needed for the verify — the same candidate-only verify
    discipline as MinHash-LSH.

    Determinism: distances and cosines round to 6 before ranking, cluster
    and neighbor ids break ties — the float64 matmul then round-6 agrees
    with the oracle's unrolled fold at every observed value (the same
    accepted equivalence as ann_ivf_topk, which has been oracle-green on
    this formulation since round 1)."""
    import numpy as np
    import pandas as pd

    with_cells = _ranked_cells_src(spark, sf_dir)
    # Both the index assignment (nearest cell, probe rank 1) and the probe
    # set (nearest IVF_PROBE cells) come out of the same map-side ranking —
    # no crossJoin row multiplication and no per-vector window shuffle.
    # Each vector is exploded to (cluster, is_member) rows: within a
    # cluster, is_member marks the vectors INDEXED there (their argmin
    # cell); every exploded row is a query probing that cluster.  The
    # verify is then one grouped-cell matmul per cluster (the
    # ann_ivf_topk shape — Arrow blocks, float64 BLAS, candidate-only),
    # instead of an 800k-row join + per-pair HOF fold.
    probes = with_cells.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.transform(F.slice("ranked", 1, IVF_PROBE), lambda s: s["c"])
        ).alias("probe_rank", "cluster"),
    ).select(
        "cluster", "vec_id", "embedding", (F.col("probe_rank") == 0).alias("is_member")
    )

    def cell_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        member = pdf["is_member"].to_numpy()
        m_ids = ids[member]
        cos = np.round(unit @ unit[member].T, 6)
        qi, mi = np.nonzero(ids[:, None] != m_ids[None, :])
        return pd.DataFrame(
            {
                "vec_id": ids[qi],
                "neighbor_id": m_ids[mi],
                "cos_sim": cos[qi, mi],
            }
        )

    pairs = probes.groupBy("cluster").applyInPandas(
        cell_pairs, schema="vec_id long, neighbor_id long, cos_sim double"
    )
    # Top-k must be GLOBAL per query across its IVF_PROBE cells, so the
    # rank runs after the cells union — one shuffle of (id, id, cos)
    # triples, never of embeddings.
    rw = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.select(
            "vec_id", "neighbor_id", "cos_sim",
            F.row_number().over(rw).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= TOP_K)
    )


NPROBE_RECALL_TARGET = 0.9


def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe auto-tune — the quality/cost knob every IVF deployment
    hand-sets, selected from measurement instead (the ANN sibling of
    ``lsh_band_autotune``): for every nprobe in 1..K, micro-averaged
    recall@k of the trained-quantizer IVF search against the exact cosine
    ground truth over the bounded query batch, next to the EXACT scanned-
    row cost (sum of the first-nprobe cell sizes per query); chosen = the
    smallest nprobe whose recall clears NPROBE_RECALL_TARGET (nprobe = K
    probes every cell, so recall 1.0 bounds the sweep and a chosen row
    always exists).

    The sweep needs NO per-nprobe search: an exact-top-k member whose
    cell is within the query's first nprobe cells is ALWAYS in the IVF
    top-k (anything ranked above it among candidates is itself an exact
    top-k member), so recall(nprobe) = #{gt pairs with probe_rank <=
    nprobe} / |gt| — pure id-pair arithmetic off ONE cell-ranking pass.

    Exactness: probe ranks ride the quantizer's (round-6 sq-dist, cell)
    total order (identical tiebreaks in both engines); hits and scanned
    rows are exact integers; both ratios go through the portable
    floor(x*1e6+0.5)/1e6 chain; ``chosen`` compares those exact doubles.

    Scale shape: one map-side cell-ranking pass over the corpus (the
    broadcast-quantizer ``_with_ranked_cells`` discipline) + one K-bounded
    cell-size aggregate; the ground truth is the memoized parquet-backed
    id-pair set (batch-restricted), and everything after is arithmetic on
    batch*K-bounded frames — embeddings never ride a shuffle.  At 100 TB
    the sweep costs one assignment scan, not K searches."""
    ranked = _ranked_cells_src(spark, sf_dir)
    members = ranked.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at("ranked", 1)["c"].alias("cell"),
    )
    cell_sizes = members.groupBy("cell").agg(
        F.count("*").cast("long").alias("cell_n")
    )
    queries = ranked.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0).select(
        F.col("vec_id").alias("qid"),
        F.transform("ranked", lambda s: s["c"]).alias("cells"),
    )
    _, exact = _exact_cosine_ground_truth(spark, sf_dir)
    gt = exact.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0).select(
        F.col("vec_id").alias("qid"), "neighbor_id"
    )
    # gt and queries are batch-bounded but corpus-derived -> size-gated
    gtr = (
        broadcast_if_small(gt)
        .join(members, "neighbor_id")
        .join(broadcast_if_small(queries), "qid")
        .select(F.array_position("cells", F.col("cell")).alias("probe_rank"))
    )
    ns = spark.range(1, KMEANS_K + 1).select(F.col("id").cast("int").alias("nprobe"))
    rec = (
        gtr.crossJoin(F.broadcast(ns))
        .groupBy("nprobe")
        .agg(
            F.sum(F.when(F.col("probe_rank") <= F.col("nprobe"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits")
        )
    )
    csz = (
        queries.select("qid", F.posexplode("cells").alias("pos", "cell"))
        .join(F.broadcast(cell_sizes), "cell")  # K rows: domain-bounded
        .select((F.col("pos") + 1).alias("probe_pos"), "cell_n")
    )
    scn = (
        csz.crossJoin(F.broadcast(ns))
        .groupBy("nprobe")
        .agg(
            F.sum(
                F.when(F.col("probe_pos") <= F.col("nprobe"), F.col("cell_n")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("scanned_rows")
        )
    )
    tot = gt.agg(
        F.count("*").cast("long").alias("n_gt"),
        F.countDistinct("qid").cast("long").alias("n_q"),
    )
    # row count over the memoized ranking (one row per corpus vector —
    # the ranking is a per-row map, so |ranked| == |embeddings|)
    nv = ranked.agg(F.count("*").cast("long").alias("n_vec"))
    recall = F.floor(
        F.col("n_hits").cast("double") / F.col("n_gt").cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    frac = F.floor(
        F.col("scanned_rows").cast("double")
        / (F.col("n_q") * F.col("n_vec")).cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    w = Window.partitionBy()  # K rows: domain-bounded global window
    return (
        rec.join(scn, "nprobe")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nv))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_hits",
            recall.alias("recall_at_k"),
            "scanned_rows",
            frac.alias("scanned_frac"),
        )
        .withColumn(
            "chosen",
            F.col("nprobe")
            == F.min(
                F.when(
                    F.col("recall_at_k") >= F.lit(NPROBE_RECALL_TARGET),
                    F.col("nprobe"),
                )
            ).over(w),
        )
    )


def ann_query_broadcast_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-batch ANN serving, corpus-streamed (NEW r6): the INVERSE
    data movement of ``ann_cosine_topk`` — there the query stream flows
    past a per-executor candidate matrix; here a SMALL query batch
    (label==0 vectors, the serving premise: query batches are
    request-sized) is broadcast, and the 100 TB side — the corpus — is
    only ever STREAMED through mapInPandas partitions.  Filtered ANN for
    free: the corpus predicate (label != 0) pushes into the parquet scan
    before any vector math.

    Each corpus partition emits only its per-query top-K (distributed
    TakeOrdered: the global top-K of the per-partition top-Ks is exact),
    so the one shuffle carries O(partitions * |queries| * K) id/score
    triples — never embeddings, never the corpus.  Round-6-before-rank
    with corpus-id tiebreaks at both levels, same accepted matmul-vs-fold
    equivalence as the other cosine families."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = sorted(
        collect_request_sized(
            emb.filter(F.col("label") == 0).select("vec_id", "embedding"),
            what="ann_query_broadcast_topk query batch",
        ),
        key=lambda r: r["vec_id"],
    )  # request-size premise ENFORCED (raises above the cap) — the ONLY
    #    driver materialization in this operator
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r["embedding"]) for r in q_rows], dtype=np.float64)
    q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((q_ids, q_unit))

    def partition_topk(batches):
        ids_q, unit_q = bq.value
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy()
            mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            unit_c = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            cos = np.round(unit_q @ unit_c.T, 6)
            out_q, out_c, out_s = [], [], []
            for qi in range(len(ids_q)):
                row = cos[qi]
                order = np.lexsort((c_ids, -row))[:TOP_K]
                out_q.extend([ids_q[qi]] * len(order))
                out_c.extend(c_ids[order].tolist())
                out_s.extend(row[order].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "corpus_id": out_c, "cos_sim": out_s}
            )

    partial = (
        emb.filter(F.col("label") != 0)
        .select("vec_id", "embedding")
        .mapInPandas(
            partition_topk, schema="query_id long, corpus_id long, cos_sim double"
        )
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("corpus_id"))
    return (
        partial.select(
            "query_id", "corpus_id", "cos_sim",
            F.row_number().over(rw).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= TOP_K)
    )


_IVF_INDEX_MEMO: dict[tuple, str] = {}


def _build_ivf_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Persist the IVF index INTO THE TXLOG TABLE FORMAT, cell-chunked:
    assignments (vec_id, cluster, embedding) appended as 4 cluster-RANGE
    chunks, each commit carrying a ``cluster`` zone map — so a probe of
    cell c lists only the directories whose range covers c.  This is the
    index-as-table lifecycle: the index survives the session, serves
    queries through ordinary pruned scans, and inherits the txlog's
    snapshot/commit semantics (a rebuild is just new appends + a new
    snapshot)."""
    from ..storage import txlog

    key = memo_key(spark, sf_dir, "embeddings")
    if key not in _IVF_INDEX_MEMO:
        assigned = _ranked_cells_src(spark, sf_dir).select(
            "vec_id",
            F.element_at("ranked", 1)["c"].alias("cluster"),
            "embedding",
        ).persist()
        table = scratch_dir("ivf_index", "idx")
        try:
            bounds = [KMEANS_K * i // 4 for i in range(5)]
            bounds[4] = KMEANS_K
            assigned.count()  # materialize the cache before the writers fan out
            txlog.append_many_tx(
                spark,
                table,
                [
                    (
                        assigned.filter(
                            (F.col("cluster") >= bounds[i])
                            & (F.col("cluster") < bounds[i + 1])
                        ),
                        i,
                    )
                    for i in range(4)
                ],
                stats_cols=["cluster"],
            )
        finally:
            assigned.unpersist(blocking=False)
        _IVF_INDEX_MEMO[key] = table
    return _IVF_INDEX_MEMO[key]


def _ivf_probe_serve(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    keep=None,
    quantizer=None,
    corpus=None,
    query_pred=None,
) -> DataFrame:
    """Serve IVF queries from a PERSISTED index-as-table: the query set
    is every vector whose argmin cell is 0 (deterministic), their
    IVF_PROBE nearest cells come map-side from the broadcast quantizer,
    and the candidate lists are PRUNED READS of the stored index — one
    ``txlog.read_table(prune={"cluster": (c, c)})`` per probed cell, so
    only the cell-range directories covering the probe set are ever
    listed (pytest pins the dir count).  Shared by ``ann_ivf_persisted``
    (one-shot build) and ``ann_ivf_incremental`` (build + batch append +
    ranged OPTIMIZE) — both must serve answers identical to the
    in-memory ``ann_ivf_kmeans`` restricted to the cell-0 queries.

    At 100 TB this is the real serving shape: the index is sharded by
    cell on disk, a query touches probe-many shards, and nothing about
    the search re-reads the corpus."""
    import numpy as np
    import pandas as pd

    from ..storage import txlog

    # quantizer/corpus seams (r14): the refresh serve assigns queries
    # with the REFIT quantizer over the UNION corpus; defaults keep the
    # frozen-quantizer full-corpus contract for every prior caller.
    if corpus is None and quantizer is None:
        # default seam: the memoized frozen-quantizer full-corpus ranking
        # (filters commute with the per-row ranking, so ``keep`` applies
        # identically after it)
        with_cells = _ranked_cells_src(spark, sf_dir)
        if keep is not None:
            with_cells = with_cells.filter(keep)
    else:
        emb = (
            corpus
            if corpus is not None
            else load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            )
        )
        if keep is not None:
            emb = emb.filter(keep)
        with_cells = _with_ranked_cells(
            emb, quantizer if quantizer is not None else _kmeans_fit(spark, sf_dir)
        )
    queries = with_cells.filter(
        query_pred(with_cells)
        if query_pred is not None
        else F.element_at("ranked", 1)["c"] == 0
    ).select(
        "vec_id",
        "embedding",
        F.transform(F.slice("ranked", 1, IVF_PROBE), lambda s: s["c"]).alias("probe_cells"),
    ).persist()
    try:
        probe_cells = sorted(
            r["c"]
            for r in queries.select(
                F.explode("probe_cells").alias("c")
            ).distinct().collect()
        )  # <= K ints — driver-bounded by construction
        cand_parts = []
        for c in probe_cells:
            part = txlog.read_table(spark, table, prune={"cluster": (c, c)})
            if part is None:
                raise RuntimeError(f"IVF index cell {c} unreadable")
            cand_parts.append(part.filter(F.col("cluster") == c))
        candidates = cand_parts[0]
        for p in cand_parts[1:]:
            candidates = candidates.unionByName(p)
        q_leg = queries.select(
            F.explode("probe_cells").alias("cluster"),
            "vec_id",
            "embedding",
            F.lit(False).alias("is_member"),
        )
        m_leg = candidates.select(
            "cluster", "vec_id", "embedding", F.lit(True).alias("is_member")
        )
        both = q_leg.unionByName(m_leg)

        def cell_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values(["vec_id", "is_member"])
            members = pdf[pdf["is_member"]]
            qs = pdf[~pdf["is_member"]]
            if members.empty or qs.empty:
                return pd.DataFrame(
                    {"vec_id": [], "neighbor_id": [], "cos_sim": []}
                ).astype({"vec_id": "int64", "neighbor_id": "int64", "cos_sim": "float64"})
            q_mat = np.asarray(qs["embedding"].tolist(), dtype=np.float64)
            m_mat = np.asarray(members["embedding"].tolist(), dtype=np.float64)
            q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
            m_unit = m_mat / np.linalg.norm(m_mat, axis=1, keepdims=True)
            cos = np.round(q_unit @ m_unit.T, 6)
            q_ids = qs["vec_id"].to_numpy()
            m_ids = members["vec_id"].to_numpy()
            qi, mi = np.nonzero(q_ids[:, None] != m_ids[None, :])
            return pd.DataFrame(
                {"vec_id": q_ids[qi], "neighbor_id": m_ids[mi], "cos_sim": cos[qi, mi]}
            )

        pairs = both.groupBy("cluster").applyInPandas(
            cell_pairs, schema="vec_id long, neighbor_id long, cos_sim double"
        )
        rw = Window.partitionBy("vec_id").orderBy(
            F.desc("cos_sim"), F.asc("neighbor_id")
        )
        return (
            pairs.select(
                "vec_id", "neighbor_id", "cos_sim",
                F.row_number().over(rw).cast("long").alias("rank"),
            )
            .filter(F.col("rank") <= TOP_K)
        )
    finally:
        queries.unpersist(blocking=False)


def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search served from the PERSISTED index (NEW r6; serve shape in
    ``_ivf_probe_serve``): one-shot cell-range-chunked build, then pruned
    probe reads — the proof that an index round-tripped through storage
    (float32 arrays through parquet) serves bit-identical answers."""
    return _ivf_probe_serve(spark, sf_dir, _build_ivf_index_table(spark, sf_dir))


#: Arriving-batch selector for the incremental-IVF proof: vectors with
#: vec_id % IVF_INGEST_MOD == 0 play the new embedding batch.
IVF_INGEST_MOD = 5


def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (NEW r11) — FAISS's
    add-then-search contract on an IndexIVF (SURVEY §2.9): new embedding
    batches are assigned MAP-SIDE to the FROZEN quantizer (no retrain)
    and APPENDED to the index-as-table through the txlog (batch-id
    idempotent — a replayed ingest is a no-op, pytest-pinned), then the
    storage layer's ranged OPTIMIZE (``txlog.compact_ranged_tx``)
    re-clusters the arrival-ordered append into cell-range directories so
    probe reads prune again.

    Proof run: vectors with vec_id % IVF_INGEST_MOD == 0 play the
    arriving batch.  Build stage: the already-indexed corpus lands in 4
    cell-range chunks (batch ids 0-3, cluster zone maps).  Ingest stage:
    ONE append of the batch's frozen-quantizer assignments (batch id 4 —
    its zone map spans the whole cell domain, the pruning regression the
    OPTIMIZE then repairs).  Serve: the shared ``_ivf_probe_serve``
    pruned probe over the maintained index must equal the in-memory IVF
    over the UNIONED corpus — the oracle recomputes that from raw
    parquet, and ``neighbor_is_batch`` flags results that only exist
    because the ingest is searchable.

    Scale shape: ingest cost is O(batch) — one map-side assignment pass,
    one append commit; the OPTIMIZE rewrite is O(index), amortized by
    the ``auto_compact`` pressure policy in production (here run inline
    so the pruning proof is deterministic).  The corpus is never
    re-assigned, the quantizer never retrains, embeddings never ride a
    shuffle."""
    from ..storage import txlog

    assigned = _ranked_cells_src(spark, sf_dir).select(
        "vec_id",
        F.element_at("ranked", 1)["c"].alias("cluster"),
        "embedding",
    ).persist()
    is_batch = F.col("vec_id") % IVF_INGEST_MOD == 0
    table = scratch_dir("ivf_index", "inc")
    bounds = [KMEANS_K * i // 4 for i in range(5)]
    bounds[4] = KMEANS_K
    try:
        base = assigned.filter(~is_batch)
        for i in range(4):
            # coalesce: each range chunk is corpus/4 rows of (id, cell,
            # vector) — a handful of parquet files beats 32 splinters
            # (at 100 TB the writer parallelism comes from the data size,
            # not from splitting a small chunk across every core)
            txlog.append_tx(
                spark,
                table,
                base.filter(
                    (F.col("cluster") >= bounds[i])
                    & (F.col("cluster") < bounds[i + 1])
                ).coalesce(4),
                batch_id=i,
                stats_cols=["cluster"],
            )
        # ingest: ONE arrival-ordered append of the new batch (spans the
        # whole cell domain); replaying batch_id=4 is a no-op
        if not txlog.append_tx(
            spark,
            table,
            assigned.filter(is_batch).coalesce(4),
            batch_id=4,
            stats_cols=["cluster"],
        ):
            raise RuntimeError("incremental IVF ingest commit did not apply")
        # ranged OPTIMIZE: restore cell-range pruning after the append
        if not txlog.compact_ranged_tx(
            spark, table, "cluster", bounds, stats_cols=["cluster"]
        ):
            raise RuntimeError("ranged OPTIMIZE found an empty index table")
    finally:
        assigned.unpersist(blocking=False)
    return _ivf_probe_serve(spark, sf_dir, table).withColumn(
        "neighbor_is_batch", F.col("neighbor_id") % IVF_INGEST_MOD == 0
    )


# SemDeDup decision threshold.  Like EMB_NEAR_DUP_THRESHOLD this sits where
# the near-uniform fixture has signal (max pairwise cosine ~0.51); a
# production pass over real embeddings uses ~0.95.
SEMDEDUP_THRESHOLD = 0.3


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with k-means and comparing
    cosines only WITHIN each cluster — the trick that turns O(n^2)
    semantic dedup into per-cell blocks.  Deterministic keep rule: a
    vector is a duplicate iff some LOWER-id vector in its cell has cosine
    >= SEMDEDUP_THRESHOLD with it (lowest id in each semantic group
    survives; the paper keeps a random member — id order is the
    reproducible equivalent).

    Output per vector: (vec_id, cluster, max_cos_lower, is_dup) —
    max_cos_lower (NULL for each cell's lowest id) is the evidence column
    a tuning pass reads to pick the threshold.

    Scale shape: the cluster assignment is MAP-SIDE against the memoized
    broadcast quantizer (shared with kmeans_train / ann_ivf_kmeans — no
    refit); the only shuffle is the groupBy(cluster), and each cell's
    pairwise block runs as one grouped Arrow matmul.  Cell size is
    n / K, bounded in production by scaling K ~ sqrt(n) (the paper runs
    50k clusters for LAION) — never an all-pairs join."""
    import numpy as np
    import pandas as pd

    with_cells = _ranked_cells_src(spark, sf_dir).select(
        "vec_id", "embedding", F.element_at("ranked", 1)["c"].alias("cluster")
    )

    def cell_dedup(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cos = np.round(unit @ unit.T, 6)
        max_lower = [None] + [float(cos[i, :i].max()) for i in range(1, len(ids))]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].to_numpy(),
                "max_cos_lower": pd.array(max_lower, dtype="Float64"),
                "is_dup": [
                    m is not None and m >= SEMDEDUP_THRESHOLD for m in max_lower
                ],
            }
        )

    return with_cells.groupBy("cluster").applyInPandas(
        cell_dedup,
        schema="vec_id long, cluster int, max_cos_lower double, is_dup boolean",
    )


# Fraction of each cluster kept by the pruning rule (exact integer
# arithmetic: rank*10 <= n*9 keeps the closest 90%).
PROTO_KEEP_NUM, PROTO_KEEP_DEN = 9, 10


def embedding_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): rank every vector by distance to its assigned
    k-means centroid and flag the farthest (100 - 90)% of each cluster as
    prune candidates — the self-supervised pruning metric computed without
    labels.  Keep/prune is exact integer arithmetic (rank*10 > n*9), so
    the oracle reproduces the boundary bit-for-bit.

    Scale shape: distance + assignment are MAP-SIDE against the memoized
    broadcast quantizer (no refit, no crossJoin); the rank is a window
    partitioned by cluster — one shuffle of (id, cluster, dist) triples,
    embeddings never leave their scan."""
    best = F.element_at("ranked", 1)
    assigned = _ranked_cells_src(spark, sf_dir).select(
        "vec_id", best["c"].alias("cluster"), best["d"].alias("dist_sq")
    )
    w = Window.partitionBy("cluster").orderBy(F.asc("dist_sq"), F.asc("vec_id"))
    cw = Window.partitionBy("cluster")
    return assigned.select(
        "vec_id",
        "cluster",
        "dist_sq",
        F.row_number().over(w).cast("long").alias("proto_rank"),
        F.count("*").over(cw).cast("long").alias("n_cluster"),
    ).withColumn(
        "is_pruned",
        F.col("proto_rank") * PROTO_KEEP_DEN > F.col("n_cluster") * PROTO_KEEP_NUM,
    )


RRF_K = 60           # the standard reciprocal-rank-fusion constant
HYBRID_TOP_K = 20    # per-list depth feeding the fusion


def hybrid_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-k fused with embedding-cosine
    semantic top-k by reciprocal rank fusion (Cormack et al. 2009):
    rrf(d) = Σ_lists 1 / (60 + rank_list(d)) — the standard fusion in RAG
    retrieval stacks.  RRF is rank-only arithmetic: two correctly-rounded
    IEEE divisions and one add per doc, so the fusion is bit-exact
    cross-engine with no tolerance (ranks themselves come from the two
    already-deterministic lists).

    The demo query: BM25_QUERY terms lexically; vec 0's embedding
    semantically (vec_id aligns with doc_id in the fixture).

    Shape: the lexical list is bm25_topk (one-row stats broadcast +
    TakeOrdered); the semantic list scores cosine MAP-SIDE against one
    broadcast query row and TakeOrders the top-k; fusion joins two
    k-row lists — everything after the two scans is bounded by k, not
    corpus size."""
    from .text import bm25_topk

    lex = bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").cast("long").alias("lex_rank")
    )
    v = _normed_vectors(spark, sf_dir)
    qrow = v.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    cos = F.round(
        _dot(F.col("embedding"), F.col("q_emb")) / (F.col("nrm") * F.col("q_nrm")), 6
    )
    sem_scored = (
        v.crossJoin(F.broadcast(qrow))
        .filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos_sim"))
    )
    sem_top = sem_scored.orderBy(F.desc("cos_sim"), F.asc("doc_id")).limit(HYBRID_TOP_K)
    sw = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    sem = sem_top.select(
        "doc_id", F.row_number().over(sw).cast("long").alias("sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("lex_rank").cast("double")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("sem_rank").cast("double")), F.lit(0.0)
    )
    fw = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.select("doc_id", "lex_rank", "sem_rank", F.round(rrf, 6).alias("rrf"))
        .withColumn("rank", F.row_number().over(fw).cast("long"))
    )


def embedding_norm_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms via ``mapInArrow`` — the pure-Arrow UDF surface (SURVEY.md
    §2.8): RecordBatches in, RecordBatches out, no pandas materialization.
    Completes the Python-boundary family next to pandas_udf (grouped agg),
    applyInPandas (grouped map), mapInPandas (stream map), the UDTF, and
    applyInPandasWithState/transformWithState.

    Cross-engine numerics: squares fold LEFT-ASSOCIATIVELY in float64 — the
    same association as the Spark-side ``F.aggregate`` dots and the
    DuckDB ``list_reduce`` oracle — and the 6-place truncation is the
    floor-based tie-free form, so the emitted norm is bit-identical
    everywhere.  The unit-norm boolean re-normalizes and checks the self
    dot lands within 1e-9 of 1 (the oracle pins TRUE).

    Scale: map-only, zero shuffle; Arrow batches stream through without a
    per-row Python boundary crossing."""
    import math

    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    out_pa = pa.schema(
        [
            pa.field("vec_id", pa.int64()),
            pa.field("norm_6", pa.float64()),
            pa.field("unit_after_normalize", pa.bool_()),
        ]
    )

    def norms(batches):
        for batch in batches:
            ids = batch.column("vec_id").to_pylist()
            vecs = batch.column("embedding").to_pylist()
            out_n, out_u = [], []
            for vec in vecs:
                acc = 0.0
                for x in vec:
                    acc += float(x) * float(x)
                nrm = math.sqrt(acc)
                out_n.append(math.floor(nrm * 1000000.0) / 1000000.0)
                d = 0.0
                for x in vec:
                    y = float(x) / nrm
                    d += y * y
                out_u.append(abs(d - 1.0) <= 1e-9)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(out_n, pa.float64()),
                    pa.array(out_u, pa.bool_()),
                ],
                schema=out_pa,
            )

    return emb.mapInArrow(
        norms, "vec_id long, norm_6 double, unit_after_normalize boolean"
    )


RP_DIM = 8  # Johnson-Lindenstrauss target dimensionality (64 -> 8)


def _rp_matrix(n_planes: int = RP_DIM) -> list[list[float]]:
    """±1 Achlioptas projection components, seeded ``rp:p:j`` so the family
    is independent of the LSH plane family; same md5 derivation as
    ``_plane_matrix`` and rederivable by the oracle.  Widths share the
    seed family, so the first 8 planes of the 32-wide ANN matrix ARE the
    8-wide reduction matrix."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [1.0 if h(f"rp:{p}:{j}") % 2 == 1 else -1.0 for j in range(1, DIM + 1)]
        for p in range(n_planes)
    ]


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64 -> 8 via a ±1
    (Achlioptas 2003) random projection — the cheap, data-independent
    alternative to PCA for shrinking embedding columns before clustering /
    ANN at corpus scale.  y_p = <plane_p, x> / sqrt(RP_DIM); the sparse
    ±1 family satisfies the JL lemma with the same distortion bounds as
    Gaussian planes but needs no float matrix and no training pass.

    Map-only: the 8x64 matrix rides as column literals (a production
    deployment broadcasts it), each component is one zip_with product walk
    + left fold — no shuffle, no UDF, whole-stage-codegen eligible.
    Cross-engine exactness: identical left-fold order on both engines and
    a single correctly-rounded division by sqrt(8), so outputs are
    bit-identical with no rounding applied."""
    v = load_table(spark, sf_dir, "embeddings")
    planes = _rp_matrix()
    cols = [F.col("vec_id")]
    for p in range(RP_DIM):
        lit_plane = F.array(*[F.lit(x) for x in planes[p]])
        prods = F.zip_with(
            lit_plane, F.col("embedding"), lambda pl, x: pl * x.cast("double")
        )
        dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        cols.append((dot / F.sqrt(F.lit(float(RP_DIM)))).alias(f"proj_{p}"))
    return v.select(*cols)


RP_TOPK_DIM = 32  # ANN projection width: 2x reduction, ~0.8 recall@5
RP_CAND_M = 100  # candidates surviving the projected-space cut


def _load_rp_candidate_matrix(path: str):
    """(ids, raw64, n64, proj, nproj) memo: the projected candidate matrix
    plus what the exact rerank needs.  Projection and norms use EXPLICIT
    left-fold accumulation (one vectorized pass per dimension), so every
    scalar matches the oracle's unrolled fold chains bit-for-bit — numpy's
    pairwise-summing matmul would drift ~1e-16 at the candidate-cut
    boundary."""

    def load(filesystem, fs_path):
        import numpy as np
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            fs_path, filesystem=filesystem, columns=["vec_id", "embedding"]
        )
        ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
        raw = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float64)
        planes = np.asarray(_rp_matrix(RP_TOPK_DIM), dtype=np.float64)
        proj = np.zeros((raw.shape[0], RP_TOPK_DIM))
        for p in range(RP_TOPK_DIM):
            acc = np.zeros(raw.shape[0])
            for j in range(DIM):  # left fold, matches the oracle
                acc += planes[p, j] * raw[:, j]
            proj[:, p] = acc / np.sqrt(float(RP_TOPK_DIM))
        nproj = np.zeros(raw.shape[0])
        for p in range(RP_TOPK_DIM):
            nproj += proj[:, p] * proj[:, p]
        nproj = np.sqrt(nproj)
        n64 = np.zeros(raw.shape[0])
        for j in range(DIM):
            n64 += raw[:, j] * raw[:, j]
        n64 = np.sqrt(n64)
        return ids, raw, n64, proj, nproj

    return _cand_cache_get("rp_topk", path, load)


def ann_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RP-accelerated ANN — the Johnson-Lindenstrauss projection put to
    work: candidate generation runs ENTIRELY in the 32-dim projected
    space (top-``RP_CAND_M`` by projected cosine), then ONLY those
    candidates are reranked with the exact 64-dim cosine.  The 100 TB
    story: the resident scan side is the projected matrix (2x smaller,
    2x fewer multiplies per pair — and width is a dial: the fixture
    embeddings are near-isotropic, ANN's worst case, so 32 dims buys
    ~0.8 recall@5; clustered production embeddings tolerate far narrower);
    the full-dim vectors are touched O(M) per query — at scale that side
    lives in a fetch-by-id store, here it indexes the same memo.

    Determinism contract (the exact-family discipline): both cosine
    stages round to 6 decimals BEFORE ranking with vec_id tiebreaks;
    projection/norm/dot folds are explicit left folds so the candidate
    cut itself is bit-identical to the SQL oracle."""
    import numpy as np
    import pandas as pd  # noqa: F401

    emb = load_table(spark, sf_dir, "embeddings")
    cand_path = os.path.join(sf_dir, "embeddings.parquet")
    planes_lit = _rp_matrix(RP_TOPK_DIM)

    def topk(batches):
        ids_b, raw_b, n64_b, proj_b, n8_b = _load_rp_candidate_matrix(cand_path)
        planes = np.asarray(planes_lit, dtype=np.float64)
        for pdf in batches:
            q_raw = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nq = q_raw.shape[0]
            q_proj = np.zeros((nq, RP_TOPK_DIM))
            for p in range(RP_TOPK_DIM):
                acc = np.zeros(nq)
                for j in range(DIM):
                    acc += planes[p, j] * q_raw[:, j]
                q_proj[:, p] = acc / np.sqrt(float(RP_TOPK_DIM))
            qn8 = np.zeros(nq)
            for p in range(RP_TOPK_DIM):
                qn8 += q_proj[:, p] * q_proj[:, p]
            qn8 = np.sqrt(qn8)
            qn64 = np.zeros(nq)
            for j in range(DIM):
                qn64 += q_raw[:, j] * q_raw[:, j]
            qn64 = np.sqrt(qn64)
            # projected cosine, oracle operation order: fold(dot) / (na*nb)
            pdot = np.zeros((nq, len(ids_b)))
            for p in range(RP_TOPK_DIM):
                pdot += q_proj[:, p:p + 1] * proj_b[:, p][None, :]
            pcos = np.round(pdot / (qn8[:, None] * n8_b[None, :]), 6)
            out_vec, out_nbr, out_cos, out_rank = [], [], [], []
            for qi, vid in enumerate(pdf["vec_id"]):
                mask = ids_b != vid
                row = pcos[qi][mask]
                sel_ids = ids_b[mask]
                order = np.lexsort((sel_ids, -row))[:RP_CAND_M]
                cand_ids = sel_ids[order]
                cand_ix = np.nonzero(mask)[0][order]
                # exact 64-dim rerank over the M candidates only
                dot64 = np.zeros(len(cand_ix))
                for j in range(DIM):
                    dot64 += q_raw[qi, j] * raw_b[cand_ix, j]
                cos64 = np.round(dot64 / (qn64[qi] * n64_b[cand_ix]), 6)
                fin = np.lexsort((cand_ids, -cos64))[:TOP_K]
                out_vec.extend([vid] * len(fin))
                out_nbr.extend(cand_ids[fin].tolist())
                out_cos.extend(cos64[fin].tolist())
                out_rank.extend(range(1, len(fin) + 1))
            yield pd.DataFrame(
                {"vec_id": out_vec, "neighbor_id": out_nbr,
                 "cos_sim": out_cos, "rank": out_rank}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        topk, schema="vec_id long, neighbor_id long, cos_sim double, rank long"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance (ADC) search — the
# compressed-domain ANN family member next to int8 (scalar) quantization,
# IVF, and random projection.

PQ_M = 8      # subspaces (64-dim embedding -> 8 sub-vectors of 8 dims)
PQ_SUB = DIM // PQ_M
PQ_K = 16     # codebook entries per subspace -> codes are 8 x 4 bits
PQ_TOPK = 5
PQ_QUERY_MOD = 100  # query batch = every 100th vec_id (request-sized)


PQ_ITERS = 2  # per-subspace Lloyd rounds (the kmeans_train discipline)


def _sq_subdist(vec: Column, cent: Column) -> Column:
    """Round-6 squared L2 over one subspace, left-fold association (the
    oracle's explicit `t1 + ... + t8` chain)."""
    terms = F.zip_with(
        vec, cent, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
    )
    return F.round(F.aggregate(terms, F.lit(0.0), lambda a, t: a + t), 6)


def _pq_src(spark: SparkSession, sf_dir: str, residual: bool) -> DataFrame:
    """The PQ training/encoding vectors as ``vecd: array<double>``.

    ``residual=False``: the raw embedding cast to double (exact — stored
    floats widen losslessly).  ``residual=True``: the FAISS
    ``by_residual`` convention — each vector minus its argmin coarse-cell
    centroid (the memoized ``_kmeans_fit`` quantizer), with every
    component ROUNDED TO 6 decimals at definition.  The round-6 residual
    is the portability convention: sums of round-6 doubles are exact
    DECIMAL(25,6) folds in both engines, so codebook means and ADC sums
    stay order-independent and value-identical cross-engine."""
    if not residual:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("vecd"),
        )
    # residual branch: the corpus rides the memoized cell ranking (r14) —
    # no separate embeddings load needed
    cents = _kmeans_fit(spark, sf_dir)
    cent_df = spark.createDataFrame(
        list(cents), "cell int, centroid array<double>"
    )
    return (
        _ranked_cells_src(spark, sf_dir)
        .select(
            "vec_id", "embedding", F.element_at("ranked", 1)["c"].alias("cell")
        )
        .join(F.broadcast(cent_df), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                "embedding",
                "centroid",
                lambda x, c: F.round(x.cast("double") - c, 6),
            ).alias("vecd"),
        )
    )


def _pq_encode_expr(cb_col: Column, vec_col: Column) -> Column:
    """``array<int>``: per subspace m, the argmin codeword of vec_col's
    m-th PQ_SUB-slice — round-6 subspace distance, codeword-id tiebreak,
    all array expressions (whole-stage codegen, zero UDFs)."""
    return F.transform(
        cb_col,
        lambda cb_m, m: F.element_at(
            F.array_sort(
                F.transform(
                    cb_m,
                    lambda cent, c: F.struct(
                        _sq_subdist(
                            F.slice(vec_col, m * PQ_SUB + F.lit(1), PQ_SUB), cent
                        ).alias("d"),
                        c.alias("c"),
                    ),
                )
            ),
            1,
        )["c"],
    )


def _pq_fit(
    spark: SparkSession, sf_dir: str, residual: bool = False
) -> list[list[list[float]]]:
    """``cb[m][c]`` = the c-th TRAINED codeword of subspace ``m``:
    PQ_ITERS per-subspace Lloyd rounds from the deterministic init (the
    PQ_SUB-dim slices of the PQ_K lowest vec_ids).  Each round is ONE
    Spark job for all PQ_M subspaces: encode (argmin codeword, round-6 +
    id tiebreak), posexplode to (m, code, sub-slice), and a grouped
    exact-decimal mean per sub-dimension — raw vectors use the
    DECIMAL(38,15) kmeans convention (float-backed doubles sum exactly),
    round-6 residuals the DECIMAL(25,6) fold.  An emptied codeword keeps
    its previous centroid (both engines coalesce identically).  Driver
    state is PQ_M*PQ_K*PQ_SUB doubles; memoized per dataset fingerprint
    like the coarse quantizer."""
    from ._memo import memo_get

    key = "pq_fit_residual" if residual else "pq_fit"
    return memo_get(
        key, sf_dir, ("embeddings",), lambda: _pq_fit_uncached(spark, sf_dir, residual)
    )


def _pq_fit_uncached(
    spark: SparkSession, sf_dir: str, residual: bool
) -> list[list[list[float]]]:
    src = _pq_src(spark, sf_dir, residual).select("vec_id", "vecd")
    init = sorted(
        src.orderBy("vec_id").limit(PQ_K).collect(), key=lambda r: r["vec_id"]
    )
    cbs = [
        [
            [float(x) for x in r["vecd"][m * PQ_SUB : (m + 1) * PQ_SUB]]
            for r in init
        ]
        for m in range(PQ_M)
    ]
    dec = "decimal(25,6)" if residual else "decimal(38,15)"
    mean_cols = [
        (
            F.sum(F.col("sub").getItem(i).cast(dec)).cast("double") / F.count("*")
        ).alias(f"m{i}")
        for i in range(PQ_SUB)
    ]
    for _ in range(PQ_ITERS):
        rows = (
            _pq_sub_d2_df(src.select("vecd"), cbs, keep_vecd=True)
            .select("vecd", F.posexplode(_pq_codes_expr()).alias("m", "code"))
            .select(
                "m",
                "code",
                F.slice("vecd", F.col("m") * PQ_SUB + F.lit(1), PQ_SUB).alias("sub"),
            )
            .groupBy("m", "code")
            .agg(*mean_cols)
            .collect()  # <= PQ_M * PQ_K rows of PQ_SUB doubles
        )
        upd = {
            (int(r["m"]), int(r["code"])): [float(r[f"m{i}"]) for i in range(PQ_SUB)]
            for r in rows
        }
        cbs = [
            [upd.get((m, c), cbs[m][c]) for c in range(PQ_K)]
            for m in range(PQ_M)
        ]
    return cbs


def _pq_codes_df(src: DataFrame, cbs: list[list[list[float]]]) -> DataFrame:
    """(vec_id [+ carried cols], codes): argmin codeword per subspace of
    ``vecd`` — round-6 subspace distance, codeword-id tiebreak (the
    vectorized distance kernel + the same Catalyst round/sort argmin)."""
    carried = [c for c in src.columns if c != "vecd"]
    return _pq_sub_d2_df(src, cbs).select(
        *carried, _pq_codes_expr().alias("codes")
    )


def _pq_codes_src(spark: SparkSession, sf_dir: str, residual: bool) -> DataFrame:
    """The full-corpus PQ codes table — ``(vec_id, codes)`` raw, or
    ``(vec_id, cell, codes)`` residual — scratch-persisted per embeddings
    fingerprint (r14 optimization): five PQ queries re-encoded the corpus
    per call through the interpreted ``_pq_encode_expr`` ladder (PQ_M x
    PQ_K x PQ_SUB round-6 distances per row, ~2-3 s per call at sf0.1).
    Codes are deterministic given the memoized codebook (round-6 +
    codeword-id tiebreak), the artifact stays distributed, and a
    persisted codes table IS the product-quantization index every
    deployment serves from — encode-once is the production shape, not a
    shortcut."""
    from ._memo import memo_get

    kind = "pq_codes_residual" if residual else "pq_codes"

    def compute():
        src = _pq_src(spark, sf_dir, residual)
        cbs = _pq_fit(spark, sf_dir, residual)
        return {"path": scratch_persist(_pq_codes_df(src, cbs), kind)}

    state = memo_get(kind, sf_dir, ("embeddings",), compute)
    return spark.read.parquet(state["path"])


def _pq_sub_d2_df(
    src: DataFrame, cbs: list[list[list[float]]], keep_vecd: bool = False
) -> DataFrame:
    """(carried cols [+ vecd], ``_sub_d2``): the RAW PQ_M x PQ_K table of
    subspace squared-distance sums of ``vecd`` to every codeword — the
    shared kernel under both the query-side LUTs and the corpus encode.

    r15 (§4, the T2/T3 discipline): the PQ_M x PQ_K x PQ_SUB distance
    folds run as explicit per-dimension numpy accumulation inside one
    ``mapInPandas`` pass (each step the same IEEE ``(x-c)*(x-c)`` then
    left-fold add the interpreted ladder performed — raw sums
    bit-identical; parity-pinned in ``tests/test_r15_parity.py``), with
    the codebook as a closure constant; round-6 / argmin stay Catalyst
    expressions downstream so every engine-boundary value is unchanged."""
    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    cb_const = [[list(map(float, cw)) for cw in cb_m] for cb_m in cbs]
    carried_in = [c for c in src.columns if c != "vecd" or keep_vecd]
    out_schema = T.StructType(
        [f for f in src.schema.fields if f.name != "vecd" or keep_vecd]
        + [
            T.StructField(
                "_sub_d2",
                T.ArrayType(T.ArrayType(T.DoubleType(), False), False),
                False,
            )
        ]
    )

    def kernel(batches):
        cb = np.asarray(cb_const, dtype=np.float64)  # (M, K, SUB)
        m_n, k_n, s_n = cb.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf["vecd"].tolist(), dtype=np.float64)
            n = len(pdf)
            out = np.empty((n, m_n, k_n), dtype=np.float64)
            for m in range(m_n):
                sub = V[:, m * s_n : (m + 1) * s_n]
                for k in range(k_n):
                    crow = cb[m, k]
                    acc = np.zeros(n, dtype=np.float64)
                    for d in range(s_n):
                        diff = sub[:, d] - crow[d]
                        acc += diff * diff
                    out[:, m, k] = acc
            res = pdf[carried_in].copy()
            res["_sub_d2"] = [[r.tolist() for r in row] for row in out]
            yield res

    return src.mapInPandas(kernel, out_schema)


def _pq_codes_expr() -> Column:
    """``array<int>`` argmin codeword per subspace from ``_sub_d2`` —
    round-6 distance, codeword-id tiebreak, both as the SAME Catalyst
    round/array_sort the old interpreted encode ladder used (only the
    K x SUB distance folds moved into the vectorized kernel)."""
    ids = F.array(*[F.lit(c).cast("int") for c in range(PQ_K)])
    return F.transform(
        F.col("_sub_d2"),
        lambda arr: F.element_at(
            F.array_sort(
                F.zip_with(
                    arr,
                    ids,
                    lambda d, cid: F.struct(
                        F.round(d, 6).alias("d"), cid.alias("c")
                    ),
                )
            ),
            1,
        )["c"],
    )


def _pq_luts_df(src: DataFrame, cbs: list[list[list[float]]]) -> DataFrame:
    """(qid [+ carried cols], luts): per-query PQ_M x PQ_K table of
    round-6 subspace distances of ``vecd`` to every codeword (the
    vectorized ``_pq_sub_d2_df`` kernel + Catalyst round-6)."""
    carried = [
        F.col("vec_id").alias("qid") if c == "vec_id" else F.col(c)
        for c in src.columns
        if c != "vecd"
    ]
    return _pq_sub_d2_df(src, cbs).select(
        *carried,
        F.transform(
            "_sub_d2", lambda arr: F.transform(arr, lambda d: F.round(d, 6))
        ).alias("luts"),
    )


def _pq_lut_micros_col() -> Column:
    """``luts`` (round-6 doubles) -> exact int64 micros, derived ONCE per
    query row (the broadcast side) so the pair scan can sum integers in
    pure codegen.  ``round(d * 1e6, 0)`` recovers the true integer k of a
    round-6 value k*1e-6 exactly: the double product is within an ulp of
    k, far inside the half-up window."""
    return F.transform(
        F.col("luts"),
        lambda arr: F.transform(
            arr, lambda d: F.round(d * F.lit(1000000.0), 0).cast("long")
        ),
    )


def _pq_adc_col() -> Column:
    """ADC distance from (codes, lut_micros): PQ_M int64 lookups summed by
    an UNROLLED codegen expression chain (r15 §4 — retires the interpreted
    per-pair decimal fold).  Value-identical: the micros are the exact
    round-6 integers, int64 addition is exact in any order, and the final
    ``micros / 1e6`` double division is the same correctly-rounded value
    the old DECIMAL(25,6)->double cast produced."""
    terms = [
        F.element_at(
            F.element_at(F.col("lut_micros"), m + 1),
            F.element_at(F.col("codes"), m + 1).cast("int") + F.lit(1),
        )
        for m in range(PQ_M)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total.cast("double") / F.lit(1000000.0)


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + ADC top-k (Jégou et al.'s product-quantization search, the
    billion-scale compressed-domain serving shape): every corpus vector
    is stored as PQ_M 4-bit codes (argmin codeword per subspace — a
    64x compression of the embedding column, the part that lets a 100 TB
    corpus's index live in RAM); a query computes one PQ_M x PQ_K
    lookup table of subspace distances, and approximate distance to ANY
    corpus vector is just PQ_M table lookups summed — no original
    vectors touched at scan time (asymmetric: exact query side, coded
    corpus side).

    Encoding and LUTs share one ``mapInPandas`` numpy kernel
    (``_pq_sub_d2_df``: per-dimension left-fold subspace distances, the
    codebook a closure constant) with round-6 and argmin as Catalyst
    expressions; the corpus codes are encoded once per embeddings
    fingerprint (``_pq_codes_src``).  The scan is codes ⨯ broadcast(query
    LUTs); each query's LUTs are exact int64 micros of the round-6
    distances (``_pq_lut_micros_col``), so a pair's ADC distance is PQ_M
    codegen ``element_at`` lookups summed in int64 — exact in any order,
    in both engines — then divided by 1e6 (``_pq_adc_col``); ranking
    breaks ties on neighbor id.  Scale: the shuffle carries
    only (query, neighbor, distance) triples past the per-query window;
    the corpus side streams codes (PQ_M small ints per vector).
    Codebooks are TRAINED (PQ_ITERS per-subspace Lloyd rounds, r8) —
    the sampled-init-only variant measured ~0.16 recall@5 on this
    uniform fixture; training is what a production fit runs."""
    src = _pq_src(spark, sf_dir, residual=False)
    cbs = _pq_fit(spark, sf_dir, residual=False)
    codes = _pq_codes_src(spark, sf_dir, residual=False)
    luts = _pq_luts_df(
        src.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0), cbs
    ).select("qid", _pq_lut_micros_col().alias("lut_micros"))
    pairs = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("qid"),
            F.col("vec_id").alias("neighbor_id"),
            _pq_adc_col().alias("adc_dist"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            F.col("qid").alias("vec_id"),
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_ivfpq_topk(
    spark: SparkSession, sf_dir: str, top_k: int = PQ_TOPK
) -> DataFrame:
    """IVF + PQ with RESIDUAL ENCODING (the FAISS IVFADC serving
    composition, ``by_residual=true`` — the production default): the
    trained k-means coarse quantizer routes every vector to its argmin
    cell, and PQ encodes the RESIDUAL (vector − cell centroid) with
    codebooks trained on those residuals — residuals concentrate around
    zero, so the same codebook budget spends its resolution where the
    data actually is, which is what lifts recall over encoding raw
    vectors.  Each query probes its IVF_PROBE nearest cells with a
    PER-CELL LUT built from its residual against THAT cell's centroid,
    so the compressed-domain scan runs over probe * n / K candidates —
    the two-level index every billion-scale deployment runs (coarse
    cells shard the index; codes keep the shards in RAM).

    Determinism: residuals are round-6 by definition (sums of round-6
    doubles are exact DECIMAL(25,6) folds in both engines), the cell
    ranking is ``_with_ranked_cells`` on the memoized ``_kmeans_fit``
    quantizer, and the distance is the exact-decimal ADC fold.  The one
    shuffle is the candidate equi-join ON CELL carrying PQ codes (PQ_M
    small ints), never embeddings; per-(query, cell) LUTs broadcast."""
    cents = _kmeans_fit(spark, sf_dir)
    ranked = _ranked_cells_src(spark, sf_dir)
    cent_df = spark.createDataFrame(list(cents), "cell int, centroid array<double>")
    cbs = _pq_fit(spark, sf_dir, residual=True)
    # Member side: own-cell residual codes (vec_id, cell, codes).
    codes = _pq_codes_src(spark, sf_dir, residual=True).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    # Query side: one residual (and LUT) per probed cell.
    probe_src = (
        ranked.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0)
        .select(
            "vec_id",
            "embedding",
            F.explode(
                F.transform(F.slice("ranked", 1, IVF_PROBE), lambda s: s["c"])
            ).alias("cell"),
        )
        .join(F.broadcast(cent_df), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                "embedding",
                "centroid",
                lambda x, c: F.round(x.cast("double") - c, 6),
            ).alias("vecd"),
        )
    )
    luts = _pq_luts_df(probe_src, cbs).select(
        "qid", "cell", _pq_lut_micros_col().alias("lut_micros")
    )
    cand = (
        codes.join(F.broadcast(luts), "cell")
        .filter(F.col("qid") != F.col("neighbor_id"))
        .select("qid", "neighbor_id", _pq_adc_col().alias("adc_dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("qid").alias("vec_id"),
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )


PQ_RERANK_R = 20  # ADC shortlist size feeding the exact re-rank stage


def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVFADC serving (the standard FAISS deployment shape):
    the compressed-domain scan shortlists PQ_RERANK_R candidates per
    query by ADC distance, then ONLY those R rows join back to the
    original embeddings for an exact squared-L2 re-rank of the final
    top-k.  Re-ranking recovers most of the recall the quantization
    lost, at R-exact-distances per query instead of n — the
    quality/cost dial every production ANN service exposes.

    Scale shape: the candidate-only verify discipline — the rerank join
    ships R ids per query to the corpus side (never embeddings into the
    shortlist scan), query embeddings broadcast, and the exact distance
    is the same round-6 left-fold chain as the recall gate's baseline."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shortlist = ann_ivfpq_topk(spark, sf_dir, top_k=PQ_RERANK_R).select(
        F.col("vec_id").alias("qid"), "neighbor_id"
    )
    queries = emb.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    terms = F.zip_with(
        F.col("embedding"),
        F.col("qe"),
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    dist = F.round(F.aggregate(terms, F.lit(0.0), lambda a, t: a + t), 6)
    w = Window.partitionBy("qid").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.join(
            emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        # the query batch is corpus-derived (1/PQ_QUERY_MOD): size-gated
        .join(broadcast_if_small(queries), "qid")
        .select("qid", "neighbor_id", dist.alias("l2_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            F.col("qid").alias("vec_id"),
            "neighbor_id",
            "l2_dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _exact_cosine_ground_truth(spark: SparkSession, sf_dir: str):
    """(n_queries, exact top-k id-pair DataFrame) for the cosine recall
    gates — memoized ONCE per embeddings fingerprint in the driver memo.

    Five registry queries (``ann_recall_at_k``, ``ann_pq_recall_at_k``,
    ``ann_ivfpq_recall_at_k``, ``mrl_truncation_recall``,
    ``ann_mrl_adaptive_rerank``) each need the exact baseline; before the
    memo each re-derived it with its own brute-force matmul job (plus a
    separate n_q count action).  The pair set STAYS DISTRIBUTED: it is
    written once to a scratch parquet table and replayed as ordinary
    scans — ``ann_cosine_topk`` uses every vector as a query, so a
    driver collect of its n_vectors*k pairs would grow with the corpus
    (the r9 ADVICE finding).  Only two driver scalars ride the memo
    (n_q, n_pairs).  Determinism (round-6 cosine + id tiebreaks) makes
    the persisted pair set value-identical to the live derivation."""
    from ._memo import memo_get

    def compute():
        pairs = ann_cosine_topk(spark, sf_dir).select("vec_id", "neighbor_id")
        path = scratch_persist(pairs, "groundtruth_cos")
        stats = (
            spark.read.parquet(path)
            .agg(
                F.countDistinct("vec_id").alias("n_q"),
                F.count("*").alias("n_pairs"),
            )
            .collect()[0]
        )
        return {"path": path, "n_q": stats[0], "n_pairs": stats[1], "dfs": {}}

    state = memo_get("exact_cosine_topk_pairs", sf_dir, ("embeddings",), compute)
    return state["n_q"], _pairs_df(spark, state)


def _pairs_df(spark: SparkSession, state: dict) -> DataFrame:
    """Per-application DataFrame handle cache inside a ground-truth memo
    value.  The handle is a lazy parquet scan (bytes on the driver), so
    entries for other live sessions are left alone — no cross-session
    eviction race (the r9 ADVICE finding); the dict lives INSIDE the
    memo value, so a fingerprint eviction drops every handle with it."""
    app = spark.sparkContext.applicationId
    if app not in state["dfs"]:
        state["dfs"][app] = spark.read.parquet(state["path"])
    return state["dfs"][app]


def _exact_l2_ground_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact full-dimension squared-L2 top-k id pairs over the PQ query
    batch — the PQ/IVFPQ recall gates' baseline, memoized like
    ``_exact_cosine_ground_truth`` (same determinism argument: round-6
    distances + id tiebreaks make the pair SET reproducible)."""
    from ._memo import memo_get

    def compute():
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        queries = emb.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        )
        terms = F.zip_with(
            F.col("embedding"),
            F.col("qe"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        dist = F.round(F.aggregate(terms, F.lit(0.0), lambda a, t: a + t), 6)
        w = Window.partitionBy("qid").orderBy(
            F.col("dist").asc(), F.col("neighbor_id").asc()
        )
        rows = (
            emb.crossJoin(broadcast_if_small(queries))
            .filter(F.col("vec_id") != F.col("qid"))
            .select(
                F.col("qid"), F.col("vec_id").alias("neighbor_id"), dist.alias("dist")
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= PQ_TOPK)
            .select(F.col("qid").alias("vec_id"), "neighbor_id")
        )
        path = scratch_persist(rows, "groundtruth_l2")
        n_pairs = spark.read.parquet(path).count()
        return {"path": path, "n_pairs": n_pairs, "dfs": {}}

    state = memo_get("exact_l2_topk_pairs", sf_dir, ("embeddings",), compute)
    return _pairs_df(spark, state)


def _recall_vs_exact_l2(
    spark: SparkSession, sf_dir: str, approx: DataFrame
) -> DataFrame:
    """Recall@k of an approximate (vec_id, neighbor_id) pair set against
    the exact full-dimension squared-L2 top-k over the PQ query batch —
    id-pairs-only eval: embeddings never join here, the query batch is
    broadcast for the exact side, and only (query, neighbor) ids ride
    the shuffle."""
    exact = _exact_l2_ground_truth(spark, sf_dir)
    k_per_q = exact.groupBy("vec_id").agg(F.count("*").alias("k"))
    hits = (
        exact.join(approx, ["vec_id", "neighbor_id"], "left_semi")
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        k_per_q.join(hits, "vec_id", "left")
        .fillna({"n_hits": 0})
        .select(
            "vec_id",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(
                F.col("n_hits").cast("double") / F.col("k").cast("double"), 6
            ).alias("recall_at_k"),
        )
    )


def ann_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ-ADC index against the exact full-dimension
    squared-L2 baseline — the acceptance gate a compressed index ships
    with (quantization loses information BY DESIGN; this op is how a
    deployment sees how much, and sizes PQ_M/PQ_K back up)."""
    approx = ann_pq_adc_topk(spark, sf_dir).select("vec_id", "neighbor_id")
    return _recall_vs_exact_l2(spark, sf_dir, approx)


def ann_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the residual-encoded IVFADC index — measures the
    probe/recall tradeoff ON TOP of the quantization loss (a true
    neighbor in an unprobed cell can never be found, whatever the code
    resolution), which is exactly the dial (IVF_PROBE) a deployment
    tunes against this number."""
    approx = ann_ivfpq_topk(spark, sf_dir).select("vec_id", "neighbor_id")
    return _recall_vs_exact_l2(spark, sf_dir, approx)


HARDNEG_TOPK = 3  # negatives mined per anchor


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/Contriever
    recipe): for each anchor doc in the query batch, the top-3 most
    similar docs from a DIFFERENT source — near-misses that teach a
    retriever finer distinctions than random negatives, with same-source
    docs excluded because they are too often true positives (syndicated
    copies, series pages).

    Shape (r10 rewrite, the ``ann_query_broadcast_topk`` discipline —
    the r9 version shipped the full |corpus|x|anchors| scored set through
    ONE per-anchor window shuffle, corpus-sized partitions at scale):
    the request-sized anchor batch is broadcast, the corpus is only ever
    STREAMED through mapInPandas partitions, each partition emits its
    per-anchor top-3-excluding, and the final rank runs over a bounded
    <= partitions * K * |anchors| id/score triples — never embeddings,
    never the corpus.  The per-partition pruning is provably lossless:
    (cos6 desc, neighbor_id asc) is a TOTAL order per anchor (ids are
    unique), so every global top-3 row is top-3 within its own partition.

    Exactness: dot and norm are explicit per-dimension left folds
    (bit-identical to the Catalyst/_dot fold and the oracle's unrolled
    sum — numpy matmul's pairwise summation would not be), cosine is
    quantized by the portable floor(x*1e6+0.5)/1e6 chain (correctly-
    rounded IEEE ops — identical bits in numpy, Catalyst and DuckDB)
    BEFORE any ranking, and the source exclusion happens before ranking,
    so this is the true top-3-excluding result, not a shortlist filter.
    The doc->source dim attach is size-gated (``broadcast_if_small``):
    it is corpus-keyed, so at 100 TB it must NOT be hint-broadcast."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    cand = emb.join(broadcast_if_small(src), "vec_id")
    a_rows = sorted(
        collect_request_sized(
            cand.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0),
            what="hard_negative_mining anchor batch",
        ),
        key=lambda r: r["vec_id"],
    )  # anchor request-size premise ENFORCED (raises above the cap)
    q_ids = np.array([r["vec_id"] for r in a_rows], dtype=np.int64)
    q_mat = np.array([list(r["embedding"]) for r in a_rows], dtype=np.float64)
    q_src = np.array([r["source"] for r in a_rows], dtype=object)
    dims = q_mat.shape[1]
    q_norm = np.zeros(len(a_rows))
    for j in range(dims):
        q_norm += q_mat[:, j] * q_mat[:, j]
    q_norm = np.sqrt(q_norm)
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_src, q_norm))

    def partition_topk(batches):
        ids_q, mat_q, src_q, norm_q = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vec_id"].to_numpy()
            c_src = pdf["source"].to_numpy()
            mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            # explicit left folds: acc_j+1 = acc_j + x_j*y_j, matching the
            # Catalyst fold / oracle sum chain bit-for-bit (no pairwise
            # matmul summation on a cross-engine rank boundary)
            c_norm = np.zeros(len(c_ids))
            for j in range(dims):
                c_norm += mat[:, j] * mat[:, j]
            c_norm = np.sqrt(c_norm)
            dots = np.zeros((len(c_ids), len(ids_q)))
            for j in range(dims):
                dots += np.outer(mat[:, j], mat_q[:, j])
            cos = dots / np.outer(c_norm, norm_q)
            cos6 = np.floor(cos * 1000000.0 + 0.5) / 1000000.0
            out_q, out_c, out_s = [], [], []
            for qi in range(len(ids_q)):
                valid = np.nonzero(c_src != src_q[qi])[0]
                col = cos6[valid, qi]
                order = valid[np.lexsort((c_ids[valid], -col))[:HARDNEG_TOPK]]
                out_q.extend([ids_q[qi]] * len(order))
                out_c.extend(c_ids[order].tolist())
                out_s.extend(cos6[order, qi].tolist())
            yield pd.DataFrame(
                {"qid": out_q, "neighbor_id": out_c, "cos_sim": out_s}
            )

    partial = cand.mapInPandas(
        partition_topk, schema="qid long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARDNEG_TOPK)
        .select(
            F.col("qid").alias("vec_id"),
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _binary_codes(emb: DataFrame) -> DataFrame:
    """Sign-bit binarization of the 64-dim embedding into TWO bigint
    words (hi = dims 1-32, lo = dims 33-64; packing 64 bits into one
    signed long would overflow the shift-accumulate fold).  Bit j is 1
    iff the component is > 0 — float-vs-zero comparisons are exact, so
    the codes are engine-portable integers."""

    def pack(lo_dim: int) -> F.Column:
        return F.aggregate(
            F.sequence(F.lit(lo_dim), F.lit(lo_dim + 31)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(F.element_at(F.col("embedding"), i) > 0, 1).otherwise(0),
        )

    return emb.select(
        "vec_id", pack(1).alias("hi"), pack(33).alias("lo")
    )


def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN — 1-bit sign codes searched by Hamming
    distance (``bit_count(xor)``), the most aggressive embedding
    compression tier below int8 and PQ: 64 dims become 16 BYTES (16x
    smaller than float32), and distance is two XOR+POPCNT integer ops —
    SIMD-class throughput with zero float work in the scan.

    Top-5 per query-batch vector (the PQ query batch), ties broken on
    neighbor_id — ALL-INTEGER ranking, so the result is bit-exact in
    any engine (the one ANN family member whose whole search is
    oracle-exact without a round-6 boundary).  Shape: the codes
    projection is map-only; the search cross-joins the 2-long codes
    table against the broadcast query batch — raw embeddings never
    leave the packing scan, and at 100 TB the codes table is the only
    thing read (16 B/vector; a rerank stage would fetch raw vectors
    for candidates only, the ann_ivfpq_rerank_topk pattern)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = _binary_codes(emb)
    q = codes.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("hi").alias("q_hi"),
        F.col("lo").alias("q_lo"),
    )
    ham = (
        F.bit_count(F.col("hi").bitwiseXOR(F.col("q_hi")))
        + F.bit_count(F.col("lo").bitwiseXOR(F.col("q_lo")))
    ).cast("long")
    w = Window.partitionBy("qid").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        # query code batch is corpus-derived (1/PQ_QUERY_MOD): size-gated
        codes.crossJoin(broadcast_if_small(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("qid"),
            F.col("vec_id").alias("neighbor_id"),
            ham.alias("hamming"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            F.col("qid").alias("vec_id"),
            "neighbor_id",
            "hamming",
            F.col("rank").cast("long").alias("rank"),
        )
    )


HAMMING_SHORTLIST = 50  # binary candidates per query before exact re-rank


def ann_hamming_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-shortlist + exact re-rank — how 1-bit codes are actually
    deployed (the ann_ivfpq_rerank_topk pattern at the cheapest tier):
    Hamming distance over the 16-byte codes shortlists
    ``HAMMING_SHORTLIST`` candidates per query, full-precision cosine
    re-ranks ONLY the shortlist, top-5 ships.  Full-precision work drops
    from n to 50 per query while recall recovers most of what raw
    Hamming ranking loses.

    Exactness: the shortlist is all-integer (bit-exact), the re-rank is
    the shared fold cosine with round-6 + id tiebreaks — the whole
    pipeline is oracle-mirrorable with no matmul boundary.  Shape: the
    only embedding-carrying join is the 50/query shortlist fetch; codes
    never leave their scan."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codes = _binary_codes(emb)
    q = codes.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("hi").alias("q_hi"),
        F.col("lo").alias("q_lo"),
    )
    ham = (
        F.bit_count(F.col("hi").bitwiseXOR(F.col("q_hi")))
        + F.bit_count(F.col("lo").bitwiseXOR(F.col("q_lo")))
    ).cast("long")
    w_short = Window.partitionBy("qid").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    short = (
        codes.crossJoin(broadcast_if_small(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("qid"),
            F.col("vec_id").alias("neighbor_id"),
            ham.alias("hamming"),
        )
        .withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= HAMMING_SHORTLIST)
        .select("qid", "neighbor_id")
    )
    a = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    cos = F.round(
        _dot(F.col("ce"), F.col("qe"))
        / (_norm(F.col("ce")) * _norm(F.col("qe"))),
        6,
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(a, "qid")
        .join(b, "neighbor_id")
        .select("qid", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            F.col("qid").alias("vec_id"),
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_hamming_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of 1-bit Hamming search against the exact full-precision
    cosine top-k (the memoized ground truth) — the acceptance gate that
    tells a deployment what 16x compression costs on ITS corpus (sign
    bits keep direction octants only; on near-uniform synthetic vectors
    this is ANN's worst case, so the number is honest, not a flake).
    Id-pairs-only eval, ground truth restricted to the Hamming query
    batch."""
    _, exact_all = _exact_cosine_ground_truth(spark, sf_dir)
    exact = exact_all.filter(F.pmod("vec_id", F.lit(PQ_QUERY_MOD)) == 0)
    approx = ann_hamming_topk(spark, sf_dir).select("vec_id", "neighbor_id")
    k_per_q = exact.groupBy("vec_id").agg(F.count("*").alias("k"))
    hits = (
        exact.join(approx, ["vec_id", "neighbor_id"], "left_semi")
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        k_per_q.join(hits, "vec_id", "left")
        .fillna({"n_hits": 0})
        .select(
            "vec_id",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(
                F.col("n_hits").cast("double") / F.col("k").cast("double"), 6
            ).alias("recall_at_k"),
        )
    )


def embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding drift — the distribution-shift monitor a
    training-data pipeline runs per ingest source: each source's mean
    embedding vs the corpus mean, scored by cosine.  A source whose
    centroid swings away from the corpus signals topic/format drift
    (or a broken upstream encoder) before it poisons a training mix.

    Exactness: per-dim sums ride the DECIMAL(38,15) fold (float-backed
    doubles sum exactly — the kmeans discipline); the centroid division
    is one mirrored IEEE op; the cosine's cross-dim reductions cast
    each IEEE product to DECIMAL(38,25) BEFORE summing (power-sum
    discipline: quantized terms add associatively, so the result is
    partitioning-independent), then one mirrored sqrt/divide chain.
    Shape: posexplode to (source, dim) — 64x row inflation into a
    map-side-combined aggregate keyed by a tiny domain (|sources| x 64
    cells), one broadcast-size join of source centroids to the global
    centroid.  At 100 TB nothing but the two centroid tables ever
    shuffles."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    flat = emb.join(docs, "vec_id").select(
        "source", F.posexplode("embedding").alias("dim", "x")
    )
    per = flat.groupBy("source", "dim").agg(
        F.sum(F.col("x").cast("decimal(38,15)")).alias("s"),
        F.count("*").alias("n"),
    )
    src_c = per.select(
        "source",
        "dim",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("sc"),
        F.col("n"),
    )
    glob = flat.groupBy("dim").agg(
        F.sum(F.col("x").cast("decimal(38,15)")).alias("gs"),
        F.count("*").alias("gn"),
    ).select(
        "dim",
        (F.col("gs").cast("double") / F.col("gn").cast("double")).alias("gc"),
    )
    j = src_c.join(F.broadcast(glob), "dim")
    dq = lambda c: c.cast("decimal(38,25)")  # noqa: E731
    red = j.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.sum(dq(F.col("sc") * F.col("gc"))).alias("dot"),
        F.sum(dq(F.col("sc") * F.col("sc"))).alias("ss"),
        F.sum(dq(F.col("gc") * F.col("gc"))).alias("gg"),
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("ss").cast("double")) * F.sqrt(F.col("gg").cast("double"))
    )
    return red.select(
        "source", "n_docs", F.round(cos, 6).alias("cos_to_corpus")
    )


MRL_DIMS = (32, 16, 8)  # truncation prefixes evaluated against full 64-dim


def _truncated_cosine_pairs(
    spark: SparkSession, sf_dir: str, dim: int, k: int = TOP_K
) -> DataFrame:
    """Exact top-5 cosine neighbors using only the FIRST ``dim`` embedding
    components (Matryoshka prefix truncation) — the ``ann_cosine_topk``
    blocked-matmul shape with a prefix slice + renorm on both sides.
    Slicing the memoized UNIT matrix then renormalizing equals slicing the
    raw vectors (the scale cancels); the ~1e-15 float difference is
    absorbed by the round-6-before-rank discipline like matmul-vs-fold."""
    import numpy as np
    import pandas as pd  # noqa: F401

    emb = load_table(spark, sf_dir, "embeddings")
    cand_path = os.path.join(sf_dir, "embeddings.parquet")

    def topk(batches):
        ids_b, unit_b = _load_candidate_matrix(cand_path)
        sub = unit_b[:, :dim]
        sub = sub / np.linalg.norm(sub, axis=1, keepdims=True)
        for pdf in batches:
            q = np.array(pdf["embedding"].tolist(), dtype=np.float64)[:, :dim]
            q_unit = q / np.linalg.norm(q, axis=1, keepdims=True)
            cos = np.round(q_unit @ sub.T, 6)
            out_vec, out_nbr = [], []
            for qi, vid in enumerate(pdf["vec_id"]):
                row = cos[qi]
                mask = ids_b != vid
                order = np.lexsort((ids_b[mask], -row[mask]))[:k]
                sel_ids = ids_b[mask][order]
                out_vec.extend([vid] * len(order))
                out_nbr.extend(sel_ids.tolist())
            yield pd.DataFrame({"vec_id": out_vec, "neighbor_id": out_nbr})

    return emb.select("vec_id", "embedding").mapInPandas(
        topk, "vec_id long, neighbor_id long"
    )


def mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation acceptance gate: recall@5 of
    prefix-truncated cosine search (dims 32/16/8) against the full
    64-dim exact top-5 — the dimension-vs-quality dial every modern
    embedding deployment tunes (truncate 8x, keep how much recall?),
    measured on the engine's own corpus instead of a paper table.

    Exactness: both sides rank on round-6 cosines with neighbor-id
    tiebreaks (the ann_cosine_topk discipline), so the top-5 SETS are
    deterministic; total_hits is an integer semi-join count and recall
    is ONE division by k*n — no float aggregation anywhere.

    Scale shape: per truncation it's the blocked-matmul eval (executor-
    memoized candidate matrix, O(k) output per query) plus an id-pairs-
    only semi-join — embeddings never ride the recall shuffle."""
    n_q, exact = _exact_cosine_ground_truth(spark, sf_dir)
    out = None
    for d in MRL_DIMS:
        trunc = _truncated_cosine_pairs(spark, sf_dir, d)
        hits = exact.join(trunc, ["vec_id", "neighbor_id"], "left_semi").agg(
            F.count("*").alias("total_hits")
        )
        row = hits.select(
            F.lit(d).cast("long").alias("dim_kept"),
            F.lit(n_q).cast("long").alias("n_queries"),
            F.col("total_hits").cast("long").alias("total_hits"),
            F.round(
                F.col("total_hits").cast("double")
                / F.lit(float(TOP_K * n_q)),
                6,
            ).alias("recall_at_k"),
        )
        out = row if out is None else out.unionByName(row)
    return out


MRL_COARSE_DIM = 8  # shortlist prefix
MRL_SHORTLIST = 50  # coarse candidates per query before full-dim re-rank


def ann_mrl_adaptive_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive (funnel) retrieval — the MRL SERVING pattern: shortlist
    ``MRL_SHORTLIST`` candidates per query with the cheap 8-dim prefix,
    re-rank ONLY the shortlist with full 64-dim cosine, keep top-5, and
    ship the recall gate against the exact full-dim search in the same
    report.  This is how truncated embeddings are actually deployed:
    the full-precision work drops from n to the shortlist size.

    Exactness: the re-rank cosine is a LEFT-FOLD dot product with
    round-6 + id tiebreaks — textually mirrored by the DuckDB fold, so
    no matmul-vs-fold boundary risk on the final ranking; recall is
    integer hits over one division.  The fold now runs as an explicit
    per-dimension numpy accumulation loop (``acc += q[d] * c[d]`` in
    index order — the ``_load_rp_candidate_matrix`` discipline: each
    step is the same IEEE mul+add the interpreted ``F.aggregate``
    ladder performed, so the raw sums are bit-identical; r15 §4
    rewrite of the hottest interpreted-HOF path, parity-pinned in
    ``tests/test_r15_parity.py``), fused into the SAME ``mapInPandas``
    pass that computes the shortlist — the round-6 and the ranking
    window stay in Spark, unchanged.  Scale shape: the shortlist join
    and its two embedding-carrying probes are gone entirely; the pass
    emits 50 (qid, cand, raw fold sums) rows per query and nothing
    else ever shuffles embeddings."""
    import numpy as np
    import pandas as pd  # noqa: F401

    emb = load_table(spark, sf_dir, "embeddings")
    cand_path = os.path.join(sf_dir, "embeddings.parquet")
    dim, k = MRL_COARSE_DIM, MRL_SHORTLIST

    def shortlist_rerank(batches):
        ids_b, unit_b = _load_candidate_matrix(cand_path)
        ids_r, raw_b = _load_raw_matrix(cand_path)
        sorter = np.argsort(ids_r)
        sub = unit_b[:, :dim]
        sub = sub / np.linalg.norm(sub, axis=1, keepdims=True)
        # Per-candidate norm² as the same left fold the old plan ran per
        # pair row: acc += c[d] * c[d] in dimension order (a candidate's
        # fold is pair-independent, so folding once per vector is
        # value-identical to folding per pair).
        cn2 = np.zeros(len(ids_r), dtype=np.float64)
        for d in range(DIM):
            cn2 += raw_b[:, d] * raw_b[:, d]
        nrm_c = np.sqrt(cn2)
        for pdf in batches:
            qraw = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            qc = qraw[:, :dim]
            q_unit = qc / np.linalg.norm(qc, axis=1, keepdims=True)
            cos = np.round(q_unit @ sub.T, 6)
            qn2 = np.zeros(len(qraw), dtype=np.float64)
            for d in range(DIM):
                qn2 += qraw[:, d] * qraw[:, d]
            nrm_q = np.sqrt(qn2)
            qidx_l, cid_l, cidx_l = [], [], []
            ids = pdf["vec_id"].to_numpy()
            for qi, vid in enumerate(ids):
                row = cos[qi]
                mask = ids_b != vid
                order = np.lexsort((ids_b[mask], -row[mask]))[:k]
                sel = ids_b[mask][order]
                qidx_l.append(np.full(len(sel), qi, dtype=np.int64))
                cid_l.append(sel)
                cidx_l.append(sorter[np.searchsorted(ids_r, sel, sorter=sorter)])
            qidx = np.concatenate(qidx_l) if qidx_l else np.empty(0, np.int64)
            cid = np.concatenate(cid_l) if cid_l else np.empty(0, np.int64)
            cidx = np.concatenate(cidx_l) if cidx_l else np.empty(0, np.int64)
            # The rerank dot, one vectorized left-fold step per dimension.
            dot = np.zeros(len(qidx), dtype=np.float64)
            qm, cm = qraw[qidx], raw_b[cidx]
            for d in range(DIM):
                dot += qm[:, d] * cm[:, d]
            cos_raw = dot / (nrm_q[qidx] * nrm_c[cidx])
            yield pd.DataFrame(
                {
                    "vec_id": ids[qidx],
                    "neighbor_id": cid,
                    "cos_raw": cos_raw,
                }
            )

    pairs = emb.select("vec_id", "embedding").mapInPandas(
        shortlist_rerank, "vec_id long, neighbor_id long, cos_raw double"
    )
    ranked = (
        pairs.select(
            "vec_id", "neighbor_id", F.round(F.col("cos_raw"), 6).alias("cos_sim")
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("cos_sim").desc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("rank") <= TOP_K)
        .select("vec_id", "neighbor_id")
    )
    n_q, exact = _exact_cosine_ground_truth(spark, sf_dir)
    hits = exact.join(ranked, ["vec_id", "neighbor_id"], "left_semi").agg(
        F.count("*").alias("total_hits")
    )
    return hits.select(
        F.lit(MRL_COARSE_DIM).cast("long").alias("coarse_dim"),
        F.lit(MRL_SHORTLIST).cast("long").alias("shortlist_k"),
        F.lit(n_q).cast("long").alias("n_queries"),
        F.col("total_hits").cast("long").alias("total_hits"),
        F.round(
            F.col("total_hits").cast("double") / F.lit(float(TOP_K * n_q)), 6
        ).alias("recall_at_k"),
    )


def _embedding_audit_frame(emb: DataFrame) -> DataFrame:
    """Per-row audit projection shared by the registry op and the
    planted-pathology pytest."""
    e = F.col("embedding")
    nan_dims = F.size(F.filter(e, lambda x: F.isnan(x))).cast("long")
    zero_vec = (F.size(F.filter(e, lambda x: x != F.lit(0.0))) == 0).cast("int")
    nrm = F.round(_norm(e), 6)
    return emb.select(
        "label",
        F.size(e).alias("dim"),
        nan_dims.alias("nan_dims"),
        zero_vec.alias("is_zero"),
        nrm.alias("nrm"),
    )


def embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table quality gate — the audit every ANN build should
    run first: per label, vector count, dimension constancy, zero/NaN
    pathology counts, and the norm range (a broken encoder shows up as
    zero vectors, NaN dims, or collapsed norms long before recall
    drops).

    Map-only per-row checks (HOF folds — NaN via isnan, norm via the
    shared dot fold, all JVM-side), then one label-keyed aggregate.
    Norms are round-6 before the min/max SELECTION, so the extremes are
    engine-portable.  The clean fixture reports zero pathologies by
    design — the pathology branches are pinned on a PLANTED frame in
    pytest (the falsifiability rule), since a corrupted fixture is not
    something to wish for."""
    emb = load_table(spark, sf_dir, "embeddings")
    per = _embedding_audit_frame(emb)
    return per.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.countDistinct("dim").cast("long").alias("n_distinct_dims"),
        F.max("dim").cast("long").alias("dim"),
        F.sum("nan_dims").cast("long").alias("total_nan_dims"),
        F.sum("is_zero").cast("long").alias("n_zero_vectors"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )


PI_EPOCHS = 3  # power-iteration epochs (unrolled in the oracle CTE chain)
PI_DIM = 64  # embeddings fixture dimensionality
PI_SCALE = 100000000.0  # per-term octopart quantization (1e8)


def embedding_top_pc_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding second-moment matrix by
    DISTRIBUTED POWER ITERATION — the spectral-health probe an embedding
    pipeline runs before whitening/ANN (a collapsed dominant direction
    means anisotropic embeddings; its loadings say which dims carry it).

    The iterative-algorithm shape on Spark: each epoch is ONE map-side-
    combined aggregate over the corpus computing s = sum_x (x.v) x — the
    matrix-free action of A = sum xx^T on v — with the 64-float iterate v
    riding into the scan as plan literals; the driver holds only 64 sums
    per epoch (never a row).  Three epochs unrolled, exactly the
    ``quality_linear_probe_train`` GD-epochs discipline.

    Cross-engine exactness (SURVEY §5 class 4 by construction): per-row
    terms are mirrored IEEE chains (left-fold dot, one multiply), each
    term quantizes to INTEGER octoparts via floor(t*1e8 + 0.5), epochs
    sum exact int64; the normalization v = S/||S|| recomputes from
    bigint->double-exact values with the identical textual op order in
    Python (driver) and SQL (oracle) — no engine-owned conversion
    anywhere.  Output: per dim, the round-half-up micro-loading of the
    final direction plus the shared eigenvalue estimate ||S||/(1e8 n).

    Scale shape: EPOCHS passes over the corpus, each one aggregate
    (partial sums map-side; the shuffle carries 64 longs per partition);
    embeddings never ride a shuffle, nothing quadratic, driver state is
    64 floats."""
    import math

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    n = emb.count()
    v = [1.0 / 8.0] * PI_DIM  # unit-norm uniform start (sqrt(64/64) = 1)
    s_ints: list[int] = []
    for _ in range(PI_EPOCHS):
        # d = left-fold dot(embedding, v) starting at 0.0 — one aggregate
        # over the zipped products, so the 64-term chain appears ONCE in
        # the plan.  (The naive 64 separate agg expressions each inline
        # the whole d-chain under CollapseProject — a 64x64-node tree
        # that dominated wall-clock with codegen, not data.)
        d = F.aggregate(
            F.zip_with(
                "embedding",
                F.array(*[F.lit(v[j]) for j in range(PI_DIM)]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        # per-dim integer octopart terms, exploded so the epoch sum is a
        # 64-group map-side-combined aggregate (shuffle carries 64 longs
        # per partition) instead of 64 wide agg expressions
        terms = F.transform(
            "embedding",
            lambda x: F.floor(
                F.col("d") * x.cast("double") * F.lit(PI_SCALE) + F.lit(0.5)
            ).cast("long"),
        )
        per_dim = (
            emb.select(d.alias("d"), "embedding")
            .select(F.posexplode(terms).alias("j", "t"))
            .groupBy("j")
            .agg(F.sum("t").alias("s"))
            .collect()
        )
        by_j = {int(r["j"]): int(r["s"]) for r in per_dim}
        s_ints = [by_j[j] for j in range(PI_DIM)]
        q = [float(s) for s in s_ints]  # int64 < 2^53: exact
        norm2 = 0.0
        for j in range(PI_DIM):  # left fold, mirrors the oracle's chain
            norm2 = norm2 + q[j] * q[j]
        norm = math.sqrt(norm2)
        v = [q[j] / norm for j in range(PI_DIM)]
    eig = math.floor(norm / (PI_SCALE * float(n)) * 1000000.0 + 0.5)
    rows = [
        (
            j + 1,
            int(math.floor(q[j] / norm * 1000000.0 + 0.5)),
            int(eig),
        )
        for j in range(PI_DIM)
    ]
    return spark.createDataFrame(
        rows, "dim long, loading_micros long, eigenvalue_micros long"
    )


#: Deletion-request selector for the IVF delete proof: vectors with
#: vec_id % IVF_DELETE_MOD == IVF_DELETE_REM play the GDPR-style erasure.
IVF_DELETE_MOD = 10
IVF_DELETE_REM = 3


def ann_ivf_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone DELETE on the persisted IVF index (NEW r11) — the erasure
    half of the index lifecycle next to ``ann_ivf_incremental``'s
    add-then-search (the GDPR path FAISS serves with remove_ids, Delta
    with DELETE + OPTIMIZE): deletion requests land as ONE batch-id-
    idempotent tombstone append (same schema, ``deleted = true`` — O(batch)
    commit, nothing rewritten), and the ranged OPTIMIZE applies them
    physically while re-clustering (``compact_ranged_tx(agg=...)`` — the
    tombstone collapse is the fold, ClickHouse's OPTIMIZE FINAL on a
    delete-carrying table).

    Served answers after the maintenance must equal the in-memory IVF
    over the REMAINING corpus under the FROZEN full-corpus quantizer —
    deleted vectors are neither queries nor retrievable neighbors (the
    oracle recomputes exactly that from raw parquet; the pytest pins
    zero victims and zero tombstones surviving the rewrite, replay
    no-op, and pruning restored).

    Scale shape: delete cost is O(batch) — one map-side assignment pass
    over the victims, one append commit; the physical erase rides the
    OPTIMIZE the table needed anyway; serving prunes by cell exactly as
    before."""
    from ..storage import txlog

    assigned = _ranked_cells_src(spark, sf_dir).select(
        "vec_id",
        F.element_at("ranked", 1)["c"].alias("cluster"),
        "embedding",
    ).persist()
    is_victim = F.col("vec_id") % IVF_DELETE_MOD == IVF_DELETE_REM
    table = scratch_dir("ivf_index", "del")
    bounds = [KMEANS_K * i // 4 for i in range(5)]
    bounds[4] = KMEANS_K
    try:
        base = assigned.withColumn("deleted", F.lit(False))
        for i in range(4):
            txlog.append_tx(
                spark,
                table,
                base.filter(
                    (F.col("cluster") >= bounds[i])
                    & (F.col("cluster") < bounds[i + 1])
                ).coalesce(4),
                batch_id=i,
                stats_cols=["cluster"],
            )
        tomb = assigned.filter(is_victim).withColumn("deleted", F.lit(True))
        if not txlog.append_tx(
            spark, table, tomb.coalesce(4), batch_id=4, stats_cols=["cluster"]
        ):
            raise RuntimeError("IVF tombstone commit did not apply")
        if not txlog.compact_ranged_tx(
            spark,
            table,
            "cluster",
            bounds,
            stats_cols=["cluster"],
            agg=apply_ivf_tombstones,
        ):
            raise RuntimeError("ranged OPTIMIZE found an empty index table")
    finally:
        assigned.unpersist(blocking=False)
    return _ivf_probe_serve(spark, sf_dir, table, keep=~is_victim)


def apply_ivf_tombstones(df: DataFrame) -> DataFrame:
    """Tombstone collapse for the delete-carrying IVF index: drop every
    row of a tombstoned vec_id AND the tombstones themselves (the
    ``deleted`` column survives for future delete batches).  The victim
    id set is delete-batch-bounded, join-derived — AQE's runtime
    conversion is its broadcast gate."""
    victims = df.filter(F.col("deleted")).select("vec_id")
    return df.filter(~F.col("deleted")).join(victims, "vec_id", "left_anti")


def stream_ivf_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF index maintenance (NEW r11) — the online closing of
    the add-then-search loop: embedding micro-batches arrive on a file
    stream, and each ``foreachBatch`` epoch assigns them MAP-SIDE to the
    frozen quantizer and appends to the index-as-table with the EPOCH id
    as the txlog batch id — so a checkpoint-restart replay of any epoch
    is a committed no-op (exactly-once index maintenance from an
    at-least-once stream, the same contract the rollup MERGE path keeps;
    pytest re-runs the drained stream and pins zero new commits).

    After the stream drains: ranged OPTIMIZE (restores cell pruning over
    the arrival-ordered epochs), then the shared pruned-probe serve —
    answers must equal the in-memory IVF over the full corpus (the
    ``ann_ivf_persisted`` oracle, recomputed from raw parquet).

    Scale shape: per-epoch cost is O(batch) — one map-side assignment,
    one O(1) append commit; the stream never holds engine state (the
    index IS the state, exactly how a production vector store ingests)."""
    from ..storage import txlog

    base = scratch_dir("ivf_stream", "run")
    src, ckpt, table = (os.path.join(base, d) for d in ("src", "ckpt", "idx"))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    for half in (0, 1):  # two arrival chunks -> two micro-batch epochs
        emb.filter(F.pmod("vec_id", F.lit(2)) == half).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    cent = _kmeans_fit(spark, sf_dir)
    bounds = [KMEANS_K * i // 4 for i in range(5)]
    bounds[4] = KMEANS_K

    def ingest_epoch(batch: DataFrame, epoch_id: int) -> None:
        assigned = _with_ranked_cells(batch, cent).select(
            "vec_id",
            F.element_at("ranked", 1)["c"].alias("cluster"),
            "embedding",
        )
        txlog.append_tx(
            spark, table, assigned.coalesce(4),
            batch_id=int(epoch_id), stats_cols=["cluster"],
        )

    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(ingest_epoch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not txlog.compact_ranged_tx(
        spark, table, "cluster", bounds, stats_cols=["cluster"]
    ):
        raise RuntimeError("streaming IVF ingest produced an empty index")
    return _ivf_probe_serve(spark, sf_dir, table)


#: Drift-response proof cohorts (``ann_ivf_quantizer_refresh``).  Two
#: re-arriving batches derived from the fixture: the PLAIN cohort
#: (vec_id % DRIFT_INGEST_MOD == DRIFT_PLAIN_RESIDUE, unchanged vectors,
#: ids + DRIFT_PLAIN_OFFSET) and the SHIFTED cohort (DRIFT_SHIFT_RESIDUE,
#: +1.0 on the first DRIFT_SHIFT_DIMS dims, ids + DRIFT_SHIFT_OFFSET).
#: Probed falsifiability (DuckDB, all 3 SFs): centroid dist^2 to the
#: index is ~0.005-0.02 for the plain cohort (pure sampling noise) and
#: ~8.0 for the shifted one — DRIFT_REFRESH_TAU_MICROS = 1.0 in micros
#: separates them by 2 orders of magnitude on BOTH sides, so engine and
#: oracle always take the same branch.
DRIFT_INGEST_MOD = 10
DRIFT_PLAIN_RESIDUE = 7
DRIFT_SHIFT_RESIDUE = 4
DRIFT_PLAIN_OFFSET = 2_000_007
DRIFT_SHIFT_OFFSET = 3_000_004
DRIFT_SHIFT_DIMS = 8
DRIFT_REFRESH_TAU_MICROS = 1_000_000


def _centroid_dist2_micros(index: DataFrame, batch: DataFrame) -> int:
    """Squared L2 distance between two frames' centroids, in round-6
    micros — the drift score that gates the quantizer refresh.  Per-dim
    sums ride the DECIMAL(38,15) fold (exact — the kmeans discipline),
    one double divide per centroid dim, then a driver-side left fold
    over the 64 sorted dims (2 x 64 rows — driver-bounded by the
    embedding dimension, never by the corpus).  r15: both centroids ride
    ONE side-tagged aggregate job instead of two jobs + a join — the
    per-(side, dim) decimal sums are the identical exact folds, so the
    score is value-unchanged."""
    import math

    tagged = index.select(F.lit("i").alias("side"), "embedding").unionByName(
        batch.select(F.lit("b").alias("side"), "embedding")
    )
    rows = (
        tagged.select("side", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("side", "dim")
        .agg(
            (
                F.sum(
                    F.col("x").cast("double").cast("decimal(38,15)")
                ).cast("double")
                / F.count("*")
            ).alias("c")
        )
        .collect()
    )
    ci = {r["dim"]: r["c"] for r in rows if r["side"] == "i"}
    cb = {r["dim"]: r["c"] for r in rows if r["side"] == "b"}
    if not ci or not cb or ci.keys() != cb.keys():
        raise ValueError(
            "centroid distance needs two non-empty sides with the same "
            f"embedding dimensions (index has {len(ci)}, batch has {len(cb)})"
        )
    d2 = 0.0
    for dim in sorted(ci):
        diff = ci[dim] - cb[dim]
        d2 += diff * diff
    return int(math.floor(d2 * 1_000_000 + 0.5))


def ann_ivf_quantizer_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer refresh + index re-cluster — the drift RESPONSE that
    closes the ANN production loop (NEW r14, verdict #4).  Detection has
    existed since r9 (``embedding_source_drift``); this op is what fires
    when it trips: re-fit the coarse quantizer on what the index now
    holds and re-cluster the persisted index under it, then keep serving.

    Lifecycle (one fresh index table per run, like
    ``ann_ivf_incremental``):

    1. BUILD: the corpus indexes under the FROZEN quantizer
       (``_kmeans_fit``) in 4 cell-range chunks (batch ids 0-3).
    2. Two batches then arrive (batch ids 4, 5 — monotone in arrival
       order).  Each batch is scored by ``_centroid_dist2_micros``
       against the CURRENT index before it lands; the arrival append is
       always committed first (batch-id idempotent: a replayed append is
       a no-op, and a skipped append skips the refresh too — the whole
       refresh rides the arrival commit).
       - the PLAIN cohort scores ~0.02 -> below tau: frozen-quantizer
         map-side assignment, plain append (the ``ann_ivf_incremental``
         path — no refit, no rewrite);
       - the SHIFTED cohort scores ~8.0 -> drift: REFRESH.  The new
         quantizer is ``_kmeans_fit_frame`` over the index's current
         contents (corpus ∪ both batches; memoized per dataset — the
         serve and any replay recompute the identical K*dim doubles),
         and the re-cluster is ONE ranged OPTIMIZE
         (``txlog.compact_ranged_tx(agg=reassign)``) whose fold
         re-assigns every row map-side against the new centroid
         broadcast while rewriting into cell-range directories — the
         same machinery that collapses tombstones, so pruning is
         restored under the NEW cell ids in the same atomic commit.
    3. SERVE: the shared pruned-probe serve (``_ivf_probe_serve``) under
       the NEW quantizer over the union corpus — answers must equal the
       in-memory IVF re-derived from raw parquet under the refit
       quantizer (the oracle recomputes exactly that, unrolled Lloyd on
       the union); ``neighbor_is_drifted`` flags results only servable
       because the drifted batch is searchable under cells that did not
       exist before the refresh.

    Scale shape: drift scoring is one 64-row centroid aggregate per
    batch (O(batch) + O(index) column-pruned scan of vectors only);
    refit is KMEANS_ITERS map-side assignment passes + K*64-decimal
    aggregates; the rewrite is O(index) — amortized in production by
    firing only when drift actually trips (detection is the cheap
    always-on monitor).  Embeddings never ride an unbounded shuffle; the
    driver only ever holds K*dim doubles and the 64-dim centroid rows."""
    from ..storage import txlog
    from ._memo import memo_get

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    plain = emb.filter(
        F.pmod("vec_id", F.lit(DRIFT_INGEST_MOD)) == DRIFT_PLAIN_RESIDUE
    ).select(
        (F.col("vec_id") + F.lit(DRIFT_PLAIN_OFFSET)).alias("vec_id"),
        "embedding",
    )
    shifted = emb.filter(
        F.pmod("vec_id", F.lit(DRIFT_INGEST_MOD)) == DRIFT_SHIFT_RESIDUE
    ).select(
        (F.col("vec_id") + F.lit(DRIFT_SHIFT_OFFSET)).alias("vec_id"),
        F.concat(
            F.transform(
                F.slice("embedding", 1, DRIFT_SHIFT_DIMS),
                lambda x: x + F.lit(1.0),
            ),
            F.transform(
                F.slice("embedding", DRIFT_SHIFT_DIMS + 1, DIM - DRIFT_SHIFT_DIMS),
                lambda x: x,
            ),
        ).alias("embedding"),
    )

    old_q = _kmeans_fit(spark, sf_dir)
    table = scratch_dir("ivf_index", "refresh")
    bounds = [KMEANS_K * i // 4 for i in range(5)]
    bounds[4] = KMEANS_K
    assigned = _with_ranked_cells(emb, old_q).select(
        "vec_id", F.element_at("ranked", 1)["c"].alias("cluster"), "embedding"
    ).persist()
    try:
        assigned.count()  # materialize the cache before the writers fan out
        txlog.append_many_tx(
            spark,
            table,
            [
                (
                    assigned.filter(
                        (F.col("cluster") >= bounds[i])
                        & (F.col("cluster") < bounds[i + 1])
                    ).coalesce(4),
                    i,
                )
                for i in range(4)
            ],
            stats_cols=["cluster"],
        )
    finally:
        assigned.unpersist(blocking=False)

    current_q = old_q
    ledger: list[dict] = []
    for batch, bid, tag in ((plain, 4, "plain"), (shifted, 5, "shifted")):
        index_now = txlog.read_table(spark, table).select("vec_id", "embedding")
        d2 = _centroid_dist2_micros(index_now, batch)
        asg = _with_ranked_cells(batch, current_q).select(
            "vec_id", F.element_at("ranked", 1)["c"].alias("cluster"), "embedding"
        )
        applied = txlog.append_tx(
            spark, table, asg.coalesce(4), batch_id=bid, stats_cols=["cluster"]
        )
        refreshed = False
        if d2 > DRIFT_REFRESH_TAU_MICROS:
            # drift fired: refit on what the index holds NOW (corpus +
            # every arrived batch), then ONE re-assigning ranged OPTIMIZE
            current_q = memo_get(
                "kmeans_refresh_fit",
                sf_dir,
                ("embeddings",),
                lambda: _kmeans_fit_frame(
                    txlog.read_table(spark, table).select("vec_id", "embedding")
                ),
            )
            if applied:  # a replayed arrival skips the rewrite too
                nq = current_q

                def reassign(df: DataFrame) -> DataFrame:
                    return _with_ranked_cells(
                        df.select("vec_id", "embedding"), nq
                    ).select(
                        "vec_id",
                        F.element_at("ranked", 1)["c"].alias("cluster"),
                        "embedding",
                    )

                if not txlog.compact_ranged_tx(
                    spark, table, "cluster", bounds,
                    agg=reassign, stats_cols=["cluster"],
                ):
                    raise RuntimeError("quantizer refresh found an empty index")
                refreshed = True
        ledger.append(
            {"batch": tag, "drift_micros": d2, "applied": applied,
             "refreshed": refreshed}
        )

    uni = emb.unionByName(plain).unionByName(shifted)
    ann_ivf_quantizer_refresh.last_state = {
        "table": table, "ledger": ledger,
        "old_quantizer": old_q, "new_quantizer": current_q,
        "bounds": bounds,
    }
    # query set: the usual deterministic cell-0 vectors PLUS every
    # drifted arrival — the production check "the refreshed index serves
    # the new data"; drifted queries find drifted neighbors (the shifted
    # cloud is mutually close), so neighbor_is_drifted fires at every SF
    # while staying false for the corpus queries (both branches live).
    return _ivf_probe_serve(
        spark, sf_dir, table, quantizer=current_q, corpus=uni,
        query_pred=lambda wc: (F.element_at("ranked", 1)["c"] == 0)
        | (F.col("vec_id") >= F.lit(DRIFT_SHIFT_OFFSET)),
    ).withColumn(
        "neighbor_is_drifted",
        F.col("neighbor_id") >= F.lit(DRIFT_SHIFT_OFFSET),
    )

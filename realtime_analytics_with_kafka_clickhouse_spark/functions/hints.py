"""Size-gated planner hints.

``F.broadcast(df)`` is a *promise*, not a measurement: Spark ships the
whole frame to every executor whatever its size.  That is right for
domain-bounded dims (regions, event types, codebooks) but wrong for any
frame whose cardinality grows with the corpus — a doc-keyed dim that
broadcasts fine at sf0.1 is a multi-GB OOM at 100 TB.  Two gates, by
frame provenance:

- **Scan-rooted frames** (a read + filters/projections, no join or
  aggregate below): ``broadcast_if_small`` probes the row count with a
  bounded job — ``limit(n+1).count()`` — and LocalLimit pushes into the
  scan, so the probe is O(limit) whatever the underlying size.
- **Join/agg/window-derived frames**: the probe would RE-EXECUTE the
  whole upstream job (LocalLimit cannot push below a join or aggregate),
  doubling the most expensive pass — the r10 bench showed 2.1x on
  ``embedding_near_dup`` from exactly this.  ``runtime_broadcast``
  attaches NO hint and leaves the decision to AQE, which measures the
  ACTUAL post-shuffle byte size at runtime and converts sort-merge to
  broadcast-hash for free (``spark.sql.adaptive.autoBroadcastJoinThreshold``
  inherits the session's 64m static threshold) — a strictly better
  measurement than any row-count probe, at zero extra jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Row-count proxy for "fits in a broadcast": ~50-100 B/row for the
# narrow (key, attr) dims this gates puts the default well under
# Spark's driver/executor broadcast comfort zone, while still passing
# every domain-bounded dim at any corpus size.
BROADCAST_ROW_LIMIT = 1_000_000


def broadcast_if_small(
    df: DataFrame, limit_rows: int = BROADCAST_ROW_LIMIT
) -> DataFrame:
    """Return ``F.broadcast(df)`` iff df has <= limit_rows rows.

    For SCAN-ROOTED frames only: the probe is ``df.limit(limit_rows +
    1).count()``, and a LocalLimit stops each scan task early so the
    probe is O(limit) regardless of corpus size.  Do NOT use on frames
    derived from a join/aggregate/window — the limit cannot push below
    those operators, so the probe re-executes the full upstream job;
    use :func:`runtime_broadcast` there.  Frames above the limit come
    back unhinted — correctness is unchanged (the hint only steers the
    physical join strategy), the plan just degrades gracefully from
    broadcast-hash to shuffle join instead of OOMing an executor.
    """
    if limit_rows < 1:
        raise ValueError(f"limit_rows must be >= 1, got {limit_rows}")
    n = df.limit(limit_rows + 1).count()
    if n <= limit_rows:
        return F.broadcast(df)
    return df


def runtime_broadcast(df: DataFrame) -> DataFrame:
    """Size-gate a JOIN/AGG/WINDOW-DERIVED frame: intentionally a no-op.

    Attaching no hint delegates the broadcast decision to AQE's runtime
    re-plan: after the frame's shuffle map stage runs, AQE reads the
    actual output byte size and converts the sort-merge join to a
    broadcast-hash join when it fits (exact measurement, zero extra
    jobs).  A ``limit(n+1).count()`` probe here would re-execute the
    whole upstream join/aggregate once per call — the r10 bench measured
    that as a 2.1x regression on ``embedding_near_dup`` — while AQE's
    statistics are both cheaper (free) and more accurate (bytes, not a
    row-count proxy).  The function exists so call sites state their
    size-safety argument explicitly and tests can pin that no static
    hint is attached.
    """
    return df


# Hard cap for "request-sized" driver collects (query/anchor batches that
# ride an sc.broadcast into mapInPandas serving kernels).  100k rows of
# 64-dim float64 embeddings is ~50 MB on the driver — comfortably inside
# an 8 GB driver, far outside any sane per-request batch.
REQUEST_BATCH_ROW_LIMIT = 100_000

# Byte cap for the executor-side corpus slot (``similarity._corpus``): the
# raw float64 matrix plus its derived views, held by EVERY Python worker,
# and a host runs one worker per task slot.  1 GiB x 8 cores still fits a
# 16 GB host beside the JVM; sf0.1's full slot is gated at 5.1 MB (2000 x
# 64 cells x 8 B x (raw + 4 views)), ~200x under it.  Past the cap the
# brute-force kernels must give way to the partition-local IVF paths.
EXECUTOR_CORPUS_BYTE_LIMIT = 1 << 30


def collect_request_sized(
    df: DataFrame, cap: int = REQUEST_BATCH_ROW_LIMIT, what: str = "query batch"
):
    """Collect ``df`` to the driver iff it is provably request-sized.

    The serving operators' contract is "the query/anchor batch is
    request-sized"; this makes the premise ENFORCED instead of assumed —
    a batch above ``cap`` raises instead of silently OOMing the driver
    at corpus scale.  One bounded job: ``limit(cap+1).collect()`` returns
    the complete result when it is under the cap (a limit larger than
    the total row count is the identity) and at most cap+1 rows when not.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what} violates the request-size premise (> {cap} rows): "
            "refuse the driver collect and route the batch through the "
            "distributed serving path instead"
        )
    return rows

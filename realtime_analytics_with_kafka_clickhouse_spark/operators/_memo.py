"""Driver-side memo for small derived artifacts shared across queries.

Several registry queries re-derive the same driver-bounded artifact from
the same input table — the fitted k-means quantizer (K*dim doubles) feeds
``kmeans_train``, ``ann_ivf_kmeans``, and ``ann_recall_at_k``; the
near-dup cluster labels feed ``near_dup_clusters``, ``dedup_keep_best``,
and ``corpus_mix_report``.  Each artifact is tiny (a quantizer, a label
list bounded by CC_DRIVER_MAX_EDGES), but RE-DERIVING it is a full Spark
job (Lloyd rounds / the whole MinHash-LSH pipeline), so a session that
runs several of those queries pays the job once per query.

Two-store rule: a derived value lives in exactly one of the package's two
memos, chosen by what it is bound to.

* Process-level values (fitted models, label lists, scratch-table paths,
  replay-source paths with their schema) live here, in ``_MEMO``.  Keys
  are ``(kind, ...)``: ``memo_get`` keys on a metadata-only dataset
  fingerprint (max mtime + total bytes over the input's parquet files, via
  pyarrow.fs so object-store URIs work like local paths); the build-once
  tables of ``sources.tables.build_once`` key on ``sources.tables.memo_key``
  of each table they read.  A rewritten fixture at the same path misses
  instead of serving stale results, a key that cannot be built (a fake or
  missing dir) never caches, and every build adds its seconds to
  ``BUILD_SEC``.
* Session-bound values (DataFrames, plans, catalog table names) live in
  ``sources.tables._SESSION_MEMO``, which dies with its SparkSession.

One slot per kind bounds footprint: a new key for a kind evicts the old
one.  An evicted scratch path stays on disk until exit (``scratch_dir``),
so a lazy frame that still reads it keeps working.

This memo lives on the DRIVER in plain Python, so it survives
``spark.catalog.clearCache()`` (which the bench issues between queries to
keep executor memory honest) and never holds executor memory or a
DataFrame lineage.

The module also owns the package's one scratch workspace: ``scratch_dir``
hands out every temp path (memo artifacts, stream checkpoints, build-once
tables, file mirrors) under per-PID roots ``spark_graft_<area>-<pid>``,
and one atexit sweeper removes this process's roots plus any root whose
owner pid is gone or was reused (see ``scratch_dir`` for both rules).
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import time
import uuid
from typing import Any, Callable

_MEMO: dict = {}

_MISS = object()


def path_fingerprint(filesystem, fs_path: str) -> tuple:
    """(max mtime_ns, total bytes) over the file at ``fs_path``, or over
    every file below it when it is a directory: a metadata-only identity
    that changes when the data is rewritten at the same path.  Raises
    ``FileNotFoundError`` for a missing path, which has no identity: every
    missing path would share the fingerprint (0, 0)."""
    from pyarrow import fs as pafs

    info = filesystem.get_file_info(fs_path)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(fs_path)
    if info.type == pafs.FileType.Directory:
        infos = [
            i
            for i in filesystem.get_file_info(pafs.FileSelector(fs_path, recursive=True))
            if i.is_file
        ]
    else:
        infos = [info]
    return (
        max((i.mtime_ns or 0) for i in infos) if infos else 0,
        sum((i.size or 0) for i in infos),
    )


def absolute(path: str) -> str:
    """``path`` itself when it is a URI, else made absolute: a relative
    path has no URI scheme, so ``FileSystem.from_uri`` rejects it, and it
    names another directory after a ``chdir``."""
    return path if "://" in path else os.path.abspath(path)


def table_fingerprint(sf_dir: str, table: str) -> tuple:
    """``path_fingerprint`` of the table's parquet file(s)."""
    from pyarrow import fs as pafs

    return path_fingerprint(
        *pafs.FileSystem.from_uri(os.path.join(absolute(sf_dir), f"{table}.parquet"))
    )


def _key(kind: str, sf_dir: str, tables: tuple[str, ...]) -> tuple:
    return (kind, absolute(sf_dir), tuple(table_fingerprint(sf_dir, t) for t in tables))


def memo_peek(kind: str, sf_dir: str, tables: tuple[str, ...]) -> Any:
    """Cached value for (kind, current dataset state), or _MISS sentinel.

    An unfingerprintable input (planted test frames behind a fake sf_dir)
    degrades to a miss — the memo is an accelerator, never a correctness
    dependency."""
    try:
        key = _key(kind, sf_dir, tables)
    except Exception:
        return _MISS
    return _MEMO.get(key, _MISS)


def memo_put(kind: str, sf_dir: str, tables: tuple[str, ...], value: Any) -> Any:
    try:
        key = _key(kind, sf_dir, tables)
    except Exception:
        return value  # unfingerprintable input: don't cache, stay correct
    return _put(key, value)


def _put(key: tuple, value: Any) -> Any:
    """Store ``value`` in the one slot of kind ``key[0]``."""
    for k in [k for k in list(_MEMO) if k[0] == key[0]]:
        _MEMO.pop(k, None)
    _MEMO[key] = value
    return value


#: Wall-clock spent building each memoized artifact this process (kind ->
#: cumulative seconds).  Observability only (r14 VERDICT #6): the bench
#: publishes it as ``artifact_build_sec`` so the one-time index builds that
#: best-of-N amortizes away stay visible in the official record.
BUILD_SEC: dict[str, float] = {}


def memo_get(
    kind: str, sf_dir: str, tables: tuple[str, ...], compute: Callable[[], Any]
) -> Any:
    return memo_build(kind, lambda: _key(kind, sf_dir, tables)[1:], compute)


def memo_build(
    kind: str, key_of: Callable[[], tuple], compute: Callable[[], Any]
) -> Any:
    """The value in ``kind``'s slot under key ``(kind,) + key_of()``,
    built by ``compute()`` (timed into ``BUILD_SEC``) on a miss.  When
    ``key_of`` raises, the input has no identity: the value is built and
    never cached."""
    try:
        key = (kind, *key_of())
    except Exception:
        key = None
    hit = _MEMO.get(key, _MISS)
    if hit is _MISS:
        t0 = time.perf_counter()
        hit = compute()
        BUILD_SEC[kind] = round(
            BUILD_SEC.get(kind, 0.0) + time.perf_counter() - t0, 4
        )
        if key is not None:
            _put(key, hit)
    return hit


def is_miss(value: Any) -> bool:
    return value is _MISS


def scratch_dir(area: str, name: str) -> str:
    """A fresh path ``<tmp>/spark_graft_<area>-<pid>/<name>-<uuid8>`` for
    one scratch artifact; nothing is created.  Every scratch file of the
    package lives under such a root.

    Per-PID rule: a process writes only under roots that carry its own
    pid, so no process deletes what another live process reads (a shared
    root let an exiting pytest delete files under a live bench stream).
    Dirs are never deleted while the process runs: a lazy DataFrame handed
    out before a memo eviction keeps reading its now unreferenced dir
    instead of failing mid-query, and such dirs die with the root.

    Sweep rule: at exit ``_sweep_scratch_roots`` removes this process's
    roots and every root ``_orphaned`` finds ownerless, so a normal exit
    leaves nothing behind and a killed process's roots go at the next
    exit of any process.

    Code outside the package reads two root names, so they stay fixed:
    ``spark_graft_memo-<pid>`` (a plan pin) and
    ``spark_graft_inc_rollups-<pid>`` (the benchmark's stored bytes)."""
    return os.path.join(_root(area, os.getpid()), f"{name}-{uuid.uuid4().hex[:8]}")


def _root(area: str, pid: int | str) -> str:
    """``<tmp>/spark_graft_<area>-<pid>``; ``"*"`` for both is the glob of
    every root."""
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{area}-{pid}")


# Start times come from /proc at clock-tick resolution against a boot time
# in whole seconds; a root must predate its pid's start by more than this
# before the pid counts as reused.
_PID_REUSE_SLACK_S = 5.0


def _started_at(pid: int) -> float | None:
    """Epoch seconds at which ``pid`` started, or None where /proc does
    not say."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            boot = next(int(ln.split()[1]) for ln in f if ln.startswith("btime "))
    except (OSError, ValueError, IndexError, StopIteration):
        return None
    return boot + ticks / os.sysconf("SC_CLK_TCK")


def _orphaned(root: str) -> bool:
    """True when the pid in ``root``'s name is gone, or is alive but
    started after the root was last written (the pid was reused).  A root
    whose live owner started before it was made is never orphaned: the
    owner's writes only move its mtime forward."""
    try:
        pid = int(root.rsplit("-", 1)[1])
    except ValueError:
        return False  # no pid in the name: no owner to check
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        pass  # alive under another uid
    started = _started_at(pid)
    try:
        return started is not None and (
            os.stat(root).st_mtime + _PID_REUSE_SLACK_S < started
        )
    except FileNotFoundError:
        return False


@atexit.register
def _sweep_scratch_roots() -> None:
    """Remove this process's scratch roots and every orphaned one."""
    mine = f"-{os.getpid()}"
    for root in glob.glob(_root("*", "*")):
        if root.endswith(mine) or _orphaned(root):
            shutil.rmtree(root, ignore_errors=True)


def scratch_persist(df, kind: str) -> str:
    """Persist a derived DataFrame to a scratch parquet table and return
    its path — the distributed sibling of the in-memory memo value: the
    artifact stays on disk (never collected to the driver), and replays
    are ordinary parquet scans.  The dir is a ``scratch_dir`` under the
    ``spark_graft_memo-<pid>`` root; a fingerprint eviction writes a fresh
    dir and leaves the superseded one to the exit sweep, so earlier lazy
    frames stay readable."""
    path = scratch_dir("memo", kind)
    df.write.mode("overwrite").parquet(path)
    return path

"""Engine-portable deterministic hashing.

Dedup / LSH / fingerprint operators need a hash that (a) runs JVM-side as a
Spark ``Column`` expression (no Python in the hot path), (b) is reproducible
across engines so the DuckDB oracle can re-derive identical values.  Spark's
``hash()``/``xxhash64`` and DuckDB's ``hash()`` are different algorithms, so
we standardize on **md5 -> first 15 hex chars -> uint60** — both engines
expose md5, and 60 bits keeps every value inside a signed 64-bit int.

Spark:  ``conv(substr(md5(x), 1, 15), 16, 10)::bigint``
DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Seeded hashes join seed and payload with \x01 so ("1","2x") != ("12","x").
_SEP = "\x01"


def stable_hash64(col: Column | str) -> Column:
    """60-bit stable hash of a string column (md5-derived, engine-portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def word_hash_expr(col: Column | str, seed: Column | int = 0) -> Column:
    """Seeded stable hash: h(seed, x) — used for minhash families."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lit(seed) if isinstance(seed, int) else seed
    return stable_hash64(F.concat_ws(_SEP, s.cast("string"), c))

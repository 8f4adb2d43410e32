"""Deterministic, engine-portable hashing.

The reference's sampling/sharding uses seeded RNGs (SamplerFilter seed=42,
fineweb-2/main.py:286-295; dataset.shard, code_annotation.py:92). Seeded RNG
output is not reproducible across engines, so every oracle-checked operator
here uses *hash-based* determinism instead: the same row always lands in the
same sample/shard/bucket on Spark, DuckDB, or a 1000-executor cluster —
which is also the only sane semantics at 100 TB (re-runs and retries must
not resample).

``md5_hash64`` is the portable primitive: first 15 hex digits of md5 → 60-bit
int. Identical in Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`('0x' || substr(md5(x),1,15))::BIGINT`). xxhash64 would be faster but is
Spark-only; we keep xxhash64 for internal (non-oracle) paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 60-bit space of md5_hash64.
MD5_SPACE = 1 << 60


def md5_hash64(col: Column) -> Column:
    """Portable 60-bit hash of a string column (see module docstring)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def md5_hash64_sql(expr: str) -> str:
    """DuckDB rendering of :func:`md5_hash64` for oracle SQL."""
    return f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


def lin_hash(col: Column, a: int = 9973, b: int = 12345, m: int = 1_000_003) -> Column:
    """Cheap multiplicative hash on an integer key: ``(key*a + b) % m``.

    WARNING: a linear map does not mix — consecutive keys stay consecutive
    until the modulus wraps, so it is unusable for sampling/sharding over
    small id ranges (caught by test_hash_sample_deterministic_and_stable).
    Kept only for salting/ordering internals where monotone-within-window
    behavior is acceptable; all samplers use :func:`salted_hash`.
    """
    return (col.cast("long") * F.lit(a) + F.lit(b)) % F.lit(m)


def salted_hash(col: Column, salt: int = 0) -> Column:
    """Well-mixed, engine-portable keyed hash: md5 over ``key || '_' || salt``.

    NULL keys hash as the sentinel string '\\u2400' instead of propagating
    NULL — a NULL hash would silently drop those rows from every
    hash-sample/shard (NULL == shard is never true), so the union of n
    shards would lose rows. The SQL twin applies the same COALESCE."""
    key = F.coalesce(col.cast("string"), F.lit("␀"))
    return md5_hash64(F.concat(key, F.lit(f"_{salt}")))


def salted_hash_sql(expr: str, salt: int = 0) -> str:
    """DuckDB rendering of :func:`salted_hash`."""
    return md5_hash64_sql(f"COALESCE(CAST({expr} AS VARCHAR), '␀') || '_{salt}'")


def hash_bucket(col: Column, n: int, salt: int = 0) -> Column:
    """Deterministic bucket in [0, n) — the engine's SamplerFilter /
    shard-selector primitive (reference fineweb-2/main.py:286-295,
    code_annotation.py:92)."""
    return salted_hash(col, salt) % F.lit(n)


def minhash_expr(shingle_hashes: Column, a: int, b: int, p: int = (1 << 31) - 1) -> Column:
    """One MinHash signature component: ``min((a*h + b) mod p)`` over a doc's
    shingle-hash array. a,b are per-component constants; p is a Mersenne
    prime (2^31-1 keeps a*h < 2^63 under ANSI arithmetic).

    The reference form of the arithmetic: ``dedup.minhash_signatures``
    computes the same components in a numpy fold (tests hold the two
    equal element for element), and the DuckDB oracle twin
    (``queries._minhash_bands_sql``) mirrors this expression.
    """
    return F.array_min(
        F.transform(shingle_hashes, lambda h: (h % F.lit(p) * F.lit(a) + F.lit(b)) % F.lit(p))
    )

"""Portable deterministic hashing — identical results in Spark, DuckDB
and Python.

Spark's ``hash()``/``xxhash64()`` and DuckDB's ``hash()`` use different
algorithms, so cross-engine-checkable sketches (MinHash, SimHash, KMV,
count-min, document fingerprints, seeded splits) are built on md5, which
both engines implement identically. The format is one decision, owned
here: the md5 hex digest of a string, its leading hex digits read as an
integer.

    hash32(s)    = int(md5(s)[0:8], 16)     ∈ [0, 2^32)
    hash60(s)    = int(md5(s)[0:15], 16)    ∈ [0, 2^60)
    hash_frac(s) = hash60(s) / 2^60         ∈ [0, 1)

Both fit a signed 64-bit integer, so no signedness traps; 2^60 is a
power of two, so ``hash_frac`` is the same double on every side.

Each function takes the string to hash as SQL text and returns SQL
text: ``hash32`` … for Spark (Column-API callers wrap it in ``F.expr``),
``sql_hash32`` … for DuckDB, and ``py_hash32`` hashes a Python string on
the driver. The caller writes the whole input, seed prefix included
(``concat('M§', s)`` / ``'M§' || s``), so every seeded input keeps its
exact bytes; ``SEED_SEP`` is the separator those prefixes use. md5 is
~2× slower than xxhash but still JVM-side and codegen'd; at 100 TB the
scan dominates, not the hash.
"""

from __future__ import annotations

import hashlib

SEED_SEP = "§"  # separator unlikely to appear in tokens
_FRAC_SCALE = repr(float(2**60))  # exact double literal on both engines


def _spark(s: str, digits: int) -> str:
    return f"cast(conv(substring(md5({s}), 1, {digits}), 16, 10) as bigint)"


def _duck(s: str, digits: int) -> str:
    return f"CAST('0x' || substr(md5({s}), 1, {digits}) AS BIGINT)"


def hash32(s: str) -> str:
    """Spark SQL: the 32-bit hash (bigint) of string expression ``s``."""
    return _spark(s, 8)


def hash60(s: str) -> str:
    """Spark SQL: the 60-bit hash (bigint) of string expression ``s``."""
    return _spark(s, 15)


def hash_frac(s: str) -> str:
    """Spark SQL: ``hash60(s) / 2^60`` as a double in [0, 1)."""
    return f"({hash60(s)} / {_FRAC_SCALE})"


def sql_hash32(s: str) -> str:
    """DuckDB twin of :func:`hash32`."""
    return _duck(s, 8)


def sql_hash60(s: str) -> str:
    """DuckDB twin of :func:`hash60`."""
    return _duck(s, 15)


def sql_hash_frac(s: str) -> str:
    """DuckDB twin of :func:`hash_frac`."""
    return f"({sql_hash60(s)} / {_FRAC_SCALE})"


def py_hash32(s: str) -> int:
    """Python twin of :func:`hash32`, for values derived on the driver."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

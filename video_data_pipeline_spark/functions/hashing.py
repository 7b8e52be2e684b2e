"""Deterministic, engine-portable hashing primitives.

The reference derives randomness from wall-clock/pid (``filters.py:206``
``shuffle`` rng) or seed+epoch (``filters.py:234-245`` ``detshuffle``), which
is hostile to distributed retry semantics: a Spark task that retries must
produce identical output. Every "random" operation in this engine is therefore
a pure function of ``(seed, key)`` via md5.

``stable_hash64`` is chosen to be *bit-identical* in Spark SQL and DuckDB SQL
(the correctness oracle): parse the first 15 hex chars of md5 as a 60-bit int.

- Spark:  ``CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)``
- DuckDB: ``(('0x' || substr(md5(x), 1, 15))::BIGINT)``

Both yield e.g. md5('hello') -> 419982666956583591.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Max value of the 60-bit stable hash, as float, for uniform scaling.
HASH_SPACE = float(1 << 60)


def stable_hash64(col: Column | str, seed: str = "") -> Column:
    """60-bit deterministic hash of a column (optionally salted by ``seed``).

    Pure Catalyst expression (md5 + conv) — stays in whole-stage codegen; no
    Python round-trip. Identical values across runs, retries, and engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(F.lit(seed), c.cast("string")) if seed else c.cast("string")
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint")


def duckdb_hash64_sql(expr: str, seed: str = "") -> str:
    """DuckDB-SQL text form of the same hash (for oracle queries)."""
    inner = f"concat('{seed}', CAST({expr} AS VARCHAR))" if seed else f"CAST({expr} AS VARCHAR)"
    return f"(('0x' || substr(md5({inner}), 1, 15))::BIGINT)"


def stable_unit_uniform(col: Column | str, seed: str = "") -> Column:
    """Deterministic uniform in [0,1) keyed by ``col`` — the engine's
    replacement for ``rand()`` wherever reproducibility-under-retry matters
    (reference ``rsample``, ``filters.py:554-562``)."""
    return stable_hash64(col, seed) / F.lit(HASH_SPACE)


def duckdb_unit_uniform_sql(expr: str, seed: str = "") -> str:
    return f"({duckdb_hash64_sql(expr, seed)} / {HASH_SPACE!r})"

"""Deterministic cross-engine hashing primitives.

Spark's ``hash()``/``xxhash64()`` and DuckDB's ``hash()`` are different
algorithms, so every hash that must oracle-match is derived from md5 (both
engines implement identical md5): take the first 15 hex chars (60 bits, fits
int64 unsigned-safe) and parse as an integer.

``H31`` reduces that to 31 bits so affine permutations ``(a·h + b) mod P31``
stay below 2^62 — no int64 overflow on either engine (Spark non-ANSI wraps
silently on overflow, DuckDB raises; staying in-range sidesteps both).
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 − 1, prime


def md5_bigint(col: Column | str) -> Column:
    """First 60 bits of md5 as a non-negative int64 (matches DuckDB
    ``('0x' || substr(md5(x),1,15))::BIGINT``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_bigint_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def h31(col: Column | str) -> Column:
    return md5_bigint(col) % P31


def h31_sql(expr: str) -> str:
    return f"({md5_bigint_sql(expr)} % {P31})"


def minhash_perms(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded affine-permutation coefficients (a odd-ish nonzero, b) shared by
    the Spark builder and the SQL oracle generator."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, P31), rng.randrange(0, P31)) for _ in range(num_perm)
    ]


def perm_hash(h: Column, a: int, b: int) -> Column:
    """(a·h + b) mod P31 over a 31-bit input — overflow-free in int64."""
    return (F.lit(a) * h + F.lit(b)) % P31

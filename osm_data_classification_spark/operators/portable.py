"""Cross-engine (Spark ⇄ DuckDB) deterministic primitives.

The driver's correctness gate hashes query output values from Spark
and DuckDB side-by-side (__spark_entry__.py), so every operator that
wants a full value-level check must compute *bit-identical* results in
both engines. Engines usually diverge in three places — hashing, float
summation order, and integer division. These helpers pin down the
hashing; the operators that sum floats round each term and sum it as
DECIMAL, so any order gives the same value. The constructions:

- ``phash`` — a 60-bit integer hash both engines derive from md5 hex
  (md5 is standardized; hex→int via Spark ``conv`` / DuckDB
  ``CAST('0x…')``). Used everywhere a portable hash is needed
  (shingles, MinHash, SimHash); verified equal in tests.
- ``pmix`` — a multiply-mod permutation of a phash that stays inside
  int64 *without overflow* (DuckDB errors on BIGINT overflow, Spark
  wraps silently — so the formula must never overflow: reduce to 30
  bits before multiplying).
- integer-scaled ratios (``x1000``-style) instead of float division —
  integer arithmetic is total-order-free and engine-exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD30 = 1 << 30
PMIX_P = (1 << 61) - 1  # Mersenne prime; a*h30 + b < 2^61 always fits


def phash_col(col: Column) -> Column:
    """60-bit non-negative integer hash of a string (Spark side)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def PHASH(expr: str) -> str:
    """DuckDB mirror of :func:`phash_col`."""
    return f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15) AS BIGINT)"


def pmix_col(h: Column, a: int, b: int) -> Column:
    """Permuted hash ``(a * (h mod 2^30) + b) mod P`` — overflow-free
    MinHash permutation (a, b < 2^30)."""
    return F.pmod(F.lit(a) * F.pmod(h, F.lit(MOD30)) + F.lit(b), F.lit(PMIX_P))


def PMIX(expr: str, a: int, b: int) -> str:
    return f"(({a} * (({expr}) % {MOD30}) + {b}) % {PMIX_P})"


def perm_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n MinHash permutations — a simple
    LCG so Spark and SQL sides share the exact constants with no RNG
    library in the loop."""
    params = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state >> 16) % (MOD30 - 2) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (state >> 16) % MOD30
        params.append((a, b))
    return params

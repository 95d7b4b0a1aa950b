"""Cross-engine-reproducible 64-bit hashing primitives.

The driver's correctness gate hash-compares Spark results against DuckDB
oracles, so any hash that reaches the output (MinHash signatures, SimHash
bits, LSH band buckets) must be computable identically in BOTH engines.
``xxhash64`` is Spark-only; instead we derive integers from ``md5`` (both
engines implement RFC-1321 md5 over UTF-8 bytes) and do all downstream
mixing with exact int64 arithmetic modulo a 31-bit prime:

- ``h64``: first 15 hex chars of md5 → a 60-bit non-negative int64.
  Spark: ``conv(substring(md5(x),1,15),16,10)``;
  DuckDB: ``CAST('0x' || substring(md5(x),1,15) AS BIGINT)``.
- MinHash permutations: universal hashing ``(a*t + b) mod P`` with
  ``P = 2^31 - 1``. Operands are reduced mod P first, so every product is
  < 2^62 — no int64 overflow in either engine (DuckDB raises on overflow;
  Spark silently wraps: both failure modes are avoided, not papered over).
- Ordered combining (n-gram shingles, band digests): polynomial rolling
  hash mod P with base ``B`` (Horner form), same no-overflow argument.

Replaces the earlier xxhash64 design (same distributional properties for
set-overlap estimation; collisions ~2^-31 per pair are negligible at the
shingle-set sizes involved).
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 - 1: the modulus for all integer mixing.
P = 2_147_483_647
#: Polynomial base for ordered combining (prime, < 2^31).
B = 1_000_003


def h64(col: Column | str) -> Column:
    """md5-derived 60-bit int64 of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def duck_h64(expr: str) -> str:
    """DuckDB SQL computing exactly ``h64`` of ``expr``."""
    return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"


def hmod(col: Column | str) -> Column:
    """``h64`` reduced mod P — the base token hash for MinHash/shingles."""
    return h64(col) % P


def duck_hmod(expr: str) -> str:
    return f"({duck_h64(expr)} % {P})"


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations.

    Seeded PRNG: the Spark plan builder and the DuckDB oracle generator both
    call this function, so the constants agree by construction.
    """
    rnd = random.Random(0x5EED)
    return [
        (rnd.randrange(1, P), rnd.randrange(0, P)) for _ in range(num_hashes)
    ]


def poly2(x: Column, y: Column) -> Column:
    """Ordered combine of two mod-P values: ``(x*B + y) mod P``."""
    return (x * B + y) % P


def duck_poly2(x: str, y: str) -> str:
    return f"(({x} * {B} + {y}) % {P})"

"""Cross-engine deterministic hashing primitives.

The LLM-dedup operators (MinHash, SimHash, LSH) need hash functions that are
(a) computable JVM-side with built-in expressions (no Python in the hot
path) and (b) reproducible in ANSI SQL so the DuckDB oracle can verify them.

Two shared base hashes derived from md5 hex prefixes:

* 32-bit (MinHash):  Spark ``conv(substr(md5(s),1,8),16,10)`` /
  DuckDB ``('0x' || substr(md5(s),1,8))::BIGINT`` — small enough that the
  universal family ``(a*x + b) mod (2^31-1)`` stays inside plain int64
  (max product < 2^63), keeping the whole signature in whole-stage codegen
  with no decimal arithmetic.
* 60-bit (SimHash):  Spark ``conv(substr(md5(s),1,15),16,10)`` /
  DuckDB ``('0x' || substr(md5(s),1,15))::BIGINT`` — wide enough for
  per-bit sign votes.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_31 = (1 << 31) - 1  # universal-hash modulus for MinHash
MERSENNE_61 = (1 << 61) - 1  # kept for reference / wide-hash uses


def hash32(col: Column | str) -> Column:
    """Deterministic 32-bit non-negative hash of a string column (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def hash32_oracle_sql(expr: str) -> str:
    """DuckDB SQL rendering of :func:`hash32` over SQL expression ``expr``."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def hash64(col: Column | str) -> Column:
    """Deterministic 60-bit non-negative hash of a string column (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for ``(a*x + b) mod (2^31-1)`` (shared with the
    oracle SQL generator). a, b < 2^31 and x < 2^32 keep products < 2^63."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


def minhash_signature(
    token_array: Column, num_hashes: int, seed: int = 42
) -> Column:
    """MinHash signature as array<long>: one fold over the token array.

    Single-pass: the base hash (md5) is computed once per token; the K
    permuted hashes update a K-slot accumulator via zip_with — everything
    stays in int64 inside whole-stage codegen. Empty arrays yield
    [MERSENNE_31] * K (matches the oracle's coalesced min).
    """
    params = minhash_params(num_hashes, seed)
    a_lit = F.array(*[F.lit(a).cast("long") for a, _ in params])
    b_lit = F.array(*[F.lit(b).cast("long") for _, b in params])
    base = F.transform(token_array, hash32)
    init = F.array_repeat(F.lit(MERSENNE_31).cast("long"), num_hashes)

    def step(acc: Column, x: Column) -> Column:
        return F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda v, i: F.least(
                v,
                (F.element_at(a_lit, (i + 1).cast("int")) * x
                 + F.element_at(b_lit, (i + 1).cast("int"))) % MERSENNE_31,
            ),
        )

    return F.aggregate(base, init, step)

"""Cross-engine deterministic hashing.

Spark's ``hash()``/``xxhash64`` and DuckDB's ``hash()`` are different
algorithms, so any dedup/minhash operator whose correctness oracle
runs in DuckDB needs a hash both engines compute identically. We use
the first 15 hex chars (60 bits) of md5 — md5 is bit-identical
everywhere and 60 bits fits a signed BIGINT in both engines.

At 100 TB scale md5-per-shingle is pure map-side CPU inside
whole-stage codegen (no shuffle, no Python); if the oracle constraint
were dropped we'd switch to xxhash64 for ~5× cheaper hashing, same
plan shape.

MinHash uses the standard universal-hash family
``h_i(x) = (a_i * x + b_i) mod p`` over the base hash, with fixed
seeds so Spark and the SQL oracle agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Largest prime < 2^31 — keeps a*x+b within int64 when x < 2^31.
MERSENNE_P = 2147483647

HASH64_SQL_TEMPLATE = "cast(concat('0x', substr(md5({expr}), 1, 15)) as bigint)"


def hash64(col: Column | str) -> Column:
    """60-bit deterministic hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash64_sql(expr: str) -> str:
    """The identical hash in DuckDB SQL."""
    return HASH64_SQL_TEMPLATE.format(expr=expr)


def hash31(col: Column | str) -> Column:
    """Hash folded into [0, 2^31): safe operand for (a*x+b) mod p."""
    return F.pmod(hash64(col), F.lit(MERSENNE_P))


def minhash_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k universal hash functions.

    A simple LCG expansion of the seed — no Python ``random`` so the
    constants can be re-derived anywhere (including inside SQL text
    generators) without an RNG dependency.
    """
    coeffs = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = state % (MERSENNE_P - 1) + 1  # a in [1, p-1]
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % MERSENNE_P  # b in [0, p-1]
        coeffs.append((a, b))
    return coeffs

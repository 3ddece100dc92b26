"""Engine-portable hashing primitives for sketch-based dedup.

Built on md5 (identical hex output in Spark and DuckDB) rather than the
engines' native hash functions (Spark murmur3 / DuckDB xxhash differ),
so MinHash/SimHash results are bit-identical in the oracle. At 100 TB
scale swap `md5 → xxhash64` for speed — the operator structure is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


#: Modulus of the affine MinHash family (prime, < 2^30 so a*h+b stays
#: far inside int64 for both engines).
MINHASH_P = 1_000_000_007


def minhash_params(n: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the affine MinHash family
    h_i(x) = (a_i·base(x) + b_i) mod MINHASH_P. Derived from md5 of the
    index (stable across runs/engines) and generated Python-side, so the
    identical literals are embedded in both the Spark plan and the
    DuckDB oracle. One base hash per shingle + n cheap affine maps
    replaces n independent md5 calls per shingle — the dominant sketch
    cost at scale."""
    import hashlib

    out = []
    for i in range(n):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def md5_prefix_int(value: Column, hex_digits: int = 4) -> Column:
    """First `hex_digits` hex chars of md5 as an integer (≤15 digits so
    it fits a signed long)."""
    assert hex_digits <= 15
    return F.conv(F.substring(F.md5(value), 1, hex_digits), 16, 10).cast("long")


def rolling_hash(toks: Column, base: int = 257, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over a token array (document
    fingerprinting): h = sum(tok_hash_i * base^i) mod p, computed
    left-to-right with F.aggregate — pure Catalyst, no UDF.

    tok_hash uses the first 8 md5 hex chars so the per-token value is
    engine-portable.
    """
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (
            acc * base + F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        )
        % mod,
    )

"""Cross-engine deterministic hashing.

The dedup/fingerprint operators need a string→int64 hash that produces the
SAME value in Spark (execution) and DuckDB (the correctness oracle), so the
t2 differential check can hash-compare results. Neither engine's native
``hash()`` matches the other, so we derive a 60-bit positive integer from the
first 15 hex chars of md5 — md5 is identical everywhere:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)::long
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT
    Python: int.from_bytes(md5(s.encode()).digest()[:8], "big") >> 4

Each side is written only here (tests/test_md5_guard.py).

60 bits < 63, so the value is always a positive BIGINT in both engines, which
keeps downstream modular arithmetic sign-identical.

MinHash needs a family of k independent hashes; we use the classic
universal-hash construction h_i(x) = (a_i * (x mod p) + b_i) mod p with a
Mersenne-ish prime p < 2^31 so a_i * (x mod p) stays < 2^62 (no int64
overflow in either engine). a_i/b_i are fixed constants from a seeded PRNG,
embedded as literals in both the Spark plan and the generated oracle SQL.
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# prime > any 31-bit hash value; small enough that a*(x%p)+b fits in int64
MINHASH_PRIME = 2147483647  # 2^31 - 1

_md5 = hashlib.md5


def md5_long(col: Column | str) -> Column:
    """60-bit positive int64 from md5 (Spark side of the contract above)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB side of the contract above; ``expr`` is a SQL expression."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def md5_long_bytes(b: bytes) -> int:
    """Python side of the contract above over raw bytes (the digest's
    first 8 bytes >> 4 are its first 15 hex chars)."""
    return int.from_bytes(_md5(b).digest()[:8], "big") >> 4


def md5_long_py(s: str) -> int:
    """Python side of the contract above over a string's UTF-8 bytes, as
    both engines hash strings."""
    return md5_long_bytes(s.encode("utf-8"))


def md5_long_memo() -> Callable[[str | bytes], int]:
    """``md5_long_py`` / ``md5_long_bytes`` memoized on the ``str`` or
    ``bytes`` key, for one Python task whose grams repeat. Create one per
    task, not per batch, so the cache spans batches."""
    cache: dict[str | bytes, int] = {}
    get = cache.get
    kernel = md5_long_bytes

    def h(g: str | bytes) -> int:
        v = get(g)
        if v is None:
            v = cache[g] = kernel(g.encode("utf-8") if type(g) is str else g)
        return v

    return h


def minhash_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k (a, b) pairs for the universal-hash family, deterministic in seed."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME)) for _ in range(k)]

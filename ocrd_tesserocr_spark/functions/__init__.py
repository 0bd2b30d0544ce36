"""Shared column expressions with exact DuckDB-SQL parity.

Every helper here has two faces: a PySpark Column expression and a SQL
template string that DuckDB evaluates to the *same value* — the foundation
of the driver's side-by-side correctness gate.

PRODUCTION NOTE — the md5 layer is an oracle-parity choice, not an engine
dependency: every hash call site (minhash shingles, simhash word hashes,
fingerprints, exact-dedup content hashes) only needs a uniform 64-bit
hash and goes through the :func:`hash_long`/:func:`hash_mod` dispatchers
below.  The production implementation is ``xxhash64`` (one JVM intrinsic
instead of md5 + hex substring + base-16 conv) — toggle with
``SPARK_GRAFT_HASH=xxhash64`` or :func:`set_hash_impl` — measured ~1.13x
faster on the sf0.1 word-hash map (modest because the interpreted
higher-order ``transform`` around the hash dominates).  md5
stays the default because DuckDB has no xxhash64 twin and the
correctness gate demands identical values on both engines; no operator
logic depends on the hash beyond determinism + uniformity.

Words and word k-grams are defined once here too: a word is a ``' '``-split
token of the canonical text (the extractor joins words with one space), a
k-gram is k consecutive words joined by one space, and a text with fewer
than k words has none.  The DuckDB twin of :func:`split_words` is
``str_split(text, ' ')``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

# modulus for polynomial/minhash arithmetic: fits comfortably in int64
# even after (2^31-1) * (2^31-1) style products are avoided by reducing
# operands first.
HASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
POLY_P = 1000000007


def md5_long(col: Column) -> Column:
    """Stable 60-bit integer hash of a string, identical in Spark and
    DuckDB: first 15 hex digits of md5, parsed base-16.

    Spark's xxhash64 has no DuckDB twin, so md5 is the cross-engine
    choice (both implement RFC 1321 over utf-8 bytes).
    """
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def sql_md5_long(expr: str) -> str:
    """DuckDB equivalent of :func:`md5_long`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def md5_mod(col: Column, p: int = HASH_P) -> Column:
    return md5_long(col) % F.lit(p)


def sql_md5_mod(expr: str, p: int = HASH_P) -> str:
    return f"({sql_md5_long(expr)} % {p})"


#: active hash implementation: 'md5' (default; DuckDB-parity) or
#: 'xxhash64' (production intrinsic, no oracle twin).  Read at PLAN BUILD
#: time by the dispatchers below.
HASH_IMPL = "md5"


def set_hash_impl(impl: str) -> None:
    """Session toggle for the hash layer (the env var sets the default)."""
    global HASH_IMPL
    if impl not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash impl {impl!r} (md5|xxhash64)")
    HASH_IMPL = impl


# the env default routes through the same validator as the session
# toggle: a typo ('xxHash64', 'xx64', ...) must fail loudly at import,
# not silently fall back to md5 while the operator believes the
# production hash path is active
if os.environ.get("SPARK_GRAFT_HASH"):
    set_hash_impl(os.environ["SPARK_GRAFT_HASH"])


def hash_long(col: Column) -> Column:
    """Uniform 64-bit content hash under the active implementation.
    xxhash64 values are signed (full int64 range) — downstream use is
    grouping/equality only, same as md5_long's 60-bit range."""
    if HASH_IMPL == "xxhash64":
        return F.xxhash64(col)
    return md5_long(col)


def hash_mod(col: Column, p: int = HASH_P) -> Column:
    """`hash_long` reduced into [0, p) — pmod under xxhash64 because the
    intrinsic is signed, plain % under the nonnegative md5 path."""
    if HASH_IMPL == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(p))
    return md5_mod(col, p)


def split_words(text: Column) -> Column:
    """The words of ``text``: ``split(text, ' ')``, so two adjacent spaces
    give an empty word and the empty text gives one empty word."""
    return F.split(text, " ")


def ngram_starts(n: Column, k: int) -> Column:
    """1-based start positions of the k-grams of an n-element sequence:
    ``[1, n - k + 1]``, empty when ``n < k``."""
    return F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )


def word_ngrams(ws: Column, k: int) -> Column:
    """Word k-grams of the word array ``ws``, in order, each joined by one
    space.  ``ws`` must be a named column (a staged ``split_words``): a
    lambda body has no common-subexpression elimination, so an inline
    split would re-run once per element reference."""
    return F.transform(
        ngram_starts(F.size(ws), k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j if j else i) for j in range(k)]
        ),
    )

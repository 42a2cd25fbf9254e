"""Deterministic text hashing / shingling helpers, engine-portable.

Cross-engine parity requires hash functions computable in BOTH Spark SQL and
DuckDB with identical results — so no engine-native ``hash()``/``xxhash64``
(different algorithms). We use a polynomial rolling hash over character
codes with fold-left semantics:

    h(s) = fold(chars(s), 0, (acc, c) -> (acc * 31 + ascii(c)) % 1_000_000_007)

Spark evaluates it via the codegen'd higher-order ``aggregate``/``transform``
functions (JVM-side, no Python in the hot path), DuckDB via
``list_reduce``/``list_transform`` (init folded in by prepending 0 —
DuckDB's reduce has no init argument). All intermediate values stay
< 3.3e10 « 2^63, so BIGINT arithmetic is overflow-free and identical.

MinHash uses the universal family h_i(x) = (a_i·x + b_i) mod p with fixed
seeds; a_i < p and x < p keep products < 1e18 < 2^63 (no overflow, both
engines agree).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P = 1_000_000_007

# the word tokenizer every lexical operator shares: lower-case, split on
# runs of non-alphanumerics, drop empty tokens (identical regex text in
# Spark's ``split`` and DuckDB's ``string_split_regex``)
TOKEN_SPLIT = "[^a-z0-9]+"

# fixed MinHash coefficient seeds (a_i, b_i < P)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (393342739, 153929004),
    (812382943, 672932852),
    (126696038, 588673850),
    (928714387, 101930742),
    (457849323, 356009334),
    (783342103, 912783423),
    (222334565, 777893421),
    (595930283, 444320987),
]


def char_hash_sql(expr: str) -> str:
    """Spark SQL text: polynomial hash of a string expression (usable
    inside higher-order-function lambdas, e.g. over a lambda variable)."""
    return (
        f"aggregate(transform(sequence(1, length({expr})),"
        f" i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT)),"
        f" CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % {P})"
    )


def char_hash_expr(expr: str) -> Column:
    """Spark Column: polynomial hash of a string SQL expression."""
    return F.expr(char_hash_sql(expr))


def char_hash_duck(expr: str) -> str:
    """DuckDB SQL: the same polynomial hash (0 prepended as fold init)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(1, length({expr}) + 1),"
        f" i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT))),"
        f" (acc, c) -> (acc * 31 + c) % {P})"
    )


def char_hash_expr_mult(expr: str, mult: int) -> Column:
    """Spark Column: polynomial hash with a custom multiplier — the
    dim-seeded family behind the deterministic embedder
    (sources/embedder.py: v[d] = hash(text, 31+d)/P − 0.5)."""
    return F.expr(
        f"aggregate(transform(sequence(1, length({expr})),"
        f" i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT)),"
        f" CAST(0 AS BIGINT), (acc, c) -> (acc * {mult} + c) % {P})"
    )


def char_hash_duck_mult(expr: str, mult: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(1, length({expr}) + 1),"
        f" i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT))),"
        f" (acc, c) -> (acc * {mult} + c) % {P})"
    )


def md5_mod_hash_sql(expr: str, mod: int = P) -> str:
    """Spark SQL text: native-md5 64-bit hash of a string, reduced mod P.

    ``md5`` is a native JVM digest (and a native C++ one in DuckDB), ~10×
    the throughput of the per-character higher-order-function polynomial
    fold, which Spark evaluates interpreted per element. The first 15 hex
    chars (60 bits) parse exactly into a BIGINT in both engines; the mod-P
    reduction keeps values in the universal-hash domain MinHash needs
    ((a·x + b) mod p stays < 1e18, overflow-free)."""
    return (
        f"(CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
        f" % {mod})"
    )


def md5_mod_hash_duck(expr: str, mod: int = P) -> str:
    """DuckDB SQL: the same md5-based hash (hex-literal string cast)."""
    return f"(CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT) % {mod})"


def word_shingles(col: Column, k: int = 3) -> Column:
    """Spark Column: array of word k-gram shingles (space-joined);
    documents shorter than k words shingle to the whole text."""
    toks = F.split(col, " ")
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + F.lit(j)) for j in range(k)]
            ),
        ),
    ).otherwise(F.array(col))


def shingles_duck_cte(k: int = 3) -> str:
    """DuckDB CTE body producing (doc_id, shingle) exploded rows from
    ``documents`` — mirrors :func:`word_shingles`."""
    joined = " || ' ' || ".join(f"ws[i + {j}]" for j in range(k))
    return (
        f"toks AS (SELECT doc_id, string_split(text, ' ') AS ws"
        f" FROM documents),"
        f" shingled AS (SELECT doc_id, CASE WHEN len(ws) >= {k} THEN"
        f" list_transform(range(1, len(ws) - {k - 2}), i -> {joined})"
        f" ELSE [array_to_string(ws, ' ')] END AS shs FROM toks),"
        f" shingle_rows AS (SELECT doc_id, unnest(shs) AS shingle"
        f" FROM shingled)"
    )

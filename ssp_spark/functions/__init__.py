"""Column-expression function library (all JVM-side, codegen-friendly).

The reference has no scalar-function library at all — users write Go
closures (affo/ssp engine_test.go:549-573 uses strings.ToUpper,
len, fmt.Sprintf). Here every helper is a Catalyst expression built from
pyspark.sql.functions, so it stays inside whole-stage codegen; nothing in
this module touches Python at row level.

Cross-engine determinism: several operators (minhash, simhash,
fingerprints) need a hash that the DuckDB oracle can reproduce bit-for-bit.
Spark's xxhash64/hash are Spark-internal, so we derive 60-bit integers
from md5 hex (md5 is identical everywhere): conv(substr(md5(x),1,15),16,10).
15 hex chars = 60 bits < 2^63, no sign issues.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
import pyspark.sql.functions as F

__all__ = [
    "portable_hash64",
    "seeded_hash64",
    "tokens",
    "distinct_tokens",
    "shingles",
    "qgrams",
    "dot",
    "norm",
    "cosine",
]

TOKEN_SPLIT_RE = r"\s+"  # whitespace tokenizer; identical semantics in DuckDB regexp_split_to_array


def portable_hash64(col: Column | str) -> Column:
    """60-bit non-negative deterministic hash.

    Two profiles, same output domain [0, 2^60):

    - **portable** (default): md5-hex prefix — reproducible in ANSI SQL
      (`('0x'||substr(md5(x),1,15))::BIGINT` in DuckDB), the property the
      whole oracle harness rests on. md5 is ~2x the per-row cost of the
      queries that hash every shingle/token (minhash, fingerprints).
    - **production** (`SSP_PORTABLE_HASH=off|0`): JVM xxhash64 masked to
      60 bits — same uniformity and sign contract, no cross-engine
      reproducibility. For real deployments and bench profiling, where
      nothing replays the hashes in another engine. BASELINE.md records
      the measured md5-parity tax under this switch.

    The env var is read per call, so a bench process can flip profiles
    between queries; declared-query/oracle runs never set it.
    """
    c = F.col(col) if isinstance(col, str) else col
    if os.environ.get("SSP_PORTABLE_HASH", "on").lower() in ("off", "0", "false"):
        return F.xxhash64(c).bitwiseAND(F.lit((1 << 60) - 1))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def seeded_hash64(col: Column | str, seed: int) -> Column:
    """Seed-family variant: hash64(seed || ':' || x). Used for minhash banks."""
    c = F.col(col) if isinstance(col, str) else col
    return portable_hash64(F.concat(F.lit(f"{seed}:"), c))


# Multiply-shift universal hash family over ONE base hash: h_s(x) =
# (A[s] * (h64(x) & 0xFFFFFFFF) + B[s]) & 0xFFFFFFFF. One md5 per input
# instead of k — the md5+hex-conv is ~all of the per-shingle cost, so a
# k-hash minhash gets k× cheaper. A[s] odd and < 2^30 keeps every product
# under 2^62 (no BIGINT overflow in either engine); constants are fixed
# literals so the DuckDB oracle reproduces signatures bit-for-bit.
def _mix_consts(k: int) -> tuple[list[int], list[int]]:
    return (
        [((2654435761 * (s + 1)) % (1 << 30)) | 1 for s in range(k)],
        [(40503 * (s + 7) * 2654435761) % (1 << 32) for s in range(k)],
    )


def seeded_hash32(h64: Column, seed: int, k: int = 16) -> Column:
    """Cheap seed-s 32-bit hash derived from a portable_hash64 column."""
    a, b = _mix_consts(max(k, seed + 1))
    return (F.lit(a[seed]) * h64.bitwiseAND(F.lit(0xFFFFFFFF)) + F.lit(b[seed])).bitwiseAND(
        F.lit(0xFFFFFFFF)
    )


def seeded_hash32_sql(h64_expr: str, seed: int, k: int = 16) -> str:
    """The identical expression in ANSI SQL (for DuckDB oracles)."""
    a, b = _mix_consts(max(k, seed + 1))
    return f"(({a[seed]} * (({h64_expr}) & 4294967295) + {b[seed]}) & 4294967295)"


def tokens(text: Column | str) -> Column:
    """array<string> of whitespace tokens, empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, TOKEN_SPLIT_RE), lambda t: t != "")


def distinct_tokens(text: Column | str) -> Column:
    return F.array_distinct(tokens(text))


def shingles(text: Column | str, n: int = 3) -> Column:
    """array<string> of word n-gram shingles (space-joined), order-preserving.

    Pure Catalyst: transform over an index sequence + slice/concat_ws, so
    shingling 100 TB of documents never leaves the JVM.
    """
    toks = tokens(text)
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), n_sh)  # 1-based for slice()
    return F.when(n_sh <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def qgrams(text: Column | str, q: int = 2) -> Column:
    """array<string> of character q-grams, order-preserving.

    Pure Catalyst (transform over an index sequence + substr), the
    character-level sibling of ``shingles``; feeds the fuzzy-join
    blocking in operators/fuzzy.py.
    """
    c = F.col(text) if isinstance(text, str) else text
    n_g = F.greatest(F.length(c) - F.lit(q - 1), F.lit(0))
    idx = F.sequence(F.lit(1), n_g)  # 1-based for substr()
    return F.when(n_g <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: c.substr(i, F.lit(q)))
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns in index order (double math).

    zip_with + aggregate keeps this JVM-side; summation order is the array
    order, matching DuckDB's list_dot_product for oracle parity.

    Measured negative result (round 5): an unrolled fixed-width
    ``element_at(a,1)*element_at(b,1) + ...`` chain — attempted because
    higher-order functions evaluate interpreted, outside whole-stage
    codegen — is 4x SLOWER than this fold (15.8 s vs 4.1 s on 800k
    64-dim scorings): 64 independent element_at calls each re-pay null
    and bounds checks on both arrays, and the resulting expression tree
    is large enough to abort codegen anyway. The HOF fold walks each
    array once and is the right JVM-side kernel; the only faster path is
    the Arrow/numpy batch kernel (cf. linalg.covariance_moments_blas),
    which changes float summation order and therefore stays off
    oracle-checked paths.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))

"""MinHash-LSH candidate blocking for near-duplicate / same-entity linking.

Scale shape (north_star: "MinHash-LSH candidate blocking"):

- signatures are computed per row with ``array_min(transform(...))`` over the
  shingle array — NO explode, NO shuffle.  The higher-order ``transform``
  lambda is a ``CodegenFallback`` expression, so the signature projection
  runs as an interpreted projection outside whole-stage codegen;
- banding turns the quadratic candidate problem into an equi-join keyed on
  band values: only documents sharing a band bucket ever meet, so the
  shuffle is bounded by corpus size x bands, never O(n^2);
- candidate pairs are verified by full-signature agreement (estimated
  Jaccard) before becoming edges.

Hash family: ONE crc32 base hash per shingle (hardware-accelerated in the
JVM, byte-identical to Python's zlib.crc32 for the reference-twin P/R gate),
then j affine permutations ``(a_j * h + b_j) mod p`` (p = 2^31-1) — the
standard universal-hash minhash family. One cheap hash pass instead of
num_hashes passes. (The oracle-paired dedup operators in operators/dedup.py
keep md5 — that family must also reproduce in DuckDB; this module only
feeds the pipeline, whose correctness gate is the Python twin.)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdflib_r2r_spark.operators.textstats import tokens_col

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_ROWS = 2  # hashes per band -> bands = num_hashes // band_rows
SHINGLE_K = 3
MINHASH_P = (1 << 31) - 1  # Mersenne prime; a*h+b stays < 2^62 (no overflow
#                            in either engine's 64-bit signed arithmetic)


def hash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) affine coefficients derived from md5."""
    out = []
    for j in range(num_hashes):
        d = hashlib.md5(f"minhash-param:{j}".encode()).hexdigest()
        a = (int(d[:8], 16) % (MINHASH_P - 1)) + 1
        b = int(d[8:16], 16) % MINHASH_P
        out.append((a, b))
    return out


def shingles_from_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """Word k-gram shingles from a (pre-materialized) token array column.
    Pass an attribute reference, not the tokenizer expression — otherwise
    the tokenizer is re-evaluated per element_at (no CSE inside lambdas)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
    )
    return F.when(n >= k, F.transform(idx, gram)).otherwise(
        F.when(n > 0, F.array(F.concat_ws(" ", toks))).otherwise(F.array().cast("array<string>"))
    )


def _shingle_coeffs() -> tuple[int, int, int]:
    """(A1, A2, B): polynomial-combination coefficients, md5-seeded."""
    d = hashlib.md5(b"shingle-combine").hexdigest()
    a1 = (int(d[:8], 16) % (MINHASH_P - 1)) + 1
    a2 = (int(d[8:16], 16) % (MINHASH_P - 1)) + 1
    b = (int(d[16:24], 16) % (MINHASH_P - 1)) + 1
    return a1, a2, b


def token_hash_col(toks: Column) -> Column:
    """One crc32 per TOKEN (not per shingle) — the only byte-hashing pass."""
    return F.transform(
        toks, lambda t: F.crc32(F.encode(t, "UTF-8")).cast("bigint") % MINHASH_P
    )


def shingle_hash_col(th: Column, k: int = SHINGLE_K) -> Column:
    """Shingle hashes combined NUMERICALLY from token hashes:
    h(t_i..t_{i+k-1}) = (sum_j A_j * h(t_{i+j})) mod p. No shingle strings
    are ever materialized — the string-concat allocation churn was the
    measured scaling ceiling of the signature stage (GC-bound, flat beyond
    ~8 cores); pure arithmetic over the token-hash array scales with cores.
    Every intermediate stays < 2^62 (ANSI-safe). Docs with < k tokens fold
    all token hashes into one polynomial hash (twin of joining all tokens).
    """
    a1, a2, b = _shingle_coeffs()
    n = F.size(th)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    coeffs = [a1, a2, 1][:k]

    def gram(i):
        acc = None
        for j, c in enumerate(coeffs):
            term = F.element_at(th, (i + j + 1).cast("int")) * F.lit(c) % MINHASH_P
            acc = term if acc is None else (acc + term) % MINHASH_P
        return acc

    folded = F.aggregate(th, F.lit(0).cast("bigint"),
                         lambda acc, h: (acc * F.lit(b) + h) % MINHASH_P)
    return F.when(n >= k, F.transform(idx, gram)).otherwise(
        F.when(n > 0, F.array(folded)).otherwise(F.array().cast("array<bigint>"))
    )


def minhash_sig_cols(base_hashes: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> list[Column]:
    """mh_j = min over shingles of (a_j*h + b_j) mod p — num_hashes separate
    transform+array_min passes over the materialized hash array. Measured
    fastest shape on this engine: a fused one-pass struct-of-minima aggregate
    allocates a struct per element and ANTI-scales under GC pressure
    (72s@32 cores vs 24s for the 8-pass form on the same input)."""
    def perm(a: int, b: int):
        # closure, not default args — higher-order fns require 1-ary lambdas
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P

    cols = []
    for j, (a, b) in enumerate(hash_params(num_hashes)):
        cols.append(
            F.array_min(F.transform(base_hashes, perm(a, b))).alias(f"mh{j}")
        )
    return cols




def signatures(df: DataFrame, text_col: str = "text", key_col: str = "url",
               num_hashes: int = DEFAULT_NUM_HASHES) -> DataFrame:
    # staged projections so tokens, token hashes and shingle hashes are
    # computed ONCE per row; the num_hashes min-hash columns then reference
    # cheap attributes (array lambdas get no CSE — never inline expensive
    # exprs). Shingle hashes are numeric combinations of token hashes —
    # no shingle strings exist anywhere in this plan.
    step1 = df.select(F.col(key_col).alias("key"), tokens_col(F.col(text_col)).alias("_toks"))
    step2 = step1.select("key", token_hash_col(F.col("_toks")).alias("_th"))
    step3 = step2.select("key", shingle_hash_col(F.col("_th")).alias("_hv"))
    return step3.select("key", *minhash_sig_cols(F.col("_hv"), num_hashes))


def band_df(sigs: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES,
            band_rows: int = DEFAULT_BAND_ROWS) -> DataFrame:
    """(key, band_id, band_val): band value combining the band's minhashes.

    For band_rows <= 2 the band value is a BIGINT (``mh0 * 2^31 + mh1`` —
    injective since each minhash < 2^31-1, and < 2^62 so ANSI-safe): the
    LSH self-join then shuffles 8-byte keys instead of ~20-byte strings,
    which at 10^12 docs is the difference between a band exchange that fits
    network budgets and one that does not. Wider bands fall back to the
    string concat (still injective via the separator)."""
    bands = num_hashes // band_rows
    if band_rows <= 2:
        def val(b: int):
            cols = [F.col(f"mh{b * band_rows + r}") for r in range(band_rows)]
            acc = cols[0]
            for c in cols[1:]:
                acc = acc * F.lit(1 << 31) + c
            return acc

        arms = [
            F.struct(F.lit(b).alias("band_id"), val(b).alias("band_val"))
            for b in range(bands)
        ]
        return (
            sigs.select("key", F.explode(F.array(*arms)).alias("b"))
            .select("key", F.col("b.band_id").alias("band_id"),
                    F.col("b.band_val").alias("band_val"))
            .filter(F.col("band_val").isNotNull())
        )
    arms = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "|", *[F.col(f"mh{b * band_rows + r}").cast("string") for r in range(band_rows)]
            ).alias("band_val"),
        )
        for b in range(bands)
    ]
    return (
        sigs.select("key", F.explode(F.array(*arms)).alias("b"))
        .select("key", F.col("b.band_id").alias("band_id"), F.col("b.band_val").alias("band_val"))
        .filter(F.col("band_val").isNotNull() & (F.col("band_val") != ""))
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (a, b) with a < b sharing any band bucket. Equi-join on
    (band_id, band_val); AQE skew-join splits hot buckets."""
    l = bands.alias("l")
    r = bands.alias("r")
    return (
        l.join(r, (F.col("l.band_id") == F.col("r.band_id"))
               & (F.col("l.band_val") == F.col("r.band_val"))
               & (F.col("l.key") < F.col("r.key")), "inner")
        .select(F.col("l.key").alias("a"), F.col("r.key").alias("b"))
        .distinct()
    )


def verified_edges(pairs: DataFrame, sigs: DataFrame,
                   num_hashes: int = DEFAULT_NUM_HASHES,
                   threshold: float = 0.5) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing minhashes >= threshold."""
    sa = sigs.select(F.col("key").alias("a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(num_hashes)])
    sb = sigs.select(F.col("key").alias("b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(num_hashes)])
    est = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(num_hashes)
    ) / F.lit(float(num_hashes))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn("sim_est", est)
        .filter(F.col("sim_est") >= threshold)
        .select("a", "b", "sim_est")
    )


def near_dup_edges(sigs: DataFrame,
                   num_hashes: int = DEFAULT_NUM_HASHES,
                   band_rows: int = DEFAULT_BAND_ROWS,
                   threshold: float = 0.5) -> DataFrame:
    """Verified near-duplicate edges (a, b, sim_est) of a ``signatures``
    table: band the signatures, join on band buckets for the distinct
    candidate pairs, then verify each pair once.  ``sigs`` feeds both sides
    of the self-join and the verification, so pass a materialized table
    (a checkpoint or a persisted frame)."""
    pairs = candidate_pairs(band_df(sigs, num_hashes, band_rows))
    return verified_edges(pairs, sigs, num_hashes, threshold)

"""Deterministic stratified mixture sampling.

Freezing a training mix means sampling each stratum (language, source,
quality band) at its own rate, reproducibly: re-running the job on the
same corpus must select the SAME documents, with no RNG state and no
coordination.  The draw is a pure function of the stable document key —
``md5(key)``'s first 8 hex digits scaled to [0, 1) — so the sample is a
per-row filter that rides whole-stage codegen: no shuffle, no sort, no
sampleBy() (whose Bernoulli draw is seed+partition-order dependent and
NOT stable under repartitioning).

At 100 TB this is the only defensible shape: any operator whose kept-set
depends on partitioning or iteration order cannot be audited after the
fact; hash-threshold sampling re-derives the decision from the row alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = float(1 << 32)


def draw_col(key) -> F.Column:
    """Uniform-[0,1) draw as a pure function of the key: first 8 md5 hex
    digits / 2^32 (exact in a double; DuckDB twin is bit-identical)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("bigint") / F.lit(_SCALE)
    )


def mixture_sample(docs: DataFrame, rates: dict[str, float],
                   default_rate: float = 0.0, stratum_col: str = "lang",
                   key_col: str = "doc_id") -> DataFrame:
    """(key, stratum, draw, keep): keep = draw < rate(stratum), where
    unknown strata fall back to ``default_rate``.  Emits EVERY row with its
    decision (the mix-health view: one groupBy(stratum, keep).count() gives
    realized vs target rates); callers filter on `keep` for the sample.
    """
    rate = F.lit(float(default_rate))
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == k, F.lit(float(v))).otherwise(rate)
    d = draw_col(F.col(key_col))
    return docs.select(
        F.col(key_col),
        F.col(stratum_col).alias("stratum"),
        F.round(d, 6).alias("draw"),
        (d < rate).alias("keep"),
    )


def mixture_sample_tokens(docs: DataFrame, token_budgets: dict[str, float],
                          default_budget: float = 0.0,
                          stratum_col: str = "lang", key_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """(key, stratum, n_subword_tokens, draw, keep): mixture sampling whose
    per-stratum target is a TOKEN budget in REAL subword-token units (the
    committed-vocab tokenizer, operators/tokenize.py), not a doc rate —
    how production mixes are actually specified.

    Selection is deterministic priority sampling: within each stratum,
    docs are taken in ascending md5-draw order until the running token
    total reaches the budget; the doc that crosses the line is kept (so
    every stratum with a positive budget and any docs keeps >= 1 doc and
    overshoots by < 1 doc).  Re-running on the same corpus reproduces the
    same kept-set: the order is (draw, key), a pure row function.

    Scale: one shuffle to the per-stratum running-sum window.  A stratum
    at 100 TB is a single window partition — there, replace the exact
    window with a two-pass draw-threshold estimate (bucket draws into B
    histogram bins, sum tokens per bin, pick the bin where the cumulative
    crosses the budget driver-side, then filter draw < threshold): same
    semantics within budget/B error, fully parallel.  The exact window is
    the reference implementation and the oracle twin.
    """
    from pyspark.sql import Window

    from rdflib_r2r_spark.operators.tokenize import token_stats

    budget = F.lit(float(default_budget))
    for k, v in sorted(token_budgets.items()):
        budget = F.when(F.col("stratum") == k, F.lit(float(v))).otherwise(budget)
    toks = token_stats(docs, text_col=text_col, key_col=key_col).select(
        key_col, "n_subword_tokens")
    d = docs.select(key_col, F.col(stratum_col).alias("stratum")) \
        .join(toks, key_col)
    draw = draw_col(F.col(key_col))
    w = (Window.partitionBy("stratum")
         .orderBy("draw", key_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        d.select(
            key_col, "stratum", "n_subword_tokens",
            F.round(draw, 6).alias("draw"),
            budget.alias("_budget"),
        )
        .withColumn("_cum", F.sum("n_subword_tokens").over(w))
        .select(
            key_col, "stratum", "n_subword_tokens", "draw",
            ((F.col("_cum") - F.col("n_subword_tokens"))
             < F.col("_budget")).alias("keep"),
        )
    )


def mixture_sample_tokens_sql(token_budgets: dict[str, float],
                              default_budget: float = 0.0,
                              table: str = "documents",
                              stratum_col: str = "lang",
                              key_col: str = "doc_id",
                              text_col: str = "text") -> str:
    from rdflib_r2r_spark.operators.tokenize import tokenize_ctes

    draw = (
        f"CAST(('0x' || substring(md5(CAST(d.{key_col} AS VARCHAR)), 1, 8))"
        f"::UBIGINT AS DOUBLE) / {_SCALE!r}"
    )
    whens = " ".join(
        f"WHEN d.{stratum_col} = '{k}' THEN {float(v)!r}"
        for k, v in sorted(token_budgets.items())
    )
    budget = f"CASE {whens} ELSE {float(default_budget)!r} END"
    return f"""
WITH RECURSIVE {tokenize_ctes(table, text_col, key_col)},
mx AS (
  SELECT d.{key_col} AS {key_col}, d.{stratum_col} AS stratum,
         CAST(len(t.token_ids) AS BIGINT) AS n_subword_tokens,
         round({draw}, 6) AS draw,
         {budget} AS budget
  FROM {table} d JOIN tok_per_doc t ON t.doc_id = d.{key_col}
)
SELECT {key_col}, stratum, n_subword_tokens, draw,
       (SUM(n_subword_tokens) OVER (
            PARTITION BY stratum ORDER BY draw, {key_col}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        - n_subword_tokens) < budget AS keep
FROM mx
"""


# salt cells per domain in source_cap's stage 1
SALT_BUCKETS = 8


def source_cap(docs: DataFrame, k: int = 20, group_col: str = "source",
               rank_col: str = "n_chars", key_col: str = "doc_id") -> DataFrame:
    """Per-domain quota sampling: keep the top-``k`` documents of each
    ``group_col`` (domain/source) ranked by ``rank_col`` DESC with the key
    as the deterministic tiebreak — the "domain balancing" cap every crawl
    curation applies so a handful of mega-hosts cannot dominate the mix.

    Scale: a naive ``row_number() OVER (PARTITION BY domain)`` ships EVERY
    row of a domain to one task — a mega-host at 100 TB is a straggler.
    This runs the standard two-stage salted top-k instead: stage 1 ranks
    within (domain, salt) — ``SALT_BUCKETS`` bounded cells per domain — and
    keeps k per cell; stage 2 ranks the <= k*SALT_BUCKETS survivors per
    domain.  The global per-domain top-k is always a subset of the union
    of per-salt top-ks, so semantics equal the single-window form (which
    is the DuckDB oracle twin).

    Output: (key, group, rank_col, rk) for kept rows only, rk in 1..k.
    """
    from pyspark.sql import Window

    order = [F.desc(rank_col), F.asc(key_col)]
    s1 = docs.select(
        key_col, group_col, rank_col,
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(SALT_BUCKETS)).alias("_salt"),
    )
    w1 = Window.partitionBy(group_col, "_salt").orderBy(*order)
    s1 = s1.withColumn("_rn1", F.row_number().over(w1)).filter(F.col("_rn1") <= k)
    w2 = Window.partitionBy(group_col).orderBy(*order)
    return (
        s1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(
            key_col,
            group_col,
            F.col(rank_col).cast("bigint").alias(rank_col),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def source_cap_sql(k: int = 20, table: str = "documents",
                   group_col: str = "source", rank_col: str = "n_chars",
                   key_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`source_cap` — the plain single-window form."""
    return f"""
SELECT {key_col}, {group_col},
       CAST({rank_col} AS BIGINT) AS {rank_col},
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT {key_col}, {group_col}, {rank_col},
         row_number() OVER (
             PARTITION BY {group_col}
             ORDER BY {rank_col} DESC, {key_col}) AS rk
  FROM {table}
)
WHERE rk <= {k}
"""


def mixture_sample_sql(rates: dict[str, float], default_rate: float = 0.0,
                       table: str = "documents", stratum_col: str = "lang",
                       key_col: str = "doc_id") -> str:
    draw = (
        f"CAST(('0x' || substring(md5(CAST({key_col} AS VARCHAR)), 1, 8))"
        f"::UBIGINT AS DOUBLE) / {_SCALE!r}"
    )
    whens = " ".join(
        f"WHEN {stratum_col} = '{k}' THEN {float(v)!r}"
        for k, v in sorted(rates.items())
    )
    rate = f"CASE {whens} ELSE {float(default_rate)!r} END"
    return f"""
SELECT {key_col},
       {stratum_col} AS stratum,
       round({draw}, 6) AS draw,
       ({draw}) < ({rate}) AS keep
FROM {table}
"""

"""Character-bigram language-model perplexity scoring — the CCNet-style
"perplexity filter" (Wenzek et al. 2020): train a small smoothed LM on a
reference slice of the corpus, score every document by its per-character
log-loss under that LM, and gate on a bits-per-character threshold.
Boilerplate, encoding garbage, and keyboard-mash score high; fluent text
scores low.

Reference parity note: the reference engine (DaaX-AI/rdflib-r2r) has no
LM scoring — this is part of the training-data-pipeline surface the graft
brief adds on top of the reference's query coverage.

Exactness design: both engines compute, per distinct bigram, the micro-bit
cost ``round(1e6 * (log2(ctx + V) - log2(cnt + 1)))`` from INTEGER counts,
then SUM those bigints per document.  Integer summation is
order-independent, so the Spark result hash-matches the DuckDB oracle
exactly — no floating-point accumulation-order drift (a per-gram value
would have to sit within ~2e-9 of a rounding boundary to diverge; log2 of
integer ratios never does in practice).  Callers who want a float can
derive ``bits_per_char = lp_e6_sum / n_bigrams / 1e6`` and
``ppl = 2 ** bits_per_char``.

Scale: both sides are ``mapInArrow`` numpy kernels over the normalized
string column.  Training counts gram ids ``37*code(c1)+code(c2)`` over the
REFERENCE SLICE only, one partial count vector per task (bounded:
char-bigram vocabulary <= 1369 entries for the [a-z0-9 ] alphabet,
regardless of corpus size), summed by one small groupBy.  The trained LM is
rendered — in Spark, with the exact same round/log2 expression, so the
integers cannot drift — into a dense 1369-entry micro-bit cost table,
collected (alphabet-bounded, never corpus-sized) and shipped to the score
kernel, which sums each document's costs as a cumulative-sum difference
over its byte span.  No explode of the character stream, no joins, no
groupBy(doc_id) — the score side has ZERO exchanges and is linear in
corpus bytes.

NULL text contract (shared with the DuckDB twin): a NULL document has
NULL ``n_bigrams``, ``lp_e6_sum`` 0 and NULL ``ppl_keep``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fixed smoothing vocabulary: a-z, 0-9, space.  A module constant (not
# measured from the corpus) so the Spark and DuckDB twins cannot drift and
# scoring is stable across corpus snapshots.
V_CHARS = 37

# keep threshold in micro-bits per character: documents whose average
# bigram cost exceeds this are flagged (ppl_keep = false).  Corpus-tuned
# like CCNet's per-language percentile cut (their "head/middle/tail" split
# is exactly a quantile threshold on this score): 2.49 bits/char is the
# fixture corpus' median, so the gate discriminates at every SF; noise
# scores near log2(37) ~ 5.21 (the unseen-context cost) and always drops.
THRESH_BITS_E6 = 2_490_000

_NORM_STRIP_RE = "[^a-z0-9 ]"


def _norm_col(text: Column) -> Column:
    s = F.regexp_replace(F.lower(text), _NORM_STRIP_RE, "")
    return F.trim(F.regexp_replace(s, " +", " "))


def _norm_sql(expr: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace(lower(" + expr + "), "
        f"'{_NORM_STRIP_RE}', '', 'g'), ' +', ' ', 'g'))"
    )


N_CODES = 37  # |alphabet| — gram-id space is N_CODES * N_CODES


def _char_code_lut():
    """numpy byte -> alphabet code LUT: ' '->0, '0'-'9'->1..10,
    'a'-'z'->11..36.  Total over the normalized alphabet (``_norm_col``
    strips everything else; normalized strings are pure ASCII, so byte
    positions == char positions)."""
    import numpy as np

    lut = np.zeros(256, dtype=np.int64)
    for b in range(48, 58):
        lut[b] = b - 47
    for b in range(97, 123):
        lut[b] = b - 86
    return lut


def _string_spans(arr):
    """(offsets, data) numpy views over a pyarrow string array's buffers.
    Null rows have zero-length spans (offset pairs are equal)."""
    import numpy as np
    import pyarrow as pa

    odt = "int64" if pa.types.is_large_string(arr.type) else "int32"
    offsets = np.frombuffer(arr.buffers()[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype("int64")
    dbuf = arr.buffers()[2]
    data = (np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None
            else np.zeros(0, dtype=np.uint8))
    return offsets, data


def _pair_ids_and_bounds(arr):
    """Per-byte-pair gram ids over the whole data buffer plus the row
    spans; cross-row pairs are identified by position (ends-1)."""
    import numpy as np

    offsets, data = _string_spans(arr)
    lut = _char_code_lut()
    codes = lut[data]
    ids = codes[:-1] * N_CODES + codes[1:] if len(data) >= 2 else codes[:0]
    return ids, offsets


def _count_kernel():
    """mapInArrow train kernel: normalized-string batches -> (gid, c)
    partial gram counts (<= 1369 rows per TASK — emitted once after the
    batch loop, so the downstream groupBy sums tiny partials)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        total = np.zeros(N_CODES * N_CODES, dtype=np.int64)
        for b in batches:
            ids, offsets = _pair_ids_and_bounds(b.column(0))
            if len(ids) == 0:
                continue
            lo, hi = int(offsets[0]), int(offsets[-1])
            valid = np.zeros(len(ids), dtype=bool)
            if hi - lo >= 2:
                valid[lo : hi - 1] = True
            bad = offsets[1:] - 1
            bad = bad[(bad >= 0) & (bad < len(ids))]
            valid[bad] = False
            total += np.bincount(ids[valid], minlength=N_CODES * N_CODES)
        nz = np.nonzero(total)[0]
        yield pa.RecordBatch.from_arrays(
            [pa.array(nz.astype("int32")), pa.array(total[nz])], ["gid", "c"]
        )

    return fn


def _score_kernel(costs):
    """mapInArrow score kernel: (key, normalized string) batches ->
    (key, n_bigrams, lp_e6_sum).  Exact int64 sums of the Spark-rendered
    cost integers via a cumulative-sum difference per row span; a NULL
    string scores NULL n_bigrams (its empty span sums to 0)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        costs_np = np.asarray(costs, dtype=np.int64)
        for b in batches:
            ids, offsets = _pair_ids_and_bounds(b.column(1))
            cs = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(costs_np[ids], out=cs[1:])
            starts, ends = offsets[:-1], offsets[1:]
            lens = ends - starts
            big = lens >= 2
            top = len(cs) - 1
            lp = np.where(
                big,
                cs[np.minimum(np.maximum(ends - 1, 0), top)]
                - cs[np.minimum(starts, top)],
                0,
            )
            nbig = np.where(big, lens - 1, 0)
            null = b.column(1).is_null().to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(nbig, mask=null), pa.array(lp)],
                ["k", "n_bigrams", "lp_e6_sum"],
            )

    return fn


def lm_score(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    train_mod: int = 5,
    thresh_bits_e6: int = THRESH_BITS_E6,
) -> DataFrame:
    """Score every document under a char-bigram LM trained on the
    deterministic reference slice ``key_col % train_mod == 0`` (train docs
    are scored too — self-scoring is how CCNet buckets its own corpus).

    Output per doc: ``n_bigrams`` (bigint), ``lp_e6_sum`` (bigint — total
    cost in micro-bits), ``ppl_keep`` (bool — average cost within
    ``thresh_bits_e6`` micro-bits/char).  Smoothing is add-one over the
    fixed V_CHARS alphabet: P(c2|c1) = (cnt(c1c2)+1) / (cnt(c1·)+V).

    NULL text gives NULL ``n_bigrams`` and NULL ``ppl_keep`` (``lp_e6_sum``
    0), as :func:`lm_score_sql` does.

    Execution shape: train over the reference slice with the count kernel
    (<= 1369 partial rows per task), render the dense cost table IN SPARK
    with the identical round/log2 expression, collect its 1369 rows, and
    score each doc with the span kernel — no explode, no join, no shuffle
    on the scoring side.
    """
    key = F.col(key_col)
    nm = docs.select(key.alias(key_col), _norm_col(F.col(text_col)).alias("_s"))
    # guide §4.2: batch the (single, pre-normalized) string column to a
    # numpy kernel — per-task partial counts, <= 1369 rows shuffled
    lm = (
        nm.filter(key % train_mod == 0).select("_s")
        .mapInArrow(_count_kernel(), "gid int, c long")
        .groupBy("gid")
        .agg(F.sum("c").cast("bigint").alias("_c"))
    )
    # dense cost table over the full gram-id space, rendered with the SAME
    # round/log2 expression the round-6 scorer evaluated per occurrence:
    # micro-bit cost is > 0 always (cc >= c, so cc + V > c + 1), HALF_UP
    # (Spark) == half-away (DuckDB).  The LM is alphabet-bounded (<= 1369
    # rows, never corpus-sized), so collecting it is a broadcast-sized
    # transfer; the context marginals are exact INTEGER sums, so summing
    # them driver-side is bit-identical to the former groupBy.  The
    # rounding itself stays in Spark (LocalTableScan — no exchange) so the
    # cost integers cannot drift from the round-6 formulation.
    cnt = {int(r["gid"]): int(r["_c"]) for r in lm.collect()}
    ctx: dict[int, int] = {}
    for gid, c in cnt.items():
        ctx[gid // N_CODES] = ctx.get(gid // N_CODES, 0) + c
    tbl = docs.sparkSession.createDataFrame(
        [(gid, cnt.get(gid, 0), ctx.get(gid // N_CODES, 0))
         for gid in range(N_CODES * N_CODES)],
        "gid int, _c long, _cc long",
    )
    lp_e6 = F.round(
        F.lit(1e6)
        * (
            F.log2((F.coalesce(F.col("_cc"), F.lit(0)) + V_CHARS).cast("double"))
            - F.log2((F.coalesce(F.col("_c"), F.lit(0)) + 1).cast("double"))
        )
    ).cast("bigint")
    table = {int(r["gid"]): int(r["_lp"])
             for r in tbl.select("gid", lp_e6.alias("_lp")).collect()}
    cost_list = [table[gid] for gid in range(N_CODES * N_CODES)]

    key_t = docs.schema[key_col].dataType.simpleString()
    scored = (
        nm.select(key_col, "_s")
        .mapInArrow(
            _score_kernel(cost_list),
            f"k {key_t}, n_bigrams bigint, lp_e6_sum bigint",
        )
        .select(F.col("k").alias(key_col), "n_bigrams", "lp_e6_sum")
    )
    return scored.select(
        key_col,
        "n_bigrams",
        "lp_e6_sum",
        (F.col("lp_e6_sum") <= F.lit(thresh_bits_e6) * F.col("n_bigrams")).alias(
            "ppl_keep"
        ),
    )


def lm_score_sql(
    table: str = "documents",
    text_col: str = "text",
    key_col: str = "doc_id",
    train_mod: int = 5,
    thresh_bits_e6: int = THRESH_BITS_E6,
) -> str:
    """DuckDB twin of :func:`lm_score` — same fixed alphabet, same integer
    micro-bit rounding, same training slice, same NULL text contract (NULL
    ``n_bigrams`` and ``ppl_keep``, ``lp_e6_sum`` 0)."""
    nm = _norm_sql(text_col)
    return f"""
WITH nm AS (SELECT {key_col} AS doc_id, {nm} AS s FROM {table}),
b AS (
  SELECT doc_id,
         list_transform(range(1, length(s)), i -> substr(s, i, 2)) AS grams
  FROM nm
),
lm AS (
  SELECT g, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(grams) AS g FROM b) WHERE doc_id % {train_mod} = 0
  GROUP BY g
),
ctx AS (
  SELECT substr(g, 1, 1) AS c1, CAST(sum(c) AS BIGINT) AS cc FROM lm GROUP BY 1
),
e AS (SELECT doc_id, unnest(grams) AS g FROM b),
sc AS (
  SELECT e.doc_id,
         sum(CAST(round(1e6 * (log2(coalesce(ctx.cc, 0) + {V_CHARS}.0)
                               - log2(coalesce(lm.c, 0) + 1.0))) AS BIGINT)) AS lp
  FROM e LEFT JOIN lm USING (g)
         LEFT JOIN ctx ON substr(e.g, 1, 1) = ctx.c1
  GROUP BY 1
)
SELECT b.doc_id AS {key_col},
       CAST(len(b.grams) AS BIGINT) AS n_bigrams,
       CAST(coalesce(sc.lp, 0) AS BIGINT) AS lp_e6_sum,
       coalesce(sc.lp, 0) <= {thresh_bits_e6} * len(b.grams) AS ppl_keep
FROM b LEFT JOIN sc USING (doc_id)
"""

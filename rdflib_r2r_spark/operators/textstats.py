"""Text analysis for training-data curation: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Everything is built-in pyspark.sql.functions (JVM, codegen) with an exact
DuckDB-SQL twin per operator so the driver's oracle gate covers each one.
``tokens_col`` is the one tokenizer: every Spark caller — these operators,
dedup, mention detection, the alias dictionary and the LSH signatures —
builds its tokens with it, and ``tokens_sql`` is its DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"
# BPE-ish pretokenizer: word pieces or single non-space punctuation
BPE_RE = "[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"

# tiny deterministic stopword lists keyed to common function words; the
# lang-id heuristic scores stopword overlap per language.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "data"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en"],
}


def tokens_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != "")


_ALNUM_SP = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
)


def _punct_count_col(text: Column) -> Column:
    """Number of chars NOT in [a-zA-Z0-9 ] — value-identical to the former
    ``n_char - length(regexp_replace(text, '[^a-zA-Z0-9 ]', ''))`` but via
    ``translate`` (single char-map deletion pass, no regex engine, no
    output string allocation — measured ~2x on the corpus scan)."""
    return F.length(F.translate(text, _ALNUM_SP, ""))


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({expr}), '{TOKEN_SPLIT_RE}'), t -> t <> '')"
    )


def _stop_count_col(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _stop_count_sql(toks: str, words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> t IN ({lst})))"


def text_stats(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Per-document curation stats + quality score (length/punct/stopword
    heuristics, cf. C4/Gopher-style filters)."""
    # materialize tokens once; downstream exprs reference the cheap attribute
    docs = docs.select(key_col, text_col, tokens_col(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    punct_ratio = F.round(
        _punct_count_col(F.col(text_col)).cast("double")
        / F.greatest(n_char, F.lit(1)).cast("double"),
        6,
    )
    stop_ratio = F.round(
        _stop_count_col(toks, STOPWORDS["en"]).cast("double")
        / F.greatest(n_tok, F.lit(1)).cast("double"),
        6,
    )
    avg_tok_len = F.round(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / F.greatest(n_tok, F.lit(1)).cast("double"),
        6,
    )
    bpe_count = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), 0))
    quality = F.round(
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + (F.lit(1.0) - punct_ratio) * 0.2,
        6,
    )
    return docs.select(
        F.col(key_col),
        n_tok.cast("bigint").alias("n_tokens"),
        bpe_count.cast("bigint").alias("n_bpe_tokens"),
        n_char.cast("bigint").alias("n_char"),
        avg_tok_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
        F.md5(F.concat_ws(" ", toks)).alias("fingerprint"),
    )


def text_stats_sql(table: str = "documents", text_col: str = "text", key_col: str = "doc_id") -> str:
    toks = tokens_sql(text_col)
    n_tok = f"len({toks})"
    n_char = f"length({text_col})"
    alnum_sp = f"regexp_replace({text_col}, '[^a-zA-Z0-9 ]', '', 'g')"
    punct_ratio = f"round(CAST({n_char} - length({alnum_sp}) AS DOUBLE) / greatest({n_char}, 1), 6)"
    stop_ratio = (
        f"round(CAST({_stop_count_sql(toks, STOPWORDS['en'])} AS DOUBLE)"
        f" / greatest({n_tok}, 1), 6)"
    )
    avg_tok_len = (
        f"round(CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE)"
        f" / greatest({n_tok}, 1), 6)"
    )
    bpe = f"len(regexp_extract_all({text_col}, '{BPE_RE}'))"
    quality = (
        f"round(least({n_tok} / 100.0, 1.0) * 0.5 + {stop_ratio} * 0.3"
        f" + (1.0 - {punct_ratio}) * 0.2, 6)"
    )
    return f"""
SELECT {key_col},
       CAST({n_tok} AS BIGINT) AS n_tokens,
       CAST({bpe} AS BIGINT) AS n_bpe_tokens,
       CAST({n_char} AS BIGINT) AS n_char,
       {avg_tok_len} AS avg_token_len,
       {punct_ratio} AS punct_ratio,
       {stop_ratio} AS stopword_ratio,
       {quality} AS quality_score,
       md5(array_to_string({toks}, ' ')) AS fingerprint
FROM {table}
"""


def lang_id(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """n-gram-free stopword-overlap language ID; deterministic argmax with
    fixed tie order en > de > fr > es."""
    docs = docs.select(key_col, tokens_col(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    scores = {lang: _stop_count_col(toks, ws) for lang, ws in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == F.lit(0), F.lit("und"))
    for lang in ["en", "de", "fr", "es"]:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return docs.select(
        F.col(key_col),
        pred.alias("pred_lang"),
        best.cast("bigint").alias("stopword_hits"),
    )


def lang_id_sql(table: str = "documents", text_col: str = "text", key_col: str = "doc_id") -> str:
    toks = tokens_sql(text_col)
    scores = {lang: _stop_count_sql(toks, ws) for lang, ws in STOPWORDS.items()}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in ["en", "de", "fr", "es"]
    )
    return f"""
SELECT {key_col},
       CASE WHEN {best} = 0 THEN 'und'{whens} END AS pred_lang,
       CAST({best} AS BIGINT) AS stopword_hits
FROM {table}
"""


# -- rolling-hash fingerprint --------------------------------------------------

ROLL_B = 1_000_003  # polynomial base (prime)
ROLL_P = (1 << 31) - 1


def rolling_fingerprint(docs: DataFrame, text_col: str = "text",
                        key_col: str = "doc_id", window: int = 16) -> DataFrame:
    """(doc_id, fingerprint, n_windows) Rabin-style rolling-hash document
    fingerprint: polynomial hash over token hashes, plus the count of
    content-defined chunk boundaries (windows where the rolling hash of the
    last `window` tokens hits hash % window == 0 — the fingerprint a
    CDC-style shift-resistant dedup would chunk on).

    All whole-stage-codegen array ops: one md5 per token, two aggregates —
    no explode, no shuffle; scales linearly with corpus bytes.
    """
    toks = tokens_col(F.col(text_col))
    th = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint") % ROLL_P,
    )
    d = docs.select(F.col(key_col).alias("doc_id"), th.alias("_th"))
    rolled = F.aggregate(
        F.col("_th"), F.lit(0).cast("bigint"),
        lambda acc, h: (acc * ROLL_B + h) % ROLL_P,
    )
    # per-position rolling value (prefix polynomial hash) -> boundary count
    prefix = F.transform(
        F.sequence(F.lit(1), F.size("_th")),
        lambda i: F.aggregate(
            F.slice(F.col("_th"), F.greatest(i - window + 1, F.lit(1)),
                    F.least(i, F.lit(window))),
            F.lit(0).cast("bigint"),
            lambda acc, h: (acc * ROLL_B + h) % ROLL_P,
        ),
    )
    n_bound = F.size(F.filter(prefix, lambda v: v % window == 0))
    return d.select(
        "doc_id",
        rolled.alias("fingerprint"),
        F.when(F.size("_th") > 0, n_bound).otherwise(F.lit(0))
        .cast("bigint").alias("n_windows"),
    )


def rolling_fingerprint_sql(table: str = "documents", text_col: str = "text",
                            key_col: str = "doc_id", window: int = 16) -> str:
    toks = tokens_sql(text_col)
    th = (
        f"list_transform({toks}, t -> "
        f"CAST(('0x' || substring(md5(t), 1, 15))::UBIGINT AS BIGINT) % {ROLL_P})"
    )
    rolled = f"list_reduce(list_prepend(CAST(0 AS BIGINT), th), (a, h) -> (a * {ROLL_B} + h) % {ROLL_P})"
    win_hash = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_slice(th, greatest(i - {window} + 1, 1), i)), "
        f"(a, h) -> (a * {ROLL_B} + h) % {ROLL_P})"
    )
    n_bound = (
        f"len(list_filter(list_transform(range(1, len(th) + 1), i -> {win_hash}),"
        f" v -> v % {window} = 0))"
    )
    return f"""
WITH th_t AS (SELECT {key_col} AS doc_id, {th} AS th FROM {table})
SELECT doc_id,
       {rolled} AS fingerprint,
       CAST(CASE WHEN len(th) > 0 THEN {n_bound} ELSE 0 END AS BIGINT) AS n_windows
FROM th_t
"""


# -- repetition stats (Gopher-style repetition filters) -------------------------


def _ngrams_col(toks: Column, n: int) -> Column:
    """Space-joined token n-grams; empty array when the doc has < n tokens.

    The `when` guard matters: F.sequence(1, m) with m <= 0 would produce a
    DESCENDING sequence (Spark fills step=-1 when start > stop), not an
    empty array.
    """
    if n == 1:
        return toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id", n: int = 2) -> DataFrame:
    """Per-document repetition metrics for quality filtering (the
    Gopher/MassiveText-style "repetition removal" rules, Rae et al. 2021
    §A.1.1): documents dominated by repeated n-grams are boilerplate or
    spam and get dropped from training mixes.

    Output per doc: token counts, `dup_token_frac` (1 - distinct/total
    tokens), `dup_ngram_frac` (fraction of n-gram OCCURRENCES beyond the
    first of their group), `top_ngram_frac` (share of the single most
    frequent n-gram), and `top_ngram` itself (ties broken lexicographically
    smallest).

    Scale: everything is per-row array math in whole-stage codegen — no
    explode, no shuffle, linear scan of corpus bytes. Within a row the
    group counting is O(g log g) via array_sort + run-length detection
    (boundaries -> zip_with adjacent diffs), NOT the O(g^2)
    count-each-distinct formulation, so a 10k-token doc costs ~10^5 ops
    not 10^8. Intermediates are materialized as real columns between
    selects because Spark does no CSE inside array lambdas.
    """
    docs = docs.select(key_col, tokens_col(F.col(text_col)).alias("_toks"))
    d = docs.select(
        key_col,
        F.size("_toks").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("_ndist"),
        F.array_sort(_ngrams_col(F.col("_toks"), n)).alias("_s"),
    )
    m = F.size("_s")
    # run starts in the sorted gram array: position 1 plus every position
    # whose gram differs from its predecessor
    d = d.select(
        key_col, "n_tokens", "_ndist", "_s", m.alias("_m"),
        F.when(
            m >= 1,
            F.filter(
                F.sequence(F.lit(1), m),
                # when-guard, not `|`: boolean OR does not short-circuit, and
                # element_at(_, 0) throws INVALID_ARRAY_INDEX at i == 1
                lambda i: F.when(i == 1, F.lit(True)).otherwise(
                    F.element_at(F.col("_s"), i) != F.element_at(F.col("_s"), i - 1)
                ),
            ),
        ).otherwise(F.array().cast("array<int>")).alias("_b"),
    )
    # run lengths = next boundary - this boundary (sentinel m+1 at the end)
    runs = F.zip_with(
        F.col("_b"),
        F.concat(
            F.slice(F.col("_b"), 2, F.greatest(F.size("_b") - 1, F.lit(0))),
            F.array(F.col("_m") + 1),
        ),
        lambda a, c: c - a,
    )
    d = d.select(key_col, "n_tokens", "_ndist", "_s", "_m", "_b", runs.alias("_runs"))
    n_groups = F.size("_b")
    max_run = F.array_max("_runs")
    top_gram = F.element_at(
        F.col("_s"),
        F.element_at(F.col("_b"), F.array_position(F.col("_runs"), max_run).cast("int")),
    )
    mm = F.col("_m")
    return d.select(
        F.col(key_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.when(F.col("n_tokens") > 0,
                   1.0 - F.col("_ndist") / F.col("n_tokens")).otherwise(0.0), 6
        ).alias("dup_token_frac"),
        mm.cast("bigint").alias("n_ngrams"),
        F.round(
            F.when(mm > 0, (mm - n_groups) / mm.cast("double")).otherwise(0.0), 6
        ).alias("dup_ngram_frac"),
        F.round(
            F.when(mm > 0, max_run / mm.cast("double")).otherwise(0.0), 6
        ).alias("top_ngram_frac"),
        F.when(mm > 0, top_gram).alias("top_ngram"),
    )


def _ngrams_sql(toks: str, n: int) -> str:
    if n == 1:
        return toks
    # DuckDB range(a, b) is half-open and empty when b <= a; list_slice is
    # inclusive on both ends
    return (
        f"list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n} - 1), ' '))"
    )


def repetition_stats_sql(table: str = "documents", text_col: str = "text",
                         key_col: str = "doc_id", n: int = 2) -> str:
    toks = tokens_sql(text_col)
    return f"""
WITH d AS (
  SELECT {key_col} AS doc_id,
         len({toks}) AS n_tokens,
         len(list_distinct({toks})) AS ndist,
         {_ngrams_sql(toks, n)} AS grams
  FROM {table}
),
e AS (SELECT doc_id, unnest(grams) AS gram FROM d),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY 1, 2),
a AS (SELECT doc_id, sum(cnt) AS m, count(*) AS n_groups, max(cnt) AS maxc
      FROM c GROUP BY 1),
top AS (SELECT c.doc_id, min(c.gram) AS top_ngram
        FROM c JOIN a USING (doc_id) WHERE c.cnt = a.maxc GROUP BY 1)
SELECT d.doc_id AS {key_col},
       CAST(d.n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN d.n_tokens > 0
             THEN 1.0 - CAST(d.ndist AS DOUBLE) / d.n_tokens ELSE 0.0 END, 6)
         AS dup_token_frac,
       CAST(coalesce(a.m, 0) AS BIGINT) AS n_ngrams,
       round(CASE WHEN coalesce(a.m, 0) > 0
             THEN CAST(a.m - a.n_groups AS DOUBLE) / a.m ELSE 0.0 END, 6)
         AS dup_ngram_frac,
       round(CASE WHEN coalesce(a.m, 0) > 0
             THEN CAST(a.maxc AS DOUBLE) / a.m ELSE 0.0 END, 6)
         AS top_ngram_frac,
       top.top_ngram AS top_ngram
FROM d LEFT JOIN a USING (doc_id) LEFT JOIN top USING (doc_id)
"""


# -- benchmark decontamination ---------------------------------------------------


def decontaminate(docs: DataFrame, bench: DataFrame, text_col: str = "text",
                  key_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document n-gram overlap against a benchmark/eval set — the
    test-set decontamination pass every serious training pipeline runs
    (GPT-3 appendix C / PaLM-style 13-gram overlap; n is a parameter, 13
    needs longer docs than the fixtures have).

    Returns (doc_id, n_grams, n_hit, hit_ratio, contaminated) for EVERY
    corpus doc: n_grams = distinct n-grams in the doc, n_hit = how many of
    them appear anywhere in the benchmark set, contaminated = n_hit > 0.

    Scale: the benchmark gram set is DISTINCT and tiny relative to the
    corpus (eval suites, not training data) — broadcast it; the corpus
    side is one explode + broadcast hash join + partial-agg groupBy on
    doc_id, i.e. one shuffle of (doc_id, n_grams, hit) rows. At 100 TB
    join on xxhash64(gram) instead of the raw string to shrink exchange
    width (not done here so the oracle comparison stays exact on gram
    strings).
    """
    from pyspark.sql.functions import broadcast

    grams = F.array_distinct(_ngrams_col(tokens_col(F.col(text_col)), n))
    bg = (
        bench.select(F.explode(grams).alias("gram")).distinct()
        .withColumn("_hit", F.lit(1))
    )
    e = docs.select(
        F.col(key_col),
        grams.alias("_g"),
    ).select(
        key_col,
        F.size("_g").alias("n_grams"),
        # explode_outer keeps docs with < n tokens (empty gram array) as a
        # single null-gram row so they survive to the output with n_hit=0
        F.explode_outer("_g").alias("gram"),
    )
    j = e.join(broadcast(bg), "gram", "left")
    n_hit = F.coalesce(F.sum("_hit"), F.lit(0))
    return (
        j.groupBy(key_col, "n_grams")
        .agg(n_hit.cast("bigint").alias("n_hit"))
        .select(
            key_col,
            F.col("n_grams").cast("bigint").alias("n_grams"),
            "n_hit",
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"), 6
            ).alias("hit_ratio"),
            (F.col("n_hit") > 0).alias("contaminated"),
        )
    )


def decontaminate_sql(table: str = "documents", bench_where: str = "doc_id % 25 = 0",
                      text_col: str = "text", key_col: str = "doc_id",
                      n: int = 3) -> str:
    toks = tokens_sql(text_col)
    return f"""
WITH dg AS (
  SELECT {key_col} AS doc_id, list_distinct({_ngrams_sql(toks, n)}) AS g
  FROM {table}
),
bg AS (SELECT DISTINCT unnest(g) AS gram FROM dg WHERE {bench_where}),
e AS (SELECT doc_id, unnest(g) AS gram FROM dg),
h AS (SELECT e.doc_id, count(*) AS n_hit FROM e JOIN bg USING (gram) GROUP BY 1)
SELECT dg.doc_id AS {key_col},
       CAST(len(dg.g) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / greatest(len(dg.g), 1), 6)
         AS hit_ratio,
       coalesce(h.n_hit, 0) > 0 AS contaminated
FROM dg LEFT JOIN h USING (doc_id)
"""


# -- composite quality filter ---------------------------------------------------

# (rule name, threshold) pairs are module constants so the Spark and DuckDB
# twins cannot drift: each rule's predicate is written once per engine from
# the same numbers.  Rule set follows the published Gopher (Rae et al. 2021
# A.1.1) / C4 heuristics, scaled to the fixture corpus' doc lengths.
QUALITY_RULES = {
    "min_tokens": 30,       # too_short: n_tokens < 30
    "max_tokens": 10_000,   # too_long: n_tokens > 10000
    "min_avg_token_len": 2.0,
    "max_avg_token_len": 12.0,
    "min_stopword_ratio": 0.03,
    "max_dup_token_frac": 0.65,
    "max_punct_ratio": 0.2,
}


def quality_filter(docs: DataFrame, text_col: str = "text",
                   key_col: str = "doc_id") -> DataFrame:
    """Composite keep/drop decision for a training mix — the single operator
    a curation pipeline actually gates on, composing the published
    Gopher/C4-style rules: length bounds, mean-token-length bounds, minimum
    stopword share (gibberish guard), maximum duplicate-token fraction
    (repetition guard), maximum punctuation share (boilerplate guard).

    Output: (doc_id, n_tokens, avg_token_len, stopword_ratio,
    dup_token_frac, punct_ratio, reasons, keep) where `reasons` is the
    comma-joined FIXED-ORDER list of violated rule names ('' when clean)
    and keep = no rule fired.  Keeping the reason string per doc is
    deliberate: at 100 TB the drop-rate per reason is the pipeline-health
    metric (one groupBy(reasons).count() away), and a bare boolean cannot
    explain a sudden corpus-quality regression.

    Scale: per-row column math only (one token-array materialization, no
    explode/shuffle/UDF); whole-stage codegen end to end; linear in corpus
    bytes.
    """
    R = QUALITY_RULES
    docs = docs.select(key_col, text_col, tokens_col(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    d = docs.select(
        key_col,
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double")
            / F.greatest(n_tok, F.lit(1)), 6,
        ).alias("avg_token_len"),
        F.round(
            _stop_count_col(toks, STOPWORDS["en"]).cast("double")
            / F.greatest(n_tok, F.lit(1)), 6,
        ).alias("stopword_ratio"),
        F.round(
            F.when(
                n_tok > 0,
                1.0 - F.size(F.array_distinct(toks)) / n_tok.cast("double"),
            ).otherwise(0.0), 6,
        ).alias("dup_token_frac"),
        F.round(
            _punct_count_col(F.col(text_col))
            .cast("double") / F.greatest(n_char, F.lit(1)), 6,
        ).alias("punct_ratio"),
    )
    rules = [  # fixed order: reasons strings are comparable across engines
        ("too_short", F.col("n_tokens") < R["min_tokens"]),
        ("too_long", F.col("n_tokens") > R["max_tokens"]),
        ("token_len", (F.col("avg_token_len") < R["min_avg_token_len"])
         | (F.col("avg_token_len") > R["max_avg_token_len"])),
        ("low_stopword", F.col("stopword_ratio") < R["min_stopword_ratio"]),
        ("repetitive", F.col("dup_token_frac") > R["max_dup_token_frac"]),
        ("high_punct", F.col("punct_ratio") > R["max_punct_ratio"]),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return d.select(
        key_col, "n_tokens", "avg_token_len", "stopword_ratio",
        "dup_token_frac", "punct_ratio",
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
    )


def quality_filter_sql(table: str = "documents", text_col: str = "text",
                       key_col: str = "doc_id") -> str:
    R = QUALITY_RULES
    toks = tokens_sql(text_col)
    n_tok = f"len({toks})"
    n_char = f"length({text_col})"
    alnum_sp = f"regexp_replace({text_col}, '[^a-zA-Z0-9 ]', '', 'g')"
    stats = f"""
  SELECT {key_col},
         CAST({n_tok} AS BIGINT) AS n_tokens,
         round(CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE)
               / greatest({n_tok}, 1), 6) AS avg_token_len,
         round(CAST({_stop_count_sql(toks, STOPWORDS['en'])} AS DOUBLE)
               / greatest({n_tok}, 1), 6) AS stopword_ratio,
         round(CASE WHEN {n_tok} > 0
               THEN 1.0 - CAST(len(list_distinct({toks})) AS DOUBLE) / {n_tok}
               ELSE 0.0 END, 6) AS dup_token_frac,
         round(CAST({n_char} - length({alnum_sp}) AS DOUBLE)
               / greatest({n_char}, 1), 6) AS punct_ratio
  FROM {table}"""
    rules = [
        ("too_short", f"n_tokens < {R['min_tokens']}"),
        ("too_long", f"n_tokens > {R['max_tokens']}"),
        ("token_len", f"(avg_token_len < {R['min_avg_token_len']}"
         f" OR avg_token_len > {R['max_avg_token_len']})"),
        ("low_stopword", f"stopword_ratio < {R['min_stopword_ratio']}"),
        ("repetitive", f"dup_token_frac > {R['max_dup_token_frac']}"),
        ("high_punct", f"punct_ratio > {R['max_punct_ratio']}"),
    ]
    parts = ", ".join(
        f"CASE WHEN {cond} THEN '{name}' ELSE NULL END" for name, cond in rules
    )
    # coalesce: DuckDB's array_to_string on an EMPTY list is NULL, while
    # Spark's concat_ws is '' — the clean-doc case must agree across engines
    reasons = (
        f"coalesce(array_to_string(list_filter([{parts}],"
        f" x -> x IS NOT NULL), ','), '')"
    )
    return f"""
WITH s AS ({stats})
SELECT {key_col}, n_tokens, avg_token_len, stopword_ratio, dup_token_frac,
       punct_ratio,
       {reasons} AS reasons,
       {reasons} = '' AS keep
FROM s
"""


# -- context-window chunking -----------------------------------------------------


def chunk_documents(docs: DataFrame, seq_len: int = 32, stride: int = 24,
                    text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Sliding-window chunking into training-sequence pieces: token windows
    of ``seq_len`` starting every ``stride`` tokens (overlap = seq_len -
    stride preserves cross-boundary context, the standard pretraining
    chunker shape).  Output one row per chunk: (doc_id, chunk_idx,
    start_tok, n_tokens, chunk_hash) — chunk_hash stands in for the token
    ids a tokenizer would emit, keeping the oracle exact.

    Every doc with >= 1 token yields >= 1 chunk; the last window may be
    short (never empty).  Per-row array math + one explode — no shuffle;
    chunk rows are ~corpus_tokens/stride, linear in corpus size.
    """
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(
        n <= seq_len, F.least(n, F.lit(1))
    ).otherwise(F.ceil((n - seq_len) / F.lit(stride)).cast("int") + 1)
    chunks = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.struct(
            (i - 1).alias("chunk_idx"),
            ((i - 1) * stride + 1).alias("start_tok"),
            F.concat_ws(" ", F.slice(toks, (i - 1) * stride + 1, seq_len)).alias("_c"),
        ),
    )
    # when-guard: sequence(1, 0) DESCENDS in Spark (step -1), so a tokenless
    # doc must yield an empty chunk array, not two phantom chunks
    chunks = F.when(n > 0, chunks).otherwise(
        F.array().cast("array<struct<chunk_idx:int,start_tok:int,_c:string>>")
    )
    e = docs.select(F.col(key_col), F.explode(chunks).alias("c"))
    body = F.col("c._c")
    return e.select(
        key_col,
        F.col("c.chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("c.start_tok").cast("bigint").alias("start_tok"),
        (F.size(F.split(body, " ")) * F.when(body == "", 0).otherwise(1))
        .cast("bigint").alias("n_tokens"),
        F.md5(body).alias("chunk_hash"),
    )


def chunk_documents_sql(table: str = "documents", seq_len: int = 32,
                        stride: int = 24, text_col: str = "text",
                        key_col: str = "doc_id") -> str:
    toks = tokens_sql(text_col)
    n = f"len({toks})"
    n_chunks = (
        f"CASE WHEN {n} <= {seq_len} THEN least({n}, 1) "
        f"ELSE CAST(ceil(CAST({n} - {seq_len} AS DOUBLE) / {stride}) AS INT) + 1 END"
    )
    return f"""
WITH d AS (SELECT {key_col} AS doc_id, {toks} AS toks, {n_chunks} AS nc FROM {table}),
e AS (
  SELECT doc_id,
         unnest(range(1, nc + 1)) AS i,
         toks
  FROM d
),
c AS (
  SELECT doc_id,
         i - 1 AS chunk_idx,
         (i - 1) * {stride} + 1 AS start_tok,
         array_to_string(list_slice(toks, (i - 1) * {stride} + 1,
                                    (i - 1) * {stride} + {seq_len}), ' ') AS body
  FROM e
)
SELECT doc_id AS {key_col},
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(CASE WHEN body = '' THEN 0
            ELSE len(string_split(body, ' ')) END AS BIGINT) AS n_tokens,
       md5(body) AS chunk_hash
FROM c
"""


# -- rare-term keyword extraction -------------------------------------------------


def tfidf_keywords(docs: DataFrame, k: int = 5, text_col: str = "text",
                   key_col: str = "doc_id") -> DataFrame:
    """Per-document keyword extraction by document frequency: the ``k``
    RAREST distinct tokens of each doc (df ASC, token ASC tiebreak) — the
    idf component of tf-idf on a distinct-token basis (tf is 1 for every
    candidate once tokens are deduped per doc, so ranking by idf alone IS
    the tf-idf order).  Used for cheap topic tagging / cluster labeling of
    curation buckets.

    Output: (key, n_distinct_tokens, keywords) where ``keywords`` is the
    comma-joined top-k list (string, so the cross-engine value hash is
    representation-stable).

    Scale: explode distinct tokens (rows = corpus distinct-token mass,
    linear), one groupBy(token) for df — partial aggs apply — one shuffle
    join back on token (vocab can exceed broadcast size at 100 TB; the
    join key is near-uniform so no skew), then a per-doc collect_list
    bounded by the doc's own token count.  No windows, no all-pairs.
    """
    t = docs.select(
        key_col, F.array_distinct(tokens_col(F.col(text_col))).alias("_t")
    )
    e = t.select(key_col, F.size("_t").alias("_nd"), F.explode_outer("_t").alias("tok"))
    dfreq = (
        e.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("_df"))
    )
    j = e.join(dfreq, "tok", "left")
    kw = F.array_join(
        F.transform(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("tok").isNotNull(),
                            F.struct(F.col("_df"), F.col("tok")),
                        )
                    )
                ),
                1,
                k,
            ),
            lambda x: x["tok"],
        ),
        ",",
    )
    return (
        j.groupBy(key_col, "_nd")
        .agg(kw.alias("keywords"))
        .select(
            key_col,
            F.col("_nd").cast("bigint").alias("n_distinct_tokens"),
            "keywords",
        )
    )


def tfidf_keywords_sql(k: int = 5, table: str = "documents",
                       text_col: str = "text", key_col: str = "doc_id") -> str:
    toks = tokens_sql(text_col)
    return f"""
WITH t AS (SELECT {key_col} AS doc_id, list_distinct({toks}) AS t FROM {table}),
e AS (SELECT doc_id, unnest(t) AS tok FROM t),
dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY tok),
kw AS (
  SELECT e.doc_id,
         array_to_string(list_slice(list(e.tok ORDER BY dfq.df, e.tok), 1, {k}), ',')
           AS keywords
  FROM e JOIN dfq USING (tok) GROUP BY 1
)
SELECT t.doc_id AS {key_col},
       CAST(len(t.t) AS BIGINT) AS n_distinct_tokens,
       coalesce(kw.keywords, '') AS keywords
FROM t LEFT JOIN kw USING (doc_id)
"""


# -- corpus summary card ----------------------------------------------------------


def corpus_stats(docs: DataFrame, text_col: str = "text",
                 key_col: str = "doc_id") -> DataFrame:
    """One-row corpus summary — the "dataset card" numbers a curation run
    publishes with its output snapshot: doc/token/char volume, source and
    language spread, and the largest single document (the thing that
    breaks downstream batch sizing when it is 100 MB of minified JS).

    All-integer output so the oracle hash is exact.  Scale: one full-scan
    aggregate with partial aggregation (map-side combine) on every metric;
    count_distinct over low-cardinality source/lang columns is a two-stage
    partial distinct — no row ships more than its distinct keys.
    """
    toks = tokens_col(F.col(text_col))
    d = docs.select(
        key_col,
        F.col(text_col),
        "source",
        "lang",
        F.size(toks).cast("bigint").alias("_nt"),
    )
    return d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
        F.sum(F.length(text_col)).cast("bigint").alias("n_chars"),
        F.max(F.length(text_col)).cast("bigint").alias("max_doc_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


def corpus_stats_sql(table: str = "documents", text_col: str = "text",
                     key_col: str = "doc_id") -> str:
    toks = tokens_sql(text_col)
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({toks})) AS BIGINT) AS n_tokens,
       CAST(sum(length({text_col})) AS BIGINT) AS n_chars,
       CAST(max(length({text_col})) AS BIGINT) AS max_doc_chars,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM {table}
"""

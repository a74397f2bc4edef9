"""Mention detection + entity linking against a bounded alias dictionary.

Tokens come from ``textstats.tokens_col`` (Spark SQL built-ins, JVM-side).
``mention_entities`` is the one mention API: it emits the distinct
(url, entity_id) pair set.  A dictionary of up to ``MAX_INLINE`` entries
(the pipeline's is 24 by default) is inlined into the plan as an array
literal and matched per row, with no token explode and no join; a larger
one is joined with an explicit ``F.broadcast`` hint (north_star: "batched
mention detection and entity-link scoring ... plus a broadcast alias
dictionary"), so even then the corpus side is never shuffled for the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdflib_r2r_spark.operators.textstats import tokens_col

DEFAULT_DICT_SIZE = 24
MIN_ALIAS_LEN = 4
# largest alias dict that mention_entities inlines into the plan (see there)
MAX_INLINE = 512
ENTITY_BASE = "http://ex.org/entity/"


def build_alias_dict(
    pages: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    size: int = DEFAULT_DICT_SIZE,
    min_len: int = MIN_ALIAS_LEN,
) -> DataFrame:
    """Deterministic alias dictionary: the ``size`` most frequent tokens of
    length >= min_len, ties broken by token; entity_id = frequency rank,
    prior = corpus frequency share. (alias, entity_id, prior) — FIXTURES.md F5.
    """
    # dictionary building needs neither positions nor short tokens: filter
    # INSIDE the token array and plain-explode — the exploded row count
    # drops by the short-token share (~40% of web tokens) and no pos int is
    # carried.
    toks = F.filter(tokens_col(F.col(text_col)), lambda t: F.length(t) >= min_len)
    counts = (
        pages.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("t"))
    # Top-size via orderBy+limit = TakeOrderedAndProject (fully distributed,
    # per-partition top-k then merge) — the full counts table never goes
    # through a global single-partition Window. Ranking then happens WITHOUT
    # any window at all: rank(x) = |{y : y sorts at-or-before x}| via a
    # self-join of the <=size-row result (bounded quadratic on <=size rows;
    # no WindowExec, no single-partition path anywhere in the plan).
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(size)
    a, b = top.alias("rk_a"), top.alias("rk_b")
    before_or_self = (F.col("rk_b.cnt") > F.col("rk_a.cnt")) | (
        (F.col("rk_b.cnt") == F.col("rk_a.cnt")) & (F.col("rk_b.token") <= F.col("rk_a.token"))
    )
    ranked = (
        a.join(b, before_or_self, "inner")
        .groupBy(F.col("rk_a.token").alias("token"), F.col("rk_a.cnt").alias("cnt"))
        .agg(F.count(F.lit(1)).alias("entity_id"))
    )
    return (
        ranked
        .crossJoin(total)
        .select(
            F.col("token").alias("alias"),
            F.col("entity_id").cast("long").alias("entity_id"),
            (F.col("cnt").cast("double") / F.col("t")).alias("prior"),
        )
    )


def mention_triples(pairs: DataFrame) -> DataFrame:
    """(doc, ex:mentions, entity) triples in the engine's term encoding
    from the distinct (url, entity_id) pair set ``mention_entities`` emits.
    Late IRI rendering: the `<iri>` strings are concatenated only on the
    already-deduplicated raw pairs (E18 applied to the materialization
    path)."""
    return (
        pairs.select("url", "entity_id")
        .select(
            F.concat(F.lit("<"), F.col("url"), F.lit(">")).alias("subj"),
            F.lit("<http://ex.org/mentions>").alias("pred"),
            F.concat(F.lit("<" + ENTITY_BASE), F.col("entity_id").cast("string"), F.lit(">")).alias("obj"),
            F.lit(None).cast("string").alias("obj_dt"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("graph"),
        )
    )


def mention_entities(pages: DataFrame, alias_dict: DataFrame,
                     text_col: str = "text", key_col: str = "url") -> DataFrame:
    """Distinct (url, entity_id) pairs: every entity whose alias occurs as
    a token of the page (``key_col`` is the page key, one row per page).

    Up to ``MAX_INLINE`` entries, the dict is inlined as an array literal
    and tokens are mapped to entities per row: ``array_intersect(tokens,
    aliases)`` dedups matched ALIASES within the doc, then
    ``array_distinct(transform(.., amap))`` dedups the mapped ENTITY ids —
    so the pairs stay distinct even when several aliases link to one entity
    (alias->entity need not be injective) — and emits ONLY matches: no
    token explode (N docs x ~100 tokens rows to find ~0.3N matches), no
    join, no extra shuffle.  The ``transform`` lambda is a
    ``CodegenFallback`` expression, so this runs as an interpreted
    projection (and ``Generate``) outside whole-stage codegen.

    A larger dict takes the broadcast join: each doc's distinct tokens are
    exploded and joined against the dict, then the (url, entity_id) pairs
    are deduplicated.  The branch is chosen by the dict's observed size.
    MEASURED (sf0.1 corpus, local[32], min-of-3 noop-sink walls): the
    broadcast join is FLAT at ~0.4s from 128 to 32k entries while the
    inline literal degrades linearly once the expression tree dominates —
    dict=30: 0.18s inline / 0.38s join; 512: 0.34 / 0.42; 1024: 0.50 /
    0.42 (crossover); 8192: 5.2 / 0.41; 32768: 23.3 / 0.42.  ``MAX_INLINE``
    sits at 512, comfortably on the winning side of the crossover; real
    alias dictionaries (thousands of entries) take the join.
    """
    rows = alias_dict.select("alias", "entity_id").collect()
    if not rows:
        # zero-element F.array()/F.create_map() literals are void-typed and
        # fail analysis inside array_intersect; an empty dict just means no
        # mentions.
        return (
            pages.select(
                F.col(key_col).alias("url"),
                F.lit(None).cast("long").alias("entity_id"),
            ).limit(0)
        )
    toks = tokens_col(F.col(text_col))
    if len(rows) > MAX_INLINE:
        tok = pages.select(F.col(key_col).alias("url"),
                           F.explode(F.array_distinct(toks)).alias("token"))
        return (
            tok.join(F.broadcast(alias_dict), tok["token"] == alias_dict["alias"], "inner")
            .select("url", "entity_id")
            .distinct()
        )
    aliases = F.array(*[F.lit(r["alias"]) for r in rows])
    amap = F.create_map(
        *[x for r in rows for x in (F.lit(r["alias"]), F.lit(int(r["entity_id"])))]
    )
    ents = F.array_distinct(
        F.transform(F.array_intersect(toks, aliases), lambda t: amap[t])
    )
    return (
        pages.select(
            F.col(key_col).alias("url"),
            F.explode(ents).alias("entity_id"),
        )
        .select("url", F.col("entity_id").cast("long").alias("entity_id"))
    )

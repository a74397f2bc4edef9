"""Deduplication family for training-data curation.

- exact: hash-groupBy on a normalized fingerprint (one shuffle on a short
  hash, map-side partial agg for free);
- minhash-LSH near-dup: reuses web.linking (per-row signatures, band join);
- simhash: 32-bit majority-vote signature from token md5s, hamming buckets;
- n-gram Jaccard: exact verification on LSH candidates only (never O(n^2)).

Each operator has a DuckDB-SQL twin (window lead() builds shingles SQL-side)
so the driver's oracle compares real values, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdflib_r2r_spark.operators.textstats import tokens_col, tokens_sql
from rdflib_r2r_spark.web import linking

SHINGLE_K = linking.SHINGLE_K


# -- exact dedup -------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id",
                     prefix: int | None = None) -> DataFrame:
    """(fingerprint, n_dups, keep) for every duplicated normalized text;
    keep = min key (the canonical survivor). ``prefix`` fingerprints only the
    leading N chars (prefix dedup, for boilerplate/lead-para duplicates)."""
    base = F.substring(F.col(text_col), 1, prefix) if prefix else F.col(text_col)
    fp = F.md5(F.concat_ws(" ", tokens_col(base)))
    return (
        docs.select(F.col(key_col).alias("key"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("key").alias("keep"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dup_groups_sql(table: str = "documents", text_col: str = "text", key_col: str = "doc_id",
                         prefix: int | None = None) -> str:
    base = f"substring({text_col}, 1, {prefix})" if prefix else text_col
    toks = tokens_sql(base)
    return f"""
SELECT md5(array_to_string({toks}, ' ')) AS fingerprint,
       CAST(count(*) AS BIGINT) AS n_dups,
       min({key_col}) AS keep
FROM {table}
GROUP BY 1
HAVING count(*) > 1
"""


# -- minhash signatures + LSH pairs (SQL twins) -------------------------------

def _md5_signatures(docs: DataFrame, text_col: str, key_col: str,
                    num_hashes: int) -> DataFrame:
    """md5-based minhash family over STRING shingles — the engine-portable
    variant DuckDB can reproduce byte-for-byte (DuckDB has no crc32, so this
    oracle-paired family keeps md5; the throughput pipeline in web/linking
    uses the crc32/numeric family whose twin is the Python reference)."""
    toks = tokens_col(F.col(text_col))
    step1 = docs.select(F.col(key_col).alias("key"), toks.alias("_toks"))
    step2 = step1.select("key", linking.shingles_from_tokens(F.col("_toks")).alias("_sh"))
    base = F.transform(
        F.col("_sh"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
        % linking.MINHASH_P,
    )
    step3 = step2.select("key", base.alias("_hv"))
    return step3.select("key", *linking.minhash_sig_cols(F.col("_hv"), num_hashes))


def minhash_signatures(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id",
                       num_hashes: int = linking.DEFAULT_NUM_HASHES) -> DataFrame:
    """Per-doc minhash signature; docs with < SHINGLE_K tokens are excluded
    (keeps the SQL twin window-based). Column `key` + mh0..mhN.

    Round 7 (guide §2.4): the >= SHINGLE_K gate is a FILTER on the same
    scan instead of the former second full tokenization pass + shuffle
    join back on `key`.  Catalyst pushes the size predicate below the
    projection (tokenizing filtered-out rows once instead of every row
    twice) and the join's two exchanges disappear outright.
    """
    sigs = _md5_signatures(
        docs.filter(F.size(tokens_col(F.col(text_col))) >= SHINGLE_K),
        text_col, key_col, num_hashes,
    )
    return sigs


def _shingle_cte(table: str, text_col: str, key_col: str, k: int = SHINGLE_K) -> str:
    """tokens -> word k-gram shingle list via scalar range() + 1-based list
    indexing (SQL twin of linking.shingles_from_tokens); docs with < k tokens
    excluded."""
    toks = tokens_sql(text_col)
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return f"""
tok AS (
  SELECT {key_col} AS key, {toks} AS toks FROM {table}
  WHERE len({toks}) >= {k}
),
sh AS (
  SELECT key, unnest(list_transform(range(1, len(toks) - {k - 2}), i -> {gram})) AS shingle
  FROM tok
)"""


def minhash_signatures_sql(table: str = "documents", text_col: str = "text",
                           key_col: str = "doc_id",
                           num_hashes: int = linking.DEFAULT_NUM_HASHES) -> str:
    p = linking.MINHASH_P
    base = f"CAST(('0x' || substring(md5(shingle), 1, 15))::UBIGINT AS BIGINT) % {p}"
    mins = ",\n       ".join(
        f"min(({a} * hv + {b}) % {p}) AS mh{j}"
        for j, (a, b) in enumerate(linking.hash_params(num_hashes))
    )
    return f"""
WITH {_shingle_cte(table, text_col, key_col)},
hv AS (SELECT key, {base} AS hv FROM sh)
SELECT key, {mins}
FROM hv
GROUP BY key
"""


def lsh_dup_pairs(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id",
                  num_hashes: int = linking.DEFAULT_NUM_HASHES,
                  band_rows: int = linking.DEFAULT_BAND_ROWS,
                  threshold: float = 0.5) -> DataFrame:
    """(a, b, sim_est) near-dup pairs via MinHash-LSH blocking.

    Round 7: the signature table feeds THREE join inputs (the band
    self-join shares one exchange via ReusedExchange, but the two
    verification re-joins each recomputed the full tokenize+md5+minhash
    subtree).  ``localCheckpoint`` materializes the small (key + 8
    bigints) signature table once per invocation — same shape the fused
    pipeline uses via persist(), but scoped to this DataFrame so repeated
    bench invocations never share state.
    """
    sigs = minhash_signatures(docs, text_col, key_col, num_hashes)
    sigs = sigs.localCheckpoint(eager=True)
    pairs = linking.candidate_pairs(linking.band_df(sigs, num_hashes, band_rows))
    edges = linking.verified_edges(pairs, sigs, num_hashes, threshold)
    return edges.select("a", "b", F.round("sim_est", 6).alias("sim_est"))


def lsh_dup_pairs_sql(table: str = "documents", text_col: str = "text",
                      key_col: str = "doc_id",
                      num_hashes: int = linking.DEFAULT_NUM_HASHES,
                      band_rows: int = linking.DEFAULT_BAND_ROWS,
                      threshold: float = 0.5) -> str:
    bands = num_hashes // band_rows
    band_arms = " UNION ALL ".join(
        "SELECT key, {b} AS band_id, ".format(b=b)
        + " || '|' || ".join(f"CAST(mh{b * band_rows + r} AS VARCHAR)" for r in range(band_rows))
        + " AS band_val FROM sigs"
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN l.mh{j} = r.mh{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    return f"""
WITH sigs AS ({minhash_signatures_sql(table, text_col, key_col, num_hashes)}),
bands AS ({band_arms}),
cand AS (
  SELECT DISTINCT l.key AS a, r.key AS b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_val = r.band_val AND l.key < r.key
)
SELECT cand.a, cand.b,
       round(({agree}) / {float(num_hashes)}, 6) AS sim_est
FROM cand
JOIN sigs l ON l.key = cand.a
JOIN sigs r ON r.key = cand.b
WHERE ({agree}) / {float(num_hashes)} >= {threshold}
"""


# -- simhash ------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Majority-vote simhash over token md5s. Bit i of a token's hash =
    bit i of conv(substr(md5(tok),1,8), 16, 10). All JVM-side.

    Output: (key, simhash BIGINT).
    """
    # one md5 pass per token, then `bits` cheap bit-extractions over the
    # materialized hash array (lambda bodies get no CSE — keep them cheap)
    h = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")  # noqa: E731
    step1 = docs.select(F.col(key_col).alias("key"), tokens_col(F.col(text_col)).alias("_toks"))
    step2 = step1.select("key", F.size("_toks").alias("_n"), F.transform("_toks", h).alias("_h"))

    def _bit_counter(i: int):
        # closure (not default-arg) — F.aggregate requires exactly-2-ary merge
        return lambda acc, hv: acc + F.shiftright(hv, i).bitwiseAND(F.lit(1)).cast("int")

    bit_cols = []
    for i in range(bits):
        # count tokens with bit i set; majority vote sets the signature bit
        cnt = F.aggregate(F.col("_h"), F.lit(0), _bit_counter(i))
        bit_cols.append(
            F.when(cnt * 2 >= F.col("_n"), F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(F.lit(0).cast("bigint"))
        )
    sig = bit_cols[0]
    for b in bit_cols[1:]:
        sig = sig + b
    return step2.select(
        "key",
        F.when(F.col("_n") > 0, sig).otherwise(F.lit(None).cast("bigint")).alias("simhash"),
    )


def simhash_sql(table: str = "documents", text_col: str = "text", key_col: str = "doc_id",
                bits: int = SIMHASH_BITS) -> str:
    toks = tokens_sql(text_col)
    h = "CAST(('0x' || substring(md5(t), 1, 8))::UBIGINT AS BIGINT)"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({toks}, t -> (({h} >> {i}) & 1))) * 2"
        f" >= len({toks}) THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
SELECT {key_col} AS key,
       CASE WHEN len({toks}) > 0 THEN {bit_terms} ELSE NULL END AS simhash
FROM {table}
"""


def ngram_jaccard_sql(table: str = "documents", text_col: str = "text",
                      key_col: str = "doc_id",
                      num_hashes: int = linking.DEFAULT_NUM_HASHES,
                      band_rows: int = linking.DEFAULT_BAND_ROWS,
                      threshold: float = 0.5) -> str:
    """Exact shingle-set Jaccard for the LSH candidate pairs — SQL twin of
    lsh_dup_pairs + ngram_jaccard_pairs composed."""
    pairs = lsh_dup_pairs_sql(table, text_col, key_col, num_hashes, band_rows, threshold)
    return f"""
WITH {_shingle_cte(table, text_col, key_col)},
dsh AS (SELECT DISTINCT key, shingle FROM sh),
sizes AS (SELECT key, count(*) AS n FROM dsh GROUP BY key),
cand AS (SELECT a, b FROM ({pairs})),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c
  JOIN dsh x ON x.key = c.a
  JOIN dsh y ON y.key = c.b AND y.shingle = x.shingle
  GROUP BY c.a, c.b
)
SELECT c.a, c.b,
       round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
             / (sa.n + sb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
JOIN sizes sa ON sa.key = c.a
JOIN sizes sb ON sb.key = c.b
"""


# -- exact n-gram Jaccard on candidates ---------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame,
                        text_col: str = "text", key_col: str = "doc_id",
                        k: int = SHINGLE_K) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate pairs (a, b).
    Distributed set-intersection via explode + join, grouped per pair —
    cost is bounded by candidate count, not corpus^2."""
    sh = docs.select(
        F.col(key_col).alias("key"),
        tokens_col(F.col(text_col)).alias("_toks"),
    ).select(
        "key",
        F.explode(F.array_distinct(linking.shingles_from_tokens(F.col("_toks"), k))).alias("shingle"),
    )
    sizes = sh.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    a_sh = sh.select(F.col("key").alias("a"), "shingle")
    b_sh = sh.select(F.col("key").alias("b"), F.col("shingle").alias("shingle2"))
    inter = (
        pairs.join(a_sh, "a")
        .join(b_sh, (pairs["b"] == b_sh["b"]) & (F.col("shingle") == F.col("shingle2")), "inner")
        .groupBy("a", pairs["b"].alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("key").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("key").alias("b"), F.col("n").alias("nb"))
    return (
        pairs.join(inter, ["a", "b"], "left")
        .join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_inter"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


# -- duplicate-cluster resolution ---------------------------------------------

def dedup_clusters(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id",
                   num_hashes: int = linking.DEFAULT_NUM_HASHES,
                   band_rows: int = linking.DEFAULT_BAND_ROWS,
                   threshold: float = 0.5) -> DataFrame:
    """(doc_id, cluster_id, keep) for EVERY document: the operator a
    training pipeline actually runs — near-dup pairs are only evidence,
    the pipeline drops all but one doc per duplicate cluster.

    Composition: MinHash-LSH verified edges -> iterative hash-min connected
    components -> deterministic representative per cluster (min doc_id =
    the component label itself, so no extra pass is needed).  Documents in
    no edge are their own singleton cluster (left join + coalesce, no
    second shuffle on the corpus beyond the join on doc_id).
    """
    from rdflib_r2r_spark.web.components import connected_components

    edges = lsh_dup_pairs(docs, text_col, key_col, num_hashes, band_rows, threshold)
    comp = connected_components(edges.select("a", "b"), src="a", dst="b")
    out = docs.select(F.col(key_col).alias("doc_id")).join(
        comp.select(F.col("node").alias("doc_id"),
                    F.col("component").alias("_comp")),
        "doc_id", "left",
    )
    cluster = F.coalesce(F.col("_comp"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster_id"),
        (F.col("doc_id") == cluster).alias("keep"),
    )


def dedup_clusters_sql(table: str = "documents", text_col: str = "text",
                       key_col: str = "doc_id",
                       num_hashes: int = linking.DEFAULT_NUM_HASHES,
                       band_rows: int = linking.DEFAULT_BAND_ROWS,
                       threshold: float = 0.5) -> str:
    """DuckDB twin: recursive-CTE reachability min == hash-min CC label."""
    pairs = lsh_dup_pairs_sql(table, text_col, key_col, num_hashes, band_rows, threshold)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
sym AS (
  SELECT a AS s, b AS d FROM pairs
  UNION
  SELECT b AS s, a AS d FROM pairs
),
reach(node, r) AS (
  SELECT s, d FROM sym
  UNION
  SELECT reach.node, sym.d FROM reach JOIN sym ON reach.r = sym.s
),
comp AS (
  SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node
)
SELECT t.{key_col} AS doc_id,
       coalesce(comp.component, t.{key_col}) AS cluster_id,
       t.{key_col} = coalesce(comp.component, t.{key_col}) AS keep
FROM {table} t
LEFT JOIN comp ON comp.node = t.{key_col}
"""


# -- segment-level (line/paragraph) exact dedup -------------------------------

def segment_dedup(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id",
                  seg_tokens: int = 8) -> DataFrame:
    """Per-document segment-level exact dedup metrics — the CCNet-style
    "drop paragraphs seen elsewhere in the corpus" pass, expressed over
    non-overlapping ``seg_tokens``-token windows (the fixture corpus has no
    newlines; a real corpus would split on '\\n\\n' instead — only the
    segmenter expression changes, the distributed shape is identical).

    Output: (doc_id, n_segs, n_dup_segs, dup_seg_frac, kept_fingerprint)
    where a segment is a duplicate iff its exact text occurs more than once
    ANYWHERE in the corpus, and kept_fingerprint is md5 of the surviving
    segments in original order (empty-string md5 when nothing survives) —
    the column a downstream exact-dedup pass would key on.

    Scale: posexplode -> groupBy(xxhash64(segment)) count -> join back ->
    groupBy(doc) — the canonical 3-exchange distributed line-dedup, with
    the corpus-wide count exchange keyed on the 8-byte hash so it carries
    (hash, count) rows instead of raw segment text (CCNet does the same;
    an xxhash64 collision is the accepted trade at 100 TB).  The raw
    string stays only on the per-doc side, which needs it for the
    kept_fingerprint.  Partial aggregation halves the first exchange, and
    boilerplate segments ("subscribe to our newsletter") are exactly the
    skewed keys AQE's skew join handles.  The count side never collects:
    corpus-sized both sides.
    """
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    segs = F.when(n > 0, F.transform(
        F.sequence(F.lit(1), F.ceil(n / F.lit(seg_tokens)).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * seg_tokens + 1, seg_tokens)),
    )).otherwise(F.array().cast("array<string>"))
    seg_arr = docs.select(F.col(key_col).alias("doc_id"), segs.alias("_segs"))
    # round 7 (guide §2.3/§8): the raw segment TEXT never enters an
    # exchange or aggregate.  The exploded stream carries (doc_id, pos,
    # xxhash64) — 24 bytes/row; the corpus-wide count is keyed on the
    # hash; the build side keeps ONLY duplicated hashes (unique segments
    # are the common case and fall out of the LEFT join as misses), small
    # enough to broadcast; the per-doc aggregate collects integer kept
    # POSITIONS, and the fingerprint is rendered per row after joining
    # the int stats back to the per-doc segment arrays.  (The round-6
    # shape collected (pos, segment-text) structs through the final
    # exchange — the measured 2/3 of this operator's wall.)
    hs = seg_arr.select(
        "doc_id", F.transform("_segs", lambda s: F.xxhash64(s)).alias("_hs")
    )
    e = hs.select("doc_id", F.posexplode_outer("_hs").alias("pos", "_h"))
    counts = (
        e.filter(F.col("_h").isNotNull())
        .groupBy("_h").agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") > 1)
    )
    j = e.join(counts, "_h", "left")
    n_segs = F.count("_h")
    n_dup = F.count(F.when(F.col("_cnt") > 1, F.lit(1)))
    stats = (
        j.groupBy("doc_id")
        .agg(
            n_segs.cast("bigint").alias("n_segs"),
            n_dup.cast("bigint").alias("n_dup_segs"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_cnt").isNull() & F.col("_h").isNotNull(),
                           F.col("pos"))
                )
            ).alias("_kp"),
        )
    )
    out = seg_arr.join(stats, "doc_id", "inner")
    return out.select(
        "doc_id",
        "n_segs",
        "n_dup_segs",
        F.round(
            F.col("n_dup_segs")
            / F.greatest(F.col("n_segs"), F.lit(1)).cast("double"), 6
        ).alias("dup_seg_frac"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(F.col("_kp"),
                            lambda p: F.element_at(F.col("_segs"), p + 1)),
            )
        ).alias("kept_fingerprint"),
    )


def segment_dedup_sql(table: str = "documents", text_col: str = "text",
                      key_col: str = "doc_id", seg_tokens: int = 8) -> str:
    toks = tokens_sql(text_col)
    segs = (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"list_transform(range(1, CAST(ceil(len({toks}) / {seg_tokens}.0) AS INT) + 1), "
        f"i -> array_to_string(list_slice({toks}, (i - 1) * {seg_tokens} + 1, "
        f"i * {seg_tokens}), ' ')) ELSE [] END"
    )
    return f"""
WITH d AS (SELECT {key_col} AS doc_id, {segs} AS segs FROM {table}),
e AS (SELECT doc_id, unnest(range(1, len(segs) + 1)) AS pos, unnest(segs) AS seg
      FROM d),
c AS (SELECT seg, count(*) AS cnt FROM e GROUP BY 1),
a AS (
  SELECT e.doc_id,
         count(*) AS n_segs,
         count(*) FILTER (c.cnt > 1) AS n_dup_segs,
         md5(coalesce(string_agg(e.seg, ' ' ORDER BY e.pos)
             FILTER (c.cnt = 1), '')) AS kept_fingerprint
  FROM e JOIN c USING (seg) GROUP BY 1
)
SELECT d.doc_id AS {key_col},
       CAST(coalesce(a.n_segs, 0) AS BIGINT) AS n_segs,
       CAST(coalesce(a.n_dup_segs, 0) AS BIGINT) AS n_dup_segs,
       round(CAST(coalesce(a.n_dup_segs, 0) AS DOUBLE)
             / greatest(coalesce(a.n_segs, 0), 1), 6) AS dup_seg_frac,
       coalesce(a.kept_fingerprint, md5('')) AS kept_fingerprint
FROM d LEFT JOIN a USING (doc_id)
"""


# -- incremental snapshot diff ----------------------------------------------------


def snapshot_diff(old: DataFrame, new: DataFrame, text_col: str = "text",
                  key_col: str = "doc_id") -> DataFrame:
    """Crawl-refresh diff: compare two corpus snapshots by normalized-text
    fingerprint and report, per fingerprint, whether the content was
    ``added`` (new snapshot only), ``removed`` (old only), or ``retained``
    — the bookkeeping an incremental ingestion run writes so downstream
    training mixes only reprocess the added set.

    Output: (fingerprint, status, old_n, new_n, old_min_key, new_min_key);
    min keys give a stable exemplar doc on each side (NULL on the absent
    side).

    Scale: each side is one fingerprint groupBy with partial aggs, then a
    single FULL OUTER shuffle join on the 32-char fingerprint — both sides
    already aggregated, so the join input is one row per distinct content,
    not per doc.  At 100 TB swap the md5 string for xxhash64 pairs to
    shrink the exchange (same trade documented on segment_dedup).
    """
    def fps(df: DataFrame, side: str) -> DataFrame:
        fp = F.md5(F.concat_ws(" ", tokens_col(F.col(text_col))))
        return (
            df.select(F.col(key_col).alias("key"), fp.alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(
                F.count("*").cast("bigint").alias(f"{side}_n"),
                F.min("key").cast("bigint").alias(f"{side}_min_key"),
            )
        )

    j = fps(old, "old").join(fps(new, "new"), "fingerprint", "full_outer")
    status = (
        F.when(F.col("old_n").isNull(), F.lit("added"))
        .when(F.col("new_n").isNull(), F.lit("removed"))
        .otherwise(F.lit("retained"))
    )
    return j.select(
        "fingerprint",
        status.alias("status"),
        F.coalesce("old_n", F.lit(0)).alias("old_n"),
        F.coalesce("new_n", F.lit(0)).alias("new_n"),
        "old_min_key",
        "new_min_key",
    )


def snapshot_diff_sql(table: str = "documents",
                      old_where: str = "doc_id % 2 = 0",
                      new_where: str = "doc_id % 3 != 0",
                      text_col: str = "text", key_col: str = "doc_id") -> str:
    toks = tokens_sql(text_col)
    fp = f"md5(array_to_string({toks}, ' '))"
    return f"""
WITH o AS (
  SELECT {fp} AS fingerprint, CAST(count(*) AS BIGINT) AS old_n,
         CAST(min({key_col}) AS BIGINT) AS old_min_key
  FROM {table} WHERE {old_where} GROUP BY 1
),
n AS (
  SELECT {fp} AS fingerprint, CAST(count(*) AS BIGINT) AS new_n,
         CAST(min({key_col}) AS BIGINT) AS new_min_key
  FROM {table} WHERE {new_where} GROUP BY 1
)
SELECT coalesce(o.fingerprint, n.fingerprint) AS fingerprint,
       CASE WHEN o.old_n IS NULL THEN 'added'
            WHEN n.new_n IS NULL THEN 'removed'
            ELSE 'retained' END AS status,
       coalesce(o.old_n, 0) AS old_n,
       coalesce(n.new_n, 0) AS new_n,
       o.old_min_key AS old_min_key,
       n.new_min_key AS new_min_key
FROM o FULL OUTER JOIN n ON o.fingerprint = n.fingerprint
"""

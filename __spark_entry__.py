"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-construction dump at sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (relational layer A1-A13, expression layer E1-E18, mapping
layer B1-B10 exercised through the kg_* queries) plus the training-data
operators (dedup family, text analysis, ANN, multimodal plumbing).

Cross-engine parity rules used throughout:
- every computed column aliased identically on both sides;
- float aggregates go through exact decimal sums then cast to double
  (double-sum order differs between engines; decimal addition is exact);
- minhash/fingerprints use md5 (identical in Spark, DuckDB, Python).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.compiler import SparkMappingCompiler
from rdflib_r2r_spark.mapping import (
    JoinCondition,
    LogicalSource,
    PredicateObjectMap,
    SubjectMap,
    TermMap,
    TriplesMap,
    const_iri,
    direct_mapping,
)
from rdflib_r2r_spark.operators import dedup, multimodal, pii, similarity, textstats
from rdflib_r2r_spark.paths import transitive_closure
from rdflib_r2r_spark.rewrites import add_chain_maps
from rdflib_r2r_spark.oracle import mapping_to_duckdb_sql
from rdflib_r2r_spark.templates import invert_template_py
from rdflib_r2r_spark.terms import iri_unsafe_py
from rdflib_r2r_spark.sparql import SparkR2RStore
from rdflib_r2r_spark.sparql.bgp import BGPCompiler
from rdflib_r2r_spark.web import mentions as men, pages as pg
from rdflib_r2r_spark.web.extract import extract_text

SF1 = "/root/testdata/sf0.001"

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# payload tables read through session.widen_scan: it widens a table with
# fewer row groups than the partition count Spark's split rule gives its
# bytes to that count, so the testdata tables (all under the 4 MB split
# floor) stay one partition
_WIDEN_TABLES = {"documents", "embeddings"}


# table reads, keyed like _STORE_CACHE plus the sizes and modification
# times of the files: a read lists the files and reads their schema (a
# widened one also their footers), so a query built again reuses it, and a
# rewritten file is read again, never served stale
_READ_CACHE: dict = {}


def _file_stamps(path: str) -> tuple:
    """(file, size, mtime_ns) of the file at ``path`` or of every file
    under it."""
    files = ([os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
             if os.path.isdir(path) else [path])
    return tuple((f, st.st_size, st.st_mtime_ns)
                 for f in sorted(files) for st in [os.stat(f)])


def _t(spark: SparkSession, sf_dir: str, name: str, widen: bool = True) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    widen = widen and name in _WIDEN_TABLES
    if not os.path.exists(path):
        return spark.read.parquet(path)  # remote or missing: no stamps to key on
    key = (spark.sparkContext.applicationId, path, widen)
    stamps = _file_stamps(path)
    hit = _READ_CACHE.get(key)
    if hit is not None and hit[0] == stamps:
        return hit[1]
    if widen:
        from rdflib_r2r_spark.session import widen_scan

        df = widen_scan(spark, path)
    else:
        df = spark.read.parquet(path)
    _READ_CACHE[key] = (stamps, df)
    return df


# long-lived store objects, as a real deployment holds them: SPARQL stores
# carry a prepared-plan cache (store.py), so re-building the store per
# query() call would throw compiled plans away between driver runs
_STORE_CACHE: dict = {}


def _cached_store(kind: str, spark, sf: str, build):
    # applicationId is never recycled across sessions (ADVICE r6: id(spark)
    # could be reused after GC, handing a new session a store bound to a
    # dead one)
    key = (kind, spark.sparkContext.applicationId, sf)
    st = _STORE_CACHE.get(key)
    if st is None:
        st = build()
        _STORE_CACHE[key] = st
    return st


def _dsum(col, scale: int = 4):
    """Exact decimal sum rendered as double — engine-order-independent."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def _dsum_sql(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


# --------------------------------------------------------------------------
# KG mapping fixtures over the TPC-H-ish tables (mapping layer B1-B10)
# --------------------------------------------------------------------------

EX = "http://ex.org/"


def geo_tmaps() -> list[TriplesMap]:
    """nation/region mapping: templates, typed literals, rdf:type arms and a
    referencing-object map (nation -> region join on raw keys)."""
    region = TriplesMap(
        name="region",
        source=LogicalSource(table="region"),
        subject_map=SubjectMap(template=EX + "region/{r_regionkey}", classes=(EX + "Region",)),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(EX + "name"),),
                objects=(TermMap(column="r_name"),),
            ),
        ),
    )
    nation = TriplesMap(
        name="nation",
        source=LogicalSource(table="nation"),
        subject_map=SubjectMap(template=EX + "nation/{n_nationkey}", classes=(EX + "Nation",)),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(EX + "name"),),
                objects=(TermMap(column="n_name"),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(EX + "nationkey"),),
                objects=(TermMap(column="n_nationkey", datatype=terms.XSD_INTEGER),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(EX + "inRegion"),),
                objects=(
                    TermMap(
                        parent_triples_map="region",
                        join_conditions=(JoinCondition(child="n_regionkey", parent="r_regionkey"),),
                    ),
                ),
            ),
        ),
    )
    return [nation, region]


def orders_tmap() -> TriplesMap:
    return TriplesMap(
        name="orders",
        source=LogicalSource(table="orders"),
        subject_map=SubjectMap(template=EX + "orders/{o_orderkey}", classes=(EX + "Order",)),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(EX + "orderkey"),),
                objects=(TermMap(column="o_orderkey", datatype=terms.XSD_INTEGER),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(EX + "status"),),
                objects=(TermMap(column="o_orderstatus"),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(EX + "priority"),),
                objects=(TermMap(column="o_orderpriority"),),
            ),
        ),
    )


def chain_tmaps() -> list[TriplesMap]:
    """geo mapping variant where the parent also reads its key column, so
    the B7 chain-map rewrite synthesizes '<regionref>/<regionkey>' (join
    eliminated: read n_regionkey directly) and its inverse."""
    region = TriplesMap(
        name="region",
        source=LogicalSource(table="region"),
        subject_map=SubjectMap(template=EX + "region/{r_regionkey}"),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(EX + "regionkey"),),
                objects=(TermMap(column="r_regionkey", datatype=terms.XSD_INTEGER),),
            ),
        ),
    )
    nation = TriplesMap(
        name="nation",
        source=LogicalSource(table="nation"),
        subject_map=SubjectMap(template=EX + "nation/{n_nationkey}"),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(EX + "regionref"),),
                objects=(
                    TermMap(
                        parent_triples_map="region",
                        join_conditions=(JoinCondition(child="n_regionkey", parent="r_regionkey"),),
                    ),
                ),
            ),
            PredicateObjectMap(
                predicates=(const_iri(EX + "nregion"),),
                objects=(TermMap(column="n_regionkey", datatype=terms.XSD_INTEGER),),
            ),
        ),
    )
    return add_chain_maps(
        [nation, region],
        column_datatypes={"nation": {"n_regionkey": terms.XSD_INTEGER},
                          "region": {"r_regionkey": terms.XSD_INTEGER}},
    )


def _quads_tmaps() -> list[TriplesMap]:
    """Named-graph mapping over nation (shared by kg_graph_quads and
    sparql_graph_quads)."""
    return [
        TriplesMap(
            name="nation_quads",
            source=LogicalSource(table="nation"),
            subject_map=SubjectMap(template=EX + "nation/{n_nationkey}"),
            pomaps=(
                PredicateObjectMap(
                    predicates=(const_iri(EX + "name"),),
                    objects=(TermMap(column="n_name"),),
                    graphs=(const_iri(EX + "g/names"),),
                ),
                PredicateObjectMap(
                    predicates=(const_iri(EX + "nationkey"),),
                    objects=(TermMap(column="n_nationkey", datatype=terms.XSD_INTEGER),),
                    graphs=(const_iri(EX + "g/keys"),),
                ),
            ),
        )
    ]


# rr:sqlQuery source shared by Spark and the DuckDB oracle — must parse in
# both engines (floor/CAST are the portable integer-halving spelling)
EDGES_SQL = (
    "SELECT DISTINCT user_id AS src, CAST(floor(user_id / 2.0) AS BIGINT) AS dst "
    "FROM events WHERE user_id > 0"
)


def _edges_tmaps() -> list[TriplesMap]:
    """Ancestor-edge mapping over a synthetic halving graph, used by the
    transitive-closure SPARQL query (`+` paths — reference gap, plan.md:22)."""
    return [
        TriplesMap(
            name="edges",
            source=LogicalSource(sql_query=EDGES_SQL),
            subject_map=SubjectMap(template=EX + "u/{src}"),
            pomaps=(
                PredicateObjectMap(
                    predicates=(const_iri(EX + "anc"),),
                    objects=(TermMap(template=EX + "u/{dst}", term_type="IRI"),),
                ),
            ),
        )
    ]


LOOKUP_ORDERKEY = 1317


def _subject_lookup_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-inversion constant pushdown (reference:
    rdflib_r2r/sql_converter.py:148-161; conversion_utils.py:517-531): the
    concrete subject IRI is inverted against the template and becomes a
    typed filter on the raw key column BEFORE compilation — the parquet scan
    sees `o_orderkey = N`, never a concat comparison."""
    tmap = orders_tmap()
    iri = f"{EX}orders/{LOOKUP_ORDERKEY}"
    binding = invert_template_py(iri, tmap.subject_map.template)
    src = _t(spark, sf_dir, "orders")
    for col, raw in binding.items():
        typed = F.lit(iri_unsafe_py(raw)).cast(src.schema[col].dataType)
        src = src.filter(F.col(col) == typed)
    comp = SparkMappingCompiler(spark, {"orders": src})
    return BGPCompiler([tmap], comp).dump()


def _pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pages = pg.pages_from_documents(docs)
    return pages.select(
        "url", "warc_ts", "lang", extract_text(F.col("html")).alias("text")
    )


def _docs_pages_sql() -> str:
    """DuckDB twin of pages_from_documents + extraction (extraction is the
    wrapper's exact inverse, so text passes through)."""
    return (
        "SELECT 'http://ex.org/doc/' || CAST(doc_id AS VARCHAR) AS url, "
        "TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts, "
        "lang, text FROM documents"
    )


def pages_tmaps() -> list[TriplesMap]:
    from rdflib_r2r_spark.pipeline import pages_triples_map

    return [pages_triples_map()]


# --------------------------------------------------------------------------
# queries()
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG dump over web pages (HTML->text UDF + mapping compile)
    plus mention triples, at sf0.001."""
    pages = _pages_df(spark, SF1)
    base = BGPCompiler(pages_tmaps(), SparkMappingCompiler(spark, {"pages": pages})).dump()
    adict = men.build_alias_dict(pages)
    mt = men.mention_triples(men.mention_entities(pages, adict))
    return base.unionByName(mt)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- mapping layer (B1-B10, A1) ----
    def kg_dump_geo(spark, sf):
        comp = SparkMappingCompiler(
            spark, {n: _t(spark, sf, n) for n in ("nation", "region")}
        )
        return BGPCompiler(geo_tmaps(), comp).dump()

    q["kg_dump_geo"] = kg_dump_geo

    def kg_direct_mapping(spark, sf):
        comp = SparkMappingCompiler(
            spark, {"supplier": _t(spark, sf, "supplier"), "nation": _t(spark, sf, "nation")}
        )
        return BGPCompiler(_direct_tmaps(), comp).dump()

    q["kg_direct_mapping"] = kg_direct_mapping

    q["kg_subject_lookup"] = _subject_lookup_df

    def kg_dump_pages(spark, sf):
        pages = _pages_df(spark, sf)
        return BGPCompiler(pages_tmaps(), SparkMappingCompiler(spark, {"pages": pages})).dump()

    q["kg_dump_pages"] = kg_dump_pages

    def kg_mentions(spark, sf):
        pages = _pages_df(spark, sf)
        adict = men.build_alias_dict(pages)
        return men.mention_triples(men.mention_entities(pages, adict))

    q["kg_mentions"] = kg_mentions

    def kg_alias_dict(spark, sf):
        return men.build_alias_dict(_pages_df(spark, sf)).select(
            "alias", "entity_id", F.round("prior", 9).alias("prior")
        )

    q["kg_alias_dict"] = kg_alias_dict

    def kg_chain_dump(spark, sf):
        comp = SparkMappingCompiler(
            spark, {n: _t(spark, sf, n) for n in ("nation", "region")}
        )
        return BGPCompiler(chain_tmaps(), comp).dump()

    q["kg_chain_dump"] = kg_chain_dump

    # property paths through the SPARQL front end: resolve_paths rewrites
    # the sequence into a hop-variable join and the alternative into a union
    def q_path_seq(spark, sf):
        return _geo_store(spark, sf).query("SELECT ?s ?o { ?s ex:inRegion/ex:name ?o }")

    q["q_path_seq"] = q_path_seq

    def q_path_alt_inv(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT DISTINCT ?s ?o { ?s (ex:name|^ex:inRegion) ?o }"
        )

    q["q_path_alt_inv"] = q_path_alt_inv

    def q_transitive_closure(spark, sf):
        ev = _t(spark, sf, "events")
        edges = (
            ev.filter(F.col("user_id") > 0)
            .select(
                F.col("user_id").alias("src"),
                F.floor(F.col("user_id") / 2).cast("bigint").alias("dst"),
            )
            .distinct()
        )
        return transitive_closure(edges)

    q["q_transitive_closure"] = q_transitive_closure

    # ---- relational operators (A2-A13) ----
    def q_filter_project(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.filter(
            (F.col("l_shipdate") < "1996-06-01") & (F.col("l_quantity") > 45)
        ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

    q["q_filter_project"] = q_filter_project

    def q_extend_bind(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            (F.col("l_quantity") >= 25).alias("bulk"),
        )

    q["q_extend_bind"] = q_extend_bind

    def q_join_inner(spark, sf):
        o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"], "inner")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("o_orderkey", "c_name", "o_orderstatus")
        )

    q["q_join_inner"] = q_join_inner

    def q_left_join(spark, sf):
        c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
        return (
            c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
            .groupBy("c_custkey", "c_name")
            .agg(F.count("o_orderkey").alias("n_orders"))
        )

    q["q_left_join"] = q_left_join

    def q_union_align(spark, sf):
        c = _t(spark, sf, "customer").select(
            F.col("c_name").alias("name"), F.col("c_acctbal").alias("acctbal")
        )
        s = _t(spark, sf, "supplier").select(F.col("s_name").alias("name"))
        return c.unionByName(s, allowMissingColumns=True)

    q["q_union_align"] = q_union_align

    def q_minus(spark, sf):
        c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
        urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
        with_urgent = c.join(urgent, c["c_custkey"] == urgent["o_custkey"], "left_semi")
        return c.select("c_custkey", "c_name").exceptAll(
            with_urgent.select("c_custkey", "c_name")
        )

    q["q_minus"] = q_minus

    def q_group_having(spark, sf):
        li = _t(spark, sf, "lineitem")
        g = li.groupBy("l_returnflag", "l_linestatus").agg(
            _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        return g.filter(F.col("n") > 100)

    q["q_group_having"] = q_group_having

    def q_orderby_slice(spark, sf):
        o = _t(spark, sf, "orders")
        return (
            o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey", "o_totalprice")
            .offset(5)
            .limit(20)
        )

    q["q_orderby_slice"] = q_orderby_slice

    def q_distinct(spark, sf):
        return _t(spark, sf, "customer").select("c_mktsegment", "c_nationkey").distinct()

    q["q_distinct"] = q_distinct

    def q_values_join(spark, sf):
        o = _t(spark, sf, "orders")
        v = spark.createDataFrame(
            [("1-URGENT", 1), ("2-HIGH", 2)], "prio string, prio_rank int"
        )
        return (
            o.join(v, o["o_orderpriority"] == v["prio"], "inner")
            .groupBy("prio", "prio_rank")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["q_values_join"] = q_values_join

    def q_agg_suite(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            _dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
            (_dsum(F.col("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty"),
            F.min("l_shipdate").cast("string").alias("first_ship"),
            F.max("l_shipdate").cast("string").alias("last_ship"),
            F.concat_ws(",", F.array_sort(F.collect_set("l_linestatus"))).alias("statuses"),
        )

    q["q_agg_suite"] = q_agg_suite

    def q_expr_suite(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.select(
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("l_returnflag") == "R", "returned")
            .when(F.col("l_returnflag") == "A", "accepted")
            .otherwise("other")
            .alias("flag_name"),
            F.col("l_linestatus").isin("O", "F").alias("status_known"),
            ((F.col("l_quantity") * 2 + 1 - F.col("l_linenumber")) / 4.0).alias("arith"),
            (~(F.col("l_discount") > 0.05)).alias("low_disc"),
            F.col("l_shipdate").isNotNull().alias("bound_ship"),
            F.coalesce(F.col("l_tax"), F.lit(0.0)).alias("tax0"),
            F.col("l_quantity").cast("int").alias("qty_int"),
            F.col("l_quantity").cast("string").alias("qty_str"),
            (-F.col("l_discount")).alias("neg_disc"),
        )

    q["q_expr_suite"] = q_expr_suite

    def q_regex(spark, sf):
        p = _t(spark, sf, "part")
        return p.filter(F.col("p_name").rlike("(green|blue)")).select(
            "p_partkey", "p_name"
        )

    q["q_regex"] = q_regex

    def q_exists_semijoin(spark, sf):
        c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
        big = o.filter(F.col("o_totalprice") > 100000)
        return c.join(big, c["c_custkey"] == big["o_custkey"], "left_semi").select(
            "c_custkey", "c_name"
        )

    q["q_exists_semijoin"] = q_exists_semijoin

    def q_notexists_antijoin(spark, sf):
        c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
        urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
        return c.join(urgent, c["c_custkey"] == urgent["o_custkey"], "left_anti").select(
            "c_custkey", "c_name"
        )

    q["q_notexists_antijoin"] = q_notexists_antijoin

    def q_subquery_topn(spark, sf):
        c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
        spend = (
            o.groupBy("o_custkey")
            .agg(_dsum(F.col("o_totalprice"), 2).alias("total_spend"))
        )
        j = c.join(spend, c["c_custkey"] == spend["o_custkey"], "inner")
        w = Window.partitionBy("c_nationkey").orderBy(
            F.desc("total_spend"), F.asc("c_custkey")
        )
        return (
            j.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("c_nationkey", "c_custkey", "c_name", "total_spend")
        )

    q["q_subquery_topn"] = q_subquery_topn

    def q_sqlf_functions(spark, sf):
        # sqlf: escape hatch (E9): arbitrary SQL function by name
        c = _t(spark, sf, "customer")
        return c.select(
            "c_custkey",
            F.expr("upper(c_name)").alias("uname"),
            F.expr("length(c_name)").cast("bigint").alias("name_len"),
            F.expr("substring(c_name, 1, 5)").alias("name5"),
            F.expr("abs(c_acctbal)").alias("abs_bal"),
        )

    q["q_sqlf_functions"] = q_sqlf_functions

    def q_window_session(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        sess = ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        return sess.groupBy("user_id").agg(
            F.sum("new_sess").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )

    q["q_window_session"] = q_window_session

    def q_json_extract(spark, sf):
        ev = _t(spark, sf, "events")
        return ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )

    q["q_json_extract"] = q_json_extract

    def q_rollup(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.rollup("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
        )

    q["q_rollup"] = q_rollup

    def q_pivot_case(spark, sf):
        o = _t(spark, sf, "orders")
        return o.groupBy("o_orderpriority").agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("bigint").alias("n_f"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).cast("bigint").alias("n_o"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).cast("bigint").alias("n_p"),
        )

    q["q_pivot_case"] = q_pivot_case

    def q_percentile(spark, sf):
        li = _t(spark, sf, "lineitem")
        return li.groupBy("l_returnflag").agg(
            F.round(F.percentile("l_quantity", 0.5), 6).alias("median_qty"),
            F.round(F.percentile("l_quantity", 0.9), 6).alias("p90_qty"),
        )

    q["q_percentile"] = q_percentile

    def q_datetime_funcs(spark, sf):
        o = _t(spark, sf, "orders")
        return o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.weekday("o_orderdate").alias("wd"),
            F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias("days_to_2002"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        )

    q["q_datetime_funcs"] = q_datetime_funcs

    def q_string_funcs(spark, sf):
        c = _t(spark, sf, "customer")
        return c.select(
            "c_custkey",
            F.trim(F.col("c_name")).alias("trimmed"),
            F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
            F.replace(F.col("c_name"), F.lit("_"), F.lit("-")).alias("dashed"),
            F.instr(F.col("c_name"), "_").cast("bigint").alias("us_pos"),
            F.reverse(F.col("c_mktsegment")).alias("rev_seg"),
            F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
        )

    q["q_string_funcs"] = q_string_funcs

    def q_sample_hash(spark, sf):
        li = _t(spark, sf, "lineitem")
        key = F.concat_ws("-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
        return li.filter(F.substring(F.md5(key), 1, 1) == "0").select(
            "l_orderkey", "l_linenumber", "l_quantity"
        )

    q["q_sample_hash"] = q_sample_hash

    def kg_graph_quads(spark, sf):
        tmap = TriplesMap(
            name="nation_quads",
            source=LogicalSource(table="nation"),
            subject_map=SubjectMap(template=EX + "nation/{n_nationkey}"),
            pomaps=(
                PredicateObjectMap(
                    predicates=(const_iri(EX + "name"),),
                    objects=(TermMap(column="n_name"),),
                    graphs=(const_iri(EX + "g/names"),),
                ),
                PredicateObjectMap(
                    predicates=(const_iri(EX + "nationkey"),),
                    objects=(TermMap(column="n_nationkey", datatype=terms.XSD_INTEGER),),
                    graphs=(const_iri(EX + "g/keys"),),
                ),
            ),
        )
        comp = SparkMappingCompiler(spark, {"nation": _t(spark, sf, "nation")})
        dump = BGPCompiler([tmap], comp).dump()
        # GRAPH-scoped query: only the names graph
        return dump.filter(F.col("graph") == f"<{EX}g/names>")

    q["kg_graph_quads"] = kg_graph_quads

    def q_ask(spark, sf):
        li = _t(spark, sf, "lineitem")
        n = li.filter((F.col("l_quantity") > 49) & (F.col("l_returnflag") == "R")).limit(1)
        return n.agg((F.count(F.lit(1)) > 0).alias("found"))

    q["q_ask"] = q_ask

    def q_construct(spark, sf):
        # CONSTRUCT-equivalent: derive new triples from the materialized KG
        comp = SparkMappingCompiler(
            spark, {n: _t(spark, sf, n) for n in ("nation", "region")}
        )
        dump = BGPCompiler(geo_tmaps(), comp).dump()
        names = dump.filter(F.col("pred") == f"<{EX}name>")
        return names.select(
            F.col("subj"),
            F.lit(f"<{EX}label>").alias("pred"),
            F.upper(F.col("obj")).alias("obj"),
        )

    q["q_construct"] = q_construct

    # ---- SPARQL text front end (A13/A14 + all of 2.A through SPARQL) ----
    # Each sparql_* query re-authors a contract operator as a SPARQL string
    # through parse -> algebra -> mapping-compiled DataFrames
    # (reference: r2r_store.py:59-93 query; sql_converter.py:269-329).
    def _geo_store(spark, sf) -> SparkR2RStore:
        return _cached_store("geo", spark, sf, lambda: SparkR2RStore(
            spark,
            {n: _t(spark, sf, n) for n in ("nation", "region")},
            geo_tmaps(),
            init_ns={"ex": EX},
        ))

    def sparql_star_filter(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?s ?n ?k { ?s a ex:Nation ; ex:name ?n ; ex:nationkey ?k "
            "FILTER(?k >= 10) }"
        )

    q["sparql_star_filter"] = sparql_star_filter

    def sparql_join_ref(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?n ?rn { ?s ex:name ?n ; ex:inRegion ?r . ?r ex:name ?rn }"
        )

    q["sparql_join_ref"] = sparql_join_ref

    def sparql_const_subject(spark, sf):
        return _geo_store(spark, sf).query(
            f"SELECT ?n ?k {{ <{EX}nation/7> ex:name ?n ; ex:nationkey ?k }}"
        )

    q["sparql_const_subject"] = sparql_const_subject

    def sparql_optional(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?n ?k { ?s ex:name ?n OPTIONAL { ?s ex:nationkey ?k } }"
        )

    q["sparql_optional"] = sparql_optional

    def sparql_union(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?x { { ?s ex:name ?x } UNION { ?s ex:nationkey ?x } }"
        )

    q["sparql_union"] = sparql_union

    def sparql_minus(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?s ?n { ?s ex:name ?n MINUS { ?s ex:nationkey ?k } }"
        )

    q["sparql_minus"] = sparql_minus

    def sparql_agg_having(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?rn (COUNT(?s) AS ?c) { ?s ex:inRegion ?r . ?r ex:name ?rn } "
            "GROUP BY ?rn HAVING (COUNT(?s) >= 5)"
        )

    q["sparql_agg_having"] = sparql_agg_having

    def sparql_orderby_slice(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?k ?n { ?s ex:nationkey ?k ; ex:name ?n } "
            "ORDER BY DESC(?k) LIMIT 10 OFFSET 5"
        )

    q["sparql_orderby_slice"] = sparql_orderby_slice

    def sparql_distinct(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT DISTINCT ?rn { ?s ex:inRegion ?r . ?r ex:name ?rn }"
        )

    q["sparql_distinct"] = sparql_distinct

    def sparql_values_join(spark, sf):
        return _geo_store(spark, sf).query(
            'SELECT ?s ?rn { ?s ex:name ?rn VALUES ?rn { "ASIA" "EUROPE" } }'
        )

    q["sparql_values_join"] = sparql_values_join

    def sparql_exists(spark, sf):
        # discriminating: only SOME nations are in ASIA — dropping the EXISTS
        # (or its inner join) changes the answer from 5 rows to 25/30
        return _geo_store(spark, sf).query(
            'SELECT ?s ?n { ?s ex:name ?n '
            'FILTER EXISTS { ?s ex:inRegion ?r . ?r ex:name "ASIA" } }'
        )

    q["sparql_exists"] = sparql_exists

    def sparql_path_seq(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?s ?o { ?s ex:inRegion/ex:name ?o }"
        )

    q["sparql_path_seq"] = sparql_path_seq

    def sparql_path_negated(spark, sf):
        # negated property set (SPARQL 1.1 §9.1) — beyond the reference's
        # Seq/Alt/Inv coverage (sql_converter.py:208-229). Excluded
        # constant-predicate arms are no candidates of the BGP compiler.
        return _geo_store(spark, sf).query(
            "SELECT ?s ?o { ?s !(a|ex:inRegion) ?o }"
        )

    q["sparql_path_negated"] = sparql_path_negated

    def sparql_agg_gcsample(spark, sf):
        # GROUP_CONCAT (sorted, custom separator) + SAMPLE (deterministic:
        # MIN) in one grouped SELECT — E1-family aggregates beyond
        # COUNT/SUM/AVG/MIN/MAX.
        return _geo_store(spark, sf).query(
            "SELECT ?rn (GROUP_CONCAT(?n; SEPARATOR=\"|\") AS ?names) "
            "(SAMPLE(?n) AS ?first) "
            "{ ?s ex:inRegion ?r . ?r ex:name ?rn . ?s ex:name ?n } "
            "GROUP BY ?rn"
        )

    q["sparql_agg_gcsample"] = sparql_agg_gcsample

    def sparql_bind(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?s ?nk2 { ?s ex:nationkey ?k . BIND(?k * 2 AS ?nk2) }"
        )

    q["sparql_bind"] = sparql_bind

    def sparql_subselect(spark, sf):
        return _geo_store(spark, sf).query(
            "SELECT ?rn ?c { { SELECT ?r (COUNT(?s) AS ?c) { ?s ex:inRegion ?r } "
            "GROUP BY ?r } ?r ex:name ?rn }"
        )

    q["sparql_subselect"] = sparql_subselect

    def sparql_construct(spark, sf):
        return _geo_store(spark, sf).query(
            "CONSTRUCT { ?s ex:label ?n } WHERE { ?s a ex:Region ; ex:name ?n }"
        )

    q["sparql_construct"] = sparql_construct

    def sparql_ask(spark, sf):
        return _geo_store(spark, sf).query('ASK { ?s ex:name "ASIA" }')

    q["sparql_ask"] = sparql_ask

    def _quads_store(spark, sf):
        return _cached_store("quads", spark, sf, lambda: SparkR2RStore(
            spark, {"nation": _t(spark, sf, "nation")}, _quads_tmaps(),
            init_ns={"ex": EX},
        ))

    def sparql_graph_quads(spark, sf):
        store = _quads_store(spark, sf)
        # discriminating: ?s ?p ?o matches triples in BOTH named graphs, so
        # dropping GRAPH scoping doubles the rows (keys graph only -> 25)
        return store.query(
            f"SELECT ?s ?p ?o {{ GRAPH <{EX}g/keys> {{ ?s ?p ?o }} }}"
        )

    q["sparql_graph_quads"] = sparql_graph_quads

    def sparql_from_named(spark, sf):
        # FROM + FROM NAMED dataset clauses (SPARQL 1.1 13.2): FROM moves
        # g/names into the default graph (without it the ex:name pattern
        # matches nothing — every arm is graph-mapped); FROM NAMED
        # restricts GRAPH ?g to g/keys (without it ?g ranges over both
        # graphs and the row count doubles)
        store = _quads_store(spark, sf)
        return store.query(
            f"SELECT ?s ?n ?g FROM <{EX}g/names> FROM NAMED <{EX}g/keys> "
            "{ ?s ex:name ?n . GRAPH ?g { ?s ?p ?k } }"
        )

    q["sparql_from_named"] = sparql_from_named

    def sparql_closure(spark, sf):
        store = _cached_store("edges", spark, sf, lambda: SparkR2RStore(
            spark, {"events": _t(spark, sf, "events")}, _edges_tmaps(),
            init_ns={"ex": EX},
        ))
        return store.query("SELECT ?a ?b { ?a ex:anc+ ?b }")

    q["sparql_closure"] = sparql_closure

    # ---- BSBM suite through the SPARQL front end (reference's published
    # benchmark workload, docs/test-results/bsbm.md) ----
    from rdflib_r2r_spark import bsbm as bsbm_mod

    def _mk_bsbm(text):
        def fn(spark, sf):
            store = _cached_store(
                "bsbm", spark, sf,
                lambda: bsbm_mod.bsbm_store(
                    spark,
                    {t: _t(spark, sf, t) for t in bsbm_mod.BSBM_TABLES},
                ),
            )
            return store.query(text)

        return fn

    for _name, _text in bsbm_mod.QUERIES.items():
        q[_name] = _mk_bsbm(_text)

    # ---- TPC-H classics (bench headliners) ----
    def q_tpch_q1(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
                _dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("sum_disc_price"),
                _dsum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
                ).alias("sum_charge"),
                (_dsum(F.col("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    q["q_tpch_q1"] = q_tpch_q1

    def q_tpch_q3(spark, sf):
        c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
        li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
        j = c.join(o, c["c_custkey"] == o["o_custkey"]).join(
            li, o["o_orderkey"] == li["l_orderkey"]
        )
        g = j.groupBy("o_orderkey").agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue")
        )
        return g.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)

    q["q_tpch_q3"] = q_tpch_q3

    def q_tpch_q5(spark, sf):
        r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
        n = _t(spark, sf, "nation")
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        s = _t(spark, sf, "supplier")
        j = (
            r.join(n, r["r_regionkey"] == n["n_regionkey"])
            .join(c, n["n_nationkey"] == c["c_nationkey"])
            .join(o, c["c_custkey"] == o["o_custkey"])
            .join(li, o["o_orderkey"] == li["l_orderkey"])
            .join(
                s,
                (li["l_suppkey"] == s["s_suppkey"])
                & (s["s_nationkey"] == n["n_nationkey"]),
            )
        )
        return j.groupBy("n_name").agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue")
        )

    q["q_tpch_q5"] = q_tpch_q5

    # ---- training-data operators ----
    def dedup_exact(spark, sf):
        # prefix-64 dedup: the corpus has near-dups sharing long prefixes
        return dedup.exact_dup_groups(_t(spark, sf, "documents"), prefix=64)

    q["dedup_exact"] = dedup_exact

    def dedup_minhash_sig(spark, sf):
        return dedup.minhash_signatures(_t(spark, sf, "documents"))

    q["dedup_minhash_sig"] = dedup_minhash_sig

    def dedup_lsh_pairs(spark, sf):
        return dedup.lsh_dup_pairs(_t(spark, sf, "documents"))

    q["dedup_lsh_pairs"] = dedup_lsh_pairs

    def dedup_simhash(spark, sf):
        return dedup.simhash(_t(spark, sf, "documents"))

    q["dedup_simhash"] = dedup_simhash

    def dedup_ngram_jaccard(spark, sf):
        docs = _t(spark, sf, "documents")
        pairs = dedup.lsh_dup_pairs(docs).select("a", "b")
        return dedup.ngram_jaccard_pairs(docs, pairs)

    q["dedup_ngram_jaccard"] = dedup_ngram_jaccard

    def dedup_clusters(spark, sf):
        return dedup.dedup_clusters(_t(spark, sf, "documents"))

    q["dedup_clusters"] = dedup_clusters

    def q_text_stats(spark, sf):
        return textstats.text_stats(_t(spark, sf, "documents"))

    q["q_text_stats"] = q_text_stats

    def q_lang_id(spark, sf):
        return textstats.lang_id(_t(spark, sf, "documents"))

    q["q_lang_id"] = q_lang_id

    ANN_PROBES = [1, 7, 42]

    def ann_cosine_topk(spark, sf):
        return similarity.brute_force_topk(_t(spark, sf, "embeddings"), ANN_PROBES, k=5)

    q["ann_cosine_topk"] = ann_cosine_topk

    def ann_lsh_topk(spark, sf):
        return similarity.ann_lsh_topk(_t(spark, sf, "embeddings"), ANN_PROBES, k=5)

    q["ann_lsh_topk"] = ann_lsh_topk

    def ann_ivf_topk(spark, sf):
        return similarity.ann_ivf_topk(_t(spark, sf, "embeddings"), ANN_PROBES, k=5)

    q["ann_ivf_topk"] = ann_ivf_topk

    def mm_image_meta(spark, sf):
        docs = multimodal.attach_fake_images(_t(spark, sf, "documents"))
        return multimodal.decode_image_meta(docs)

    q["mm_image_meta"] = mm_image_meta

    def mm_audio_meta(spark, sf):
        docs = multimodal.attach_fake_audio(_t(spark, sf, "documents"))
        return multimodal.decode_audio_meta(docs)

    q["mm_audio_meta"] = mm_audio_meta

    def mm_frame_sample(spark, sf):
        docs = multimodal.attach_fake_images(_t(spark, sf, "documents"))
        return multimodal.frame_sample_stub(docs, every_n=10)

    q["mm_frame_sample"] = mm_frame_sample

    def dedup_embedding(spark, sf):
        return similarity.embedding_near_dup_pairs(
            # synthetic embeddings are near-orthogonal (max pairwise cosine
            # ~0.4): 0.3 keeps the oracle row DISCRIMINATING (~20 pairs at
            # sf0.01); real near-dup corpora run 0.9+
            _t(spark, sf, "embeddings"), threshold=0.3
        )

    q["dedup_embedding"] = dedup_embedding

    def q_rolling_fingerprint(spark, sf):
        return textstats.rolling_fingerprint(_t(spark, sf, "documents"))

    q["q_rolling_fingerprint"] = q_rolling_fingerprint

    def q_repetition(spark, sf):
        # Gopher-style repetition filter metrics (dup token/n-gram fractions,
        # top-2-gram share) — the quality rule a training mix drops spam on
        return textstats.repetition_stats(_t(spark, sf, "documents"))

    q["q_repetition"] = q_repetition

    def q_decontaminate(spark, sf):
        # benchmark decontamination: 3-gram overlap of every corpus doc
        # against a deterministic held-out "eval set" (doc_id % 25 == 0)
        docs = _t(spark, sf, "documents")
        bench = docs.filter(F.col("doc_id") % 25 == 0)
        return textstats.decontaminate(docs, bench)

    q["q_decontaminate"] = q_decontaminate

    def q_quality_filter(spark, sf):
        # composite Gopher/C4-style keep/drop gate with per-doc reason
        # string — the single decision column a curation pipeline writes
        return textstats.quality_filter(_t(spark, sf, "documents"))

    q["q_quality_filter"] = q_quality_filter

    def dedup_segments(spark, sf):
        # CCNet-style segment-level exact dedup: a segment is dropped when
        # its exact text occurs more than once anywhere in the corpus
        return dedup.segment_dedup(_t(spark, sf, "documents"))

    q["dedup_segments"] = dedup_segments

    def q_pii_scrub(spark, sf):
        # PII count + redaction over deterministically-injected synthetic
        # contact lines (the fixture corpus has none); v2 adds checksum-
        # gated card/IBAN/SSN arms with VALID (id % 2 == 0) and shape-
        # matched NEAR-MISS (odd id) literals — near-misses must never
        # count. Docs with id % 3 == 2 AND id % 7 != 0 AND id % 5 >= 3
        # stay clean so the scrub must NOT fire on them at all.
        docs = _t(spark, sf, "documents")
        withpii = docs.select(
            "doc_id",
            pii.synthetic_pii_col(F.col("text"), F.col("doc_id")).alias("text"),
        )
        return pii.pii_stats(withpii)

    q["q_pii_scrub"] = q_pii_scrub

    def q_mixture_sample(spark, sf):
        # deterministic stratified mixture sampling: per-language rates via
        # a pure md5-of-key threshold (stable under repartitioning; no RNG)
        from rdflib_r2r_spark.operators import sampling

        return sampling.mixture_sample(
            _t(spark, sf, "documents"), MIXTURE_RATES, default_rate=0.05
        )

    q["q_mixture_sample"] = q_mixture_sample

    def q_chunk_docs(spark, sf):
        # context-window chunking: sliding seq_len=32/stride=24 token
        # windows, one row per training-sequence piece
        return textstats.chunk_documents(_t(spark, sf, "documents"))

    q["q_chunk_docs"] = q_chunk_docs

    def q_tokenize(spark, sf):
        # real vocab-driven subword tokenization (committed BPE vocab,
        # greedy longest-match; distinct-word mapInArrow kernel — see
        # operators/tokenize.py): per-doc token count + first/last ids
        from rdflib_r2r_spark.operators import tokenize

        return tokenize.token_stats(_t(spark, sf, "documents"))

    q["q_tokenize"] = q_tokenize

    def q_chunk_tokens(spark, sf):
        # token-unit context-window chunking: sliding seq_len=32/stride=24
        # windows over REAL subword token ids (q_chunk_docs is the
        # regex-token variant)
        from rdflib_r2r_spark.operators import tokenize

        return tokenize.chunk_documents_tokens(_t(spark, sf, "documents"))

    q["q_chunk_tokens"] = q_chunk_tokens

    def q_mixture_tokens(spark, sf):
        # mixture freezing against PER-STRATUM TOKEN BUDGETS in real
        # subword-token units (deterministic priority sampling: ascending
        # md5-draw order until the stratum budget is crossed)
        from rdflib_r2r_spark.operators import sampling

        return sampling.mixture_sample_tokens(
            _t(spark, sf, "documents"), MIXTURE_TOKEN_BUDGETS,
            default_budget=500.0,
        )

    q["q_mixture_tokens"] = q_mixture_tokens

    def q_url_dedup(spark, sf):
        # canonical-URL dedup over deterministically-synthesized messy URLs
        # (scheme/host case, :80, tracking params, param order, fragments,
        # trailing slash — five raw variants collapse per resource)
        from rdflib_r2r_spark.operators import urls

        docs = _t(spark, sf, "documents").select(
            "doc_id", urls.synthetic_url_col(F.col("doc_id")).alias("url")
        )
        return urls.url_dedup(docs)

    q["q_url_dedup"] = q_url_dedup

    def q_perplexity(spark, sf):
        # CCNet-style perplexity filter: char-bigram LM trained on the
        # deterministic reference slice (doc_id % 5 == 0), every doc scored
        # in exact integer micro-bits so the hash matches DuckDB bit-for-bit
        from rdflib_r2r_spark.operators import lm

        return lm.lm_score(_t(spark, sf, "documents"))

    q["q_perplexity"] = q_perplexity

    def q_source_cap(spark, sf):
        # per-domain quota (domain balancing): top-20 docs per source by
        # (n_chars DESC, doc_id) via the two-stage salted top-k — the
        # skew-safe form of the single-window oracle.
        # widen=False (guide §2.4 "remove shuffles outright"): this query
        # reads only three narrow metadata columns and its first real
        # operator is a hash exchange on (source, salt), so the widen
        # round-robin exchange parallelizes nothing — it is pure overhead
        # here (measured +0.3s), while on well-split cluster inputs widen
        # is a no-op anyway, so skipping it matches cluster behavior.
        from rdflib_r2r_spark.operators import sampling

        return sampling.source_cap(_t(spark, sf, "documents", widen=False))

    q["q_source_cap"] = q_source_cap

    def q_tfidf_keywords(spark, sf):
        # rarest-term keyword extraction (idf order over distinct tokens):
        # top-5 per doc, comma-joined for a representation-stable hash
        return textstats.tfidf_keywords(_t(spark, sf, "documents"))

    q["q_tfidf_keywords"] = q_tfidf_keywords

    def q_corpus_stats(spark, sf):
        # one-row "dataset card" aggregate: doc/token/char volume, source
        # and language spread, largest single doc — all-integer columns
        return textstats.corpus_stats(_t(spark, sf, "documents"))

    q["q_corpus_stats"] = q_corpus_stats

    def q_snapshot_diff(spark, sf):
        # incremental crawl-refresh diff: old snapshot (doc_id % 2 == 0) vs
        # new (doc_id % 3 != 0) by normalized-text fingerprint; the one
        # FULL OUTER join shape in the operator suite
        docs = _t(spark, sf, "documents")
        return dedup.snapshot_diff(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 3 != 0),
        )

    q["q_snapshot_diff"] = q_snapshot_diff

    return q


# mixture-sampling targets for q_mixture_sample (es exercises the default)
MIXTURE_RATES = {"en": 0.9, "de": 0.5, "fr": 0.25, "zh": 0.1}
# token-budget mixture targets (q_mixture_tokens): per-stratum subword-token
# budgets sized so some strata saturate and some don't at sf0.01
MIXTURE_TOKEN_BUDGETS = {"en": 20000.0, "de": 4000.0, "fr": 1500.0, "zh": 300.0}


# --------------------------------------------------------------------------
# oracle_sql()
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["kg_dump_geo"] = mapping_to_duckdb_sql(geo_tmaps())

    o["kg_direct_mapping"] = mapping_to_duckdb_sql(
        _direct_tmaps(),
        column_types={"supplier": {"s_acctbal": "double"}},
    )

    o["kg_subject_lookup"] = (
        "SELECT * FROM (" + mapping_to_duckdb_sql([orders_tmap()]) + ") "
        f"WHERE subj = '<{EX}orders/{LOOKUP_ORDERKEY}>'"
    )

    o["kg_dump_pages"] = (
        "WITH pages AS (" + _docs_pages_sql() + ") "
        + mapping_to_duckdb_sql(
            pages_tmaps(), table_names={"pages": "pages"},
            column_types={"pages": {"warc_ts": "timestamp"}},
        )
    )

    toks = textstats.tokens_sql("text")
    alias_cte = f"""
WITH pages AS ({_docs_pages_sql()}),
tok AS (
  SELECT url, t.tok AS tok
  FROM pages, LATERAL unnest({toks}) AS t(tok)
  WHERE t.tok <> ''
),
counts AS (
  SELECT tok, count(*) AS cnt FROM tok WHERE length(tok) >= {men.MIN_ALIAS_LEN}
  GROUP BY tok
),
ranked AS (
  SELECT tok AS alias, CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT) AS entity_id,
         cnt, CAST(sum(cnt) OVER () AS DOUBLE) AS total
  FROM counts
),
adict AS (
  SELECT alias, entity_id, cnt / total AS prior FROM ranked WHERE entity_id <= {men.DEFAULT_DICT_SIZE}
)"""
    o["kg_alias_dict"] = alias_cte + "\nSELECT alias, entity_id, round(prior, 9) AS prior FROM adict"

    o["kg_mentions"] = alias_cte + """
SELECT DISTINCT '<' || tok.url || '>' AS subj,
       '<http://ex.org/mentions>' AS pred,
       '<http://ex.org/entity/' || CAST(adict.entity_id AS VARCHAR) || '>' AS obj,
       CAST(NULL AS VARCHAR) AS obj_dt,
       CAST(NULL AS VARCHAR) AS obj_lang,
       CAST(NULL AS VARCHAR) AS graph
FROM tok JOIN adict ON tok.tok = adict.alias
"""

    o["kg_chain_dump"] = mapping_to_duckdb_sql(chain_tmaps())

    geo_sql = mapping_to_duckdb_sql(geo_tmaps())
    o["q_path_seq"] = (
        "WITH dump AS (" + geo_sql + ") "
        "SELECT a.subj AS s, b.obj AS o FROM dump a JOIN dump b ON a.obj = b.subj "
        f"WHERE a.pred = '<{EX}inRegion>' AND b.pred = '<{EX}name>'"
    )
    o["q_path_alt_inv"] = (
        "WITH dump AS (" + geo_sql + ") "
        f"SELECT DISTINCT subj AS s, obj AS o FROM dump WHERE pred = '<{EX}name>' "
        f"UNION SELECT DISTINCT obj AS s, subj AS o FROM dump WHERE pred = '<{EX}inRegion>'"
    )
    o["q_transitive_closure"] = """
WITH RECURSIVE e AS (
  SELECT DISTINCT user_id AS src, user_id // 2 AS dst FROM events WHERE user_id > 0
),
r(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src
)
SELECT src, dst FROM r
"""

    o["q_filter_project"] = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE l_shipdate < '1996-06-01' AND l_quantity > 45
"""

    o["q_extend_bind"] = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue,
       l_quantity >= 25 AS bulk
FROM lineitem
"""

    o["q_join_inner"] = """
SELECT o_orderkey, c_name, o_orderstatus
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
"""

    o["q_left_join"] = """
SELECT c_custkey, c_name, CAST(count(o_orderkey) AS BIGINT) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""

    o["q_union_align"] = """
SELECT c_name AS name, c_acctbal AS acctbal FROM customer
UNION ALL
SELECT s_name AS name, CAST(NULL AS DOUBLE) AS acctbal FROM supplier
"""

    o["q_minus"] = """
SELECT c_custkey, c_name FROM customer
EXCEPT ALL
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""

    o["q_group_having"] = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity', 2)} AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1, 2 HAVING count(*) > 100
"""

    o["q_orderby_slice"] = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 5
"""

    o["q_distinct"] = "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"

    o["q_values_join"] = """
SELECT prio, prio_rank, CAST(count(*) AS BIGINT) AS n
FROM orders JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2)) AS v(prio, prio_rank)
  ON o_orderpriority = v.prio
GROUP BY prio, prio_rank
"""

    o["q_agg_suite"] = f"""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       {_dsum_sql('l_extendedprice', 2)} AS sum_price,
       {_dsum_sql('l_quantity', 2)} / count(*) AS avg_qty,
       CAST(min(l_shipdate) AS VARCHAR) AS first_ship,
       CAST(max(l_shipdate) AS VARCHAR) AS last_ship,
       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses
FROM lineitem GROUP BY l_returnflag
"""

    o["q_expr_suite"] = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_returnflag = 'R' THEN 'returned'
            WHEN l_returnflag = 'A' THEN 'accepted'
            ELSE 'other' END AS flag_name,
       l_linestatus IN ('O', 'F') AS status_known,
       (l_quantity * 2 + 1 - l_linenumber) / 4.0 AS arith,
       NOT (l_discount > 0.05) AS low_disc,
       l_shipdate IS NOT NULL AS bound_ship,
       coalesce(l_tax, 0.0) AS tax0,
       CAST(l_quantity AS INT) AS qty_int,
       CAST(l_quantity AS VARCHAR) AS qty_str,
       -l_discount AS neg_disc
FROM lineitem
"""

    o["q_regex"] = (
        "SELECT p_partkey, p_name FROM part WHERE regexp_matches(p_name, '(green|blue)')"
    )

    o["q_exists_semijoin"] = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
"""

    o["q_notexists_antijoin"] = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
"""

    o["q_subquery_topn"] = f"""
WITH spend AS (
  SELECT o_custkey, {_dsum_sql('o_totalprice', 2)} AS total_spend
  FROM orders GROUP BY o_custkey
)
SELECT c_nationkey, c_custkey, c_name, total_spend
FROM customer JOIN spend ON c_custkey = o_custkey
QUALIFY row_number() OVER (PARTITION BY c_nationkey ORDER BY total_spend DESC, c_custkey ASC) = 1
"""

    o["q_sqlf_functions"] = """
SELECT c_custkey, upper(c_name) AS uname,
       CAST(length(c_name) AS BIGINT) AS name_len,
       substring(c_name, 1, 5) AS name5, abs(c_acctbal) AS abs_bal
FROM customer
"""

    o["q_window_session"] = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id
"""

    o["q_json_extract"] = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events
"""

    # ---- SPARQL front-end twins: each oracle re-derives the same answer
    # from the raw tables (term vars are term-encoded strings; expression
    # vars are native-typed, mirroring the evaluator's output contract) ----
    nation_subj = f"'<{EX}nation/' || CAST(n_nationkey AS STRING) || '>'"
    region_subj = f"'<{EX}region/' || CAST(r_regionkey AS STRING) || '>'"

    o["sparql_star_filter"] = f"""
SELECT {nation_subj} AS s, n_name AS n, CAST(n_nationkey AS STRING) AS k
FROM nation WHERE n_nationkey >= 10
"""

    o["sparql_join_ref"] = """
SELECT n_name AS n, r_name AS rn FROM nation JOIN region ON n_regionkey = r_regionkey
"""

    o["sparql_const_subject"] = """
SELECT n_name AS n, CAST(n_nationkey AS STRING) AS k FROM nation WHERE n_nationkey = 7
"""

    o["sparql_optional"] = """
SELECT n_name AS n, CAST(n_nationkey AS STRING) AS k FROM nation
UNION ALL
SELECT r_name AS n, CAST(NULL AS STRING) AS k FROM region
"""

    o["sparql_union"] = """
SELECT n_name AS x FROM nation
UNION ALL SELECT r_name FROM region
UNION ALL SELECT CAST(n_nationkey AS STRING) FROM nation
"""

    o["sparql_minus"] = f"""
SELECT {region_subj} AS s, r_name AS n FROM region
"""

    o["sparql_agg_having"] = """
SELECT r_name AS rn, CAST(count(*) AS BIGINT) AS c
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name HAVING count(*) >= 5
"""

    o["sparql_orderby_slice"] = """
SELECT CAST(n_nationkey AS STRING) AS k, n_name AS n FROM nation
ORDER BY n_nationkey DESC LIMIT 10 OFFSET 5
"""

    o["sparql_distinct"] = """
SELECT DISTINCT r_name AS rn FROM nation JOIN region ON n_regionkey = r_regionkey
"""

    o["sparql_values_join"] = f"""
SELECT {region_subj} AS s, r_name AS rn FROM region WHERE r_name IN ('ASIA', 'EUROPE')
"""

    o["sparql_exists"] = f"""
SELECT {nation_subj} AS s, n_name AS n FROM nation
WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
"""

    o["sparql_path_seq"] = f"""
SELECT {nation_subj} AS s, r_name AS o
FROM nation JOIN region ON n_regionkey = r_regionkey
"""

    o["sparql_bind"] = f"""
SELECT {nation_subj} AS s, CAST(n_nationkey * 2 AS DOUBLE) AS nk2 FROM nation
"""

    # !(a|ex:inRegion) over the geo dump = every arm except rdf:type and the
    # referencing-object map: nation name + nationkey literals, region names
    o["sparql_path_negated"] = f"""
SELECT {nation_subj} AS s, n_name AS o FROM nation
UNION ALL
SELECT {nation_subj} AS s, CAST(n_nationkey AS STRING) AS o FROM nation
UNION ALL
SELECT {region_subj} AS s, r_name AS o FROM region
"""

    # GROUP_CONCAT renders sorted (engine-order-independent); SAMPLE is
    # pinned to MIN for determinism — string_agg(... ORDER BY) / min twins
    o["sparql_agg_gcsample"] = """
SELECT r_name AS rn,
       string_agg(n_name, '|' ORDER BY n_name) AS names,
       min(n_name) AS first
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    o["sparql_subselect"] = """
SELECT r_name AS rn, CAST(count(*) AS BIGINT) AS c
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    o["sparql_construct"] = f"""
SELECT DISTINCT {region_subj} AS subj, '<{EX}label>' AS pred, r_name AS obj,
       CAST(NULL AS STRING) AS obj_dt, CAST(NULL AS STRING) AS obj_lang,
       CAST(NULL AS STRING) AS graph
FROM region
"""

    o["sparql_ask"] = "SELECT count(*) > 0 AS found FROM region WHERE r_name = 'ASIA'"

    o["sparql_graph_quads"] = f"""
SELECT {nation_subj} AS s, '<{EX}nationkey>' AS p,
       CAST(n_nationkey AS STRING) AS o FROM nation
"""

    # FROM <g/names> puts the name triples in the default graph; GRAPH ?g
    # restricted by FROM NAMED <g/keys> matches only the nationkey arm
    o["sparql_from_named"] = f"""
SELECT {nation_subj} AS s, n_name AS n, '<{EX}g/keys>' AS g FROM nation
"""

    o["sparql_closure"] = f"""
WITH RECURSIVE e AS ({EDGES_SQL}),
r(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src
)
SELECT '<{EX}u/' || CAST(src AS STRING) || '>' AS a,
       '<{EX}u/' || CAST(dst AS STRING) || '>' AS b
FROM r
"""

    o["q_tpch_q1"] = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity', 2)} AS sum_qty,
       {_dsum_sql('l_extendedprice', 2)} AS sum_base_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {_dsum_sql('l_quantity', 2)} / count(*) AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    o["q_tpch_q3"] = f"""
SELECT o_orderkey, {_dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""

    o["q_tpch_q5"] = f"""
SELECT n_name, {_dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM region JOIN nation ON r_regionkey = n_regionkey
JOIN customer ON n_nationkey = c_nationkey
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""

    o["q_rollup"] = f"""
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       {_dsum_sql('l_quantity', 2)} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

    o["q_pivot_case"] = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority
"""

    o["q_percentile"] = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
FROM lineitem GROUP BY l_returnflag
"""

    o["q_datetime_funcs"] = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(day(o_orderdate) AS INT) AS d,
       CAST(isodow(o_orderdate) - 1 AS INT) AS wd,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
       strftime(o_orderdate, '%Y-%m') AS ym
FROM orders
"""

    o["q_string_funcs"] = """
SELECT c_custkey,
       trim(c_name) AS trimmed,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
       replace(c_name, '_', '-') AS dashed,
       CAST(strpos(c_name, '_') AS BIGINT) AS us_pos,
       reverse(c_mktsegment) AS rev_seg,
       c_mktsegment || '|' || c_name AS joined
FROM customer
"""

    o["q_sample_hash"] = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
"""

    o["kg_graph_quads"] = f"""
SELECT '<{EX}nation/' || {terms.iri_safe_sql('n_nationkey')} || '>' AS subj,
       '<{EX}name>' AS pred, n_name AS obj,
       CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang,
       '<{EX}g/names>' AS graph
FROM nation WHERE n_name IS NOT NULL
"""

    o["q_ask"] = """
SELECT count(*) > 0 AS found FROM (
  SELECT 1 FROM lineitem WHERE l_quantity > 49 AND l_returnflag = 'R' LIMIT 1
)
"""

    geo_sql2 = mapping_to_duckdb_sql(geo_tmaps())
    o["q_construct"] = (
        "WITH dump AS (" + geo_sql2 + ") "
        f"SELECT subj, '<{EX}label>' AS pred, upper(obj) AS obj "
        f"FROM dump WHERE pred = '<{EX}name>'"
    )

    o["dedup_exact"] = dedup.exact_dup_groups_sql(prefix=64)
    o["dedup_clusters"] = dedup.dedup_clusters_sql()
    o["dedup_ngram_jaccard"] = dedup.ngram_jaccard_sql()
    o["dedup_minhash_sig"] = dedup.minhash_signatures_sql()
    o["dedup_lsh_pairs"] = dedup.lsh_dup_pairs_sql()
    o["dedup_simhash"] = dedup.simhash_sql()
    o["q_text_stats"] = textstats.text_stats_sql()
    o["q_lang_id"] = textstats.lang_id_sql()
    o["ann_cosine_topk"] = similarity.brute_force_topk_sql([1, 7, 42], k=5)
    o["ann_lsh_topk"] = similarity.ann_lsh_topk_sql([1, 7, 42], k=5)
    o["ann_ivf_topk"] = similarity.ann_ivf_topk_sql([1, 7, 42], k=5)
    # real header decode (PNG IHDR / JPEG SOF / WAV RIFF) vs deterministic twins
    o["mm_image_meta"] = multimodal.image_meta_oracle_sql()
    o["mm_audio_meta"] = multimodal.audio_meta_oracle_sql()
    # frame counts derive from the deterministic fake image lengths
    o["mm_frame_sample"] = f"""
SELECT doc_id, CAST(unnest(range(0,
         CASE WHEN doc_id % 2 = 0 THEN {multimodal.PNG_LEN // 16}
              ELSE {multimodal.JPEG_LEN // 16} END, 10)) AS INT) AS frame_idx
FROM documents
"""
    o["dedup_embedding"] = similarity.embedding_near_dup_pairs_sql(threshold=0.3)
    o["q_rolling_fingerprint"] = textstats.rolling_fingerprint_sql()
    o["q_repetition"] = textstats.repetition_stats_sql()
    o["q_decontaminate"] = textstats.decontaminate_sql()
    o["q_quality_filter"] = textstats.quality_filter_sql()
    o["dedup_segments"] = dedup.segment_dedup_sql()
    o["q_pii_scrub"] = (
        f"WITH docs_pii AS (SELECT doc_id, {pii.synthetic_pii_sql()} AS text"
        f" FROM documents)\n" + pii.pii_stats_sql(table="docs_pii")
    )
    from rdflib_r2r_spark.operators import sampling as _sampling

    o["q_mixture_sample"] = _sampling.mixture_sample_sql(
        MIXTURE_RATES, default_rate=0.05
    )
    o["q_mixture_tokens"] = _sampling.mixture_sample_tokens_sql(
        MIXTURE_TOKEN_BUDGETS, default_budget=500.0
    )
    o["q_chunk_docs"] = textstats.chunk_documents_sql()

    from rdflib_r2r_spark.operators import tokenize as _tokenize

    o["q_tokenize"] = _tokenize.token_stats_sql()
    o["q_chunk_tokens"] = _tokenize.chunk_documents_tokens_sql()
    from rdflib_r2r_spark.operators import urls as _urls

    o["q_url_dedup"] = _urls.url_dedup_sql(url_expr=_urls.synthetic_url_sql())

    from rdflib_r2r_spark.operators import lm as _lm

    o["q_perplexity"] = _lm.lm_score_sql()
    o["q_source_cap"] = _sampling.source_cap_sql()
    o["q_tfidf_keywords"] = textstats.tfidf_keywords_sql()
    o["q_corpus_stats"] = textstats.corpus_stats_sql()
    o["q_snapshot_diff"] = dedup.snapshot_diff_sql()

    from rdflib_r2r_spark import bsbm as bsbm_mod

    o.update(bsbm_mod.ORACLES)
    return o


def _direct_tmaps():
    """Direct mapping over supplier/nation from their static schemas
    (TESTDATA.md is fixed), shared by query and oracle sides; needs no
    SparkSession."""
    from pyspark.sql import types as T

    schemas = {
        "supplier": T.StructType(
            [
                T.StructField("s_suppkey", T.LongType()),
                T.StructField("s_name", T.StringType()),
                T.StructField("s_nationkey", T.IntegerType()),
                T.StructField("s_acctbal", T.DoubleType()),
            ]
        ),
        "nation": T.StructType(
            [
                T.StructField("n_nationkey", T.IntegerType()),
                T.StructField("n_name", T.StringType()),
                T.StructField("n_regionkey", T.IntegerType()),
            ]
        ),
    }
    return direct_mapping(
        schemas,
        primary_keys={"supplier": ["s_suppkey"], "nation": ["n_nationkey"]},
        foreign_keys={"supplier": [(["s_nationkey"], "nation", ["n_nationkey"])]},
    )

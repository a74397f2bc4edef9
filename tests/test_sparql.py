"""SPARQL front-end tests: ports of the reference's SQL-converter SELECT
cases (reference: tests/test_sql_converter.py) re-asserted on RESULT SETS
over an inline Northwind-shaped fixture, plus parser/evaluator unit checks.

The reference asserts generated SQL text; this engine asserts the answers
(the SQL is Catalyst's concern), which also covers the semantics the
reference could only check by executing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdflib_r2r_spark.mapping import (
    JoinCondition,
    LogicalSource,
    PredicateObjectMap,
    SubjectMap,
    TermMap,
    TriplesMap,
    const_iri,
)
from rdflib_r2r_spark import terms
from rdflib_r2r_spark.sparql import SparkR2RStore, parse_query
from rdflib_r2r_spark.sparql.parser import SparqlNotImplemented, SparqlSyntaxError
from rdflib_r2r_spark.sparql.store import URI

DEMO = "http://localhost:8890/schemas/Demo/"
BASE = "http://localhost:8890/Demo/"
NS = {"Demo": DEMO}


def demo_tmaps() -> list[TriplesMap]:
    """Northwind-subset mapping shaped like the reference's fixture
    (reference: tests/northwind/NorthwindR2RML.ttl): Orders + Shippers with
    a referencing-object map Demo:shippers_of_orders joining
    ShipperID = ShipVia."""
    orders = TriplesMap(
        name="Orders",
        source=LogicalSource(table="Orders"),
        subject_map=SubjectMap(template=BASE + "orders/{OrderID}",
                               classes=(DEMO + "Orders",)),
        pomaps=(
            PredicateObjectMap(predicates=(const_iri(DEMO + "orderid"),),
                               objects=(TermMap(column="OrderID", datatype=terms.XSD_INTEGER),)),
            PredicateObjectMap(predicates=(const_iri(DEMO + "freight"),),
                               objects=(TermMap(column="Freight", datatype=terms.XSD_DOUBLE),)),
            PredicateObjectMap(predicates=(const_iri(DEMO + "shipcountry"),),
                               objects=(TermMap(column="ShipCountry"),)),
            PredicateObjectMap(predicates=(const_iri(DEMO + "shipcity"),),
                               objects=(TermMap(column="ShipCity"),)),
            PredicateObjectMap(predicates=(const_iri(DEMO + "orderdate"),),
                               objects=(TermMap(column="OrderDate"),)),
            PredicateObjectMap(predicates=(const_iri(DEMO + "shippeddate"),),
                               objects=(TermMap(column="ShippedDate"),)),
        ),
    )
    shippers = TriplesMap(
        name="Shippers",
        source=LogicalSource(table="Shippers"),
        subject_map=SubjectMap(template=BASE + "shippers/{ShipperID}",
                               classes=(DEMO + "Shippers",)),
        pomaps=(
            PredicateObjectMap(predicates=(const_iri(DEMO + "shipperid"),),
                               objects=(TermMap(column="ShipperID", datatype=terms.XSD_INTEGER),)),
            PredicateObjectMap(predicates=(const_iri(DEMO + "companyname"),),
                               objects=(TermMap(column="CompanyName"),)),
            PredicateObjectMap(
                predicates=(const_iri(DEMO + "shippers_of_orders"),),
                objects=(TermMap(parent_triples_map="Orders",
                                 join_conditions=(JoinCondition(child="ShipperID", parent="ShipVia"),)),),
            ),
        ),
    )
    return [orders, shippers]


@pytest.fixture(scope="module")
def store(spark):
    orders = spark.createDataFrame(
        [
            (1, 1, 3.50, "France", "Reims", "1996-07-04", "1996-07-16"),
            (2, 1, 11.61, "Germany", "Munster", "1996-07-05", "1996-07-10"),
            (3, 2, 65.83, "Brazil", "Rio", "1996-07-08", "1996-07-08"),
            (4, 2, 41.34, "France", "Lyon", "1996-07-08", None),
        ],
        "OrderID int, ShipVia int, Freight double, ShipCountry string, "
        "ShipCity string, OrderDate string, ShippedDate string",
    )
    shippers = spark.createDataFrame(
        [(1, "Speedy Express"), (2, "United Package")],
        "ShipperID int, CompanyName string",
    )
    return SparkR2RStore(
        spark, {"Orders": orders, "Shippers": shippers}, demo_tmaps(), init_ns=NS
    )


def rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


# -- ports of reference test_sql_converter.py SELECT cases -----------------------


def test_order_value_by_id(store):
    # reference: test_sql_converter.py:83
    df = store.query("select ?v { ?o a Demo:Orders; Demo:orderid 1; Demo:freight ?v}")
    # canonical xsd:double lexical (W3C TC0005a form)
    assert rows(df, "v") == {("3.5E0",)}


def test_concrete_order_value(store):
    # reference: test_sql_converter.py:87 — constant-subject inversion
    df = store.query(f"select ?v {{ <{BASE}orders/1> Demo:freight ?v}}")
    assert rows(df, "v") == {("3.5E0",)}


def test_concrete_order_concrete_value(store):
    # reference: test_sql_converter.py:91
    df = store.query(f"select (1 as ?k) {{ <{BASE}orders/1> Demo:freight 3.50}}")
    assert rows(df, "k") == {(1,)}


def test_look_up_by_value_without_class(store):
    # reference: test_sql_converter.py:95 — renders the subject IRI
    df = store.query("select ?o { ?o Demo:freight 3.50}")
    assert rows(df, "o") == {(f"<{BASE}orders/1>",)}


def test_look_up_by_value_and_return_props(store):
    # reference: test_sql_converter.py:105
    df = store.query("select ?sco ?sci { ?o Demo:freight 3.50; Demo:shipcountry ?sco; Demo:shipcity ?sci }")
    assert rows(df, "sco", "sci") == {("France", "Reims")}


def test_look_up_by_value_with_class(store):
    # reference: test_sql_converter.py:110
    df = store.query("select ?o { ?o a Demo:Orders; Demo:freight 3.50}")
    assert rows(df, "o") == {(f"<{BASE}orders/1>",)}


def test_shipped_same_day(store):
    # reference: test_sql_converter.py:115 — same var twice in one star
    df = store.query("select ?o { ?o a Demo:Orders; Demo:shippeddate ?d; Demo:orderdate ?d. }")
    assert rows(df, "o") == {(f"<{BASE}orders/3>",)}


def test_join(store):
    # reference: test_sql_converter.py:120 — ref-object map raw-key join
    df = store.query(
        "select ?shid ?fr { ?sh Demo:shipperid ?shid; Demo:shippers_of_orders ?o. ?o Demo:freight ?fr. }"
    )
    assert rows(df, "shid", "fr") == {
        ("1", "3.5E0"), ("1", "1.161E1"), ("2", "6.583E1"), ("2", "4.134E1"),
    }


def test_join_two_iris(store):
    # reference: test_sql_converter.py:126
    df = store.query("select ?sh ?o { ?sh Demo:shippers_of_orders ?o }")
    assert len(rows(df, "sh", "o")) == 4


def test_join_two_iris_second_const(store):
    # reference: test_sql_converter.py:132 — const object inverted on parent
    df = store.query(f"select ?sh {{ ?sh Demo:shippers_of_orders <{BASE}orders/1> }}")
    assert rows(df, "sh") == {(f"<{BASE}shippers/1>",)}


def test_join_with_where(store):
    # reference: test_sql_converter.py:138
    df = store.query(
        "select ?cn { ?sh Demo:companyname ?cn; Demo:shippers_of_orders ?o. "
        "?o Demo:shipcountry 'Brazil' }"
    )
    assert rows(df, "cn") == {("United Package",)}


def test_filter(store):
    # reference: test_sql_converter.py:144
    df = store.query("select ?o { ?o Demo:freight ?fr FILTER(?fr > 40) }")
    assert rows(df, "o") == {(f"<{BASE}orders/3>",), (f"<{BASE}orders/4>",)}


def test_union(store):
    # reference: test_sql_converter.py:149
    df = store.query(
        "select ?n { { ?s Demo:companyname ?n } UNION { ?s Demo:shipcity ?n } }"
    )
    assert len(df.collect()) == 6


def test_union3(store):
    # reference: test_sql_converter.py:157
    df = store.query(
        "select ?n { { ?s Demo:companyname ?n } UNION { ?s Demo:shipcity ?n } "
        "UNION { ?s Demo:shipcountry ?n } }"
    )
    assert len(df.collect()) == 10


def test_sparql_join_two_tables(store):
    # reference: test_sql_converter.py:191 — join through shared order var
    df = store.query(
        "select ?cn ?sco { ?sh Demo:companyname ?cn; Demo:shippers_of_orders ?o. "
        "?o Demo:shipcountry ?sco } ORDER BY ?cn ?sco"
    )
    assert rows(df, "cn", "sco") == {
        ("Speedy Express", "France"), ("Speedy Express", "Germany"),
        ("United Package", "Brazil"), ("United Package", "France"),
    }


def test_orderby_limit(store):
    # reference: test_sql_converter.py:206
    df = store.query("select ?fr { ?o Demo:freight ?fr } ORDER BY ?fr LIMIT 2")
    assert [r["fr"] for r in df.collect()] == ["3.5E0", "1.161E1"]


def test_orderby_desc_limit_offset(store):
    # reference: test_sql_converter.py:214
    df = store.query("select ?fr { ?o Demo:freight ?fr } ORDER BY DESC(?fr) LIMIT 2 OFFSET 1")
    assert [r["fr"] for r in df.collect()] == ["4.134E1", "1.161E1"]


def test_const_query(store):
    # reference: test_sql_converter.py:234
    df = store.query("select (1 as ?one) {}")
    assert rows(df, "one") == {(1,)}


def test_in_op(store):
    # reference: test_sql_converter.py:237
    df = store.query("select ?o { ?o Demo:shipcountry ?c FILTER(?c IN ('Brazil', 'Germany')) }")
    assert len(df.collect()) == 2


def test_aggregate_join_count(store):
    # reference: test_sql_converter.py:246 — aggregate over a ref join
    df = store.query(
        "select ?cn (COUNT(?o) AS ?n) { ?sh Demo:companyname ?cn; "
        "Demo:shippers_of_orders ?o } GROUP BY ?cn"
    )
    assert rows(df, "cn", "n") == {("Speedy Express", 2), ("United Package", 2)}


def test_aggregate_count_star(store):
    # reference: test_sql_converter.py:252
    df = store.query("select (COUNT(*) AS ?n) { ?o a Demo:Orders }")
    assert rows(df, "n") == {(4,)}


def test_regex(store):
    # reference: test_sql_converter.py:258 downgrades regex to LIKE; this
    # engine evaluates real regex via rlike (strictly more faithful)
    df = store.query("select ?o { ?o Demo:shipcity ?c FILTER(REGEX(?c, '^R')) }")
    assert len(df.collect()) == 2


def test_sql_func_escape_hatch(store):
    # reference: test_sql_converter.py:264 — sqlf: arbitrary-function escape
    df = store.query(
        "PREFIX sqlf: <http://schemas.openlinksw.com/sqlf#> "
        "select (sqlf:upper(?c) AS ?u) { ?o Demo:shipcity ?c . ?o Demo:orderid 3 }"
    )
    assert rows(df, "u") == {("RIO",)}


def test_if_case(store):
    # reference: test_sql_converter.py:382
    df = store.query(
        'select ?o (IF(?fr > 40, "big", "small") AS ?size) { ?o Demo:freight ?fr . ?o Demo:orderid 1 }'
    )
    assert rows(df, "size") == {("small",)}


def test_arithmetic(store):
    # reference: test_sql_converter.py:385-400
    df = store.query(
        "select (?fr * 2 + 1 AS ?x) { ?o Demo:orderid 1 ; Demo:freight ?fr }"
    )
    assert rows(df, "x") == {(8.0,)}


def test_optional(store):
    df = store.query(
        "select ?o ?sd { ?o a Demo:Orders OPTIONAL { ?o Demo:shippeddate ?sd } }"
    )
    got = dict(rows(df, "o", "sd"))
    assert got[f"<{BASE}orders/4>"] is None
    assert got[f"<{BASE}orders/3>"] == "1996-07-08"


def test_minus_and_not_exists(store):
    m = store.query("select ?o { ?o a Demo:Orders MINUS { ?o Demo:shippeddate ?d } }")
    ne = store.query("select ?o { ?o a Demo:Orders FILTER NOT EXISTS { ?o Demo:shippeddate ?d } }")
    assert rows(m, "o") == rows(ne, "o") == {(f"<{BASE}orders/4>",)}


def test_values(store):
    df = store.query(
        'select ?o ?c { ?o Demo:shipcountry ?c VALUES ?c { "Brazil" "Germany" } }'
    )
    assert len(df.collect()) == 2


def test_subselect(store):
    df = store.query(
        "select ?cn ?n { { select ?sh (COUNT(?o) AS ?n) { ?sh Demo:shippers_of_orders ?o } GROUP BY ?sh } "
        "?sh Demo:companyname ?cn }"
    )
    assert rows(df, "cn", "n") == {("Speedy Express", 2), ("United Package", 2)}


def test_property_path_seq(store):
    df = store.query("select ?sh ?c { ?sh Demo:shippers_of_orders/Demo:shipcountry ?c }")
    assert len(df.collect()) == 4


def test_var_predicate(store):
    df = store.query(f"select ?p ?v {{ <{BASE}shippers/1> ?p ?v }}")
    # rdf:type + shipperid + companyname + shippers_of_orders x 2 orders
    assert len(df.collect()) == 5


def test_ask(store):
    assert store.query('ASK { ?o Demo:shipcountry "Brazil" }').collect()[0]["found"] is True
    assert store.query('ASK { ?o Demo:shipcountry "Narnia" }').collect()[0]["found"] is False


def test_construct(store):
    df = store.query(
        "CONSTRUCT { ?o Demo:code ?c } WHERE { ?o Demo:shipcountry ?c }"
    )
    assert df.columns == ["subj", "pred", "obj", "obj_dt", "obj_lang", "graph"]
    assert df.count() == 4


def test_exec_typed_readback(store):
    got = list(store.exec("select ?o ?fr ?oid { ?o Demo:freight ?fr ; Demo:orderid ?oid }"))
    by_id = {r["oid"]: r for r in got}
    assert isinstance(by_id[1]["o"], URI) and by_id[1]["o"].endswith("orders/1")
    assert by_id[1]["fr"] == 3.5 and isinstance(by_id[1]["fr"], float)
    assert isinstance(by_id[1]["oid"], int)


def test_triples_pattern_scan(store):
    trips = list(store.triples((URI(BASE + "orders/1"), URI(DEMO + "freight"), None)))
    assert trips == [(URI(BASE + "orders/1"), URI(DEMO + "freight"), 3.5)]


def test_store_stats(store, spark):
    # the dump's statistics agree with DuckDB's over get_sql's text
    import duckdb

    con = duckdb.connect()
    o = store.tables["Orders"].toPandas()
    s = store.tables["Shippers"].toPandas()
    con.register("Orders", o)
    con.register("Shippers", s)
    sql = store.get_sql()
    exp = con.execute(
        f"SELECT count(*), count(DISTINCT subj), count(DISTINCT pred) FROM ({sql})"
    ).fetchone()
    dump = store.dump()
    assert (dump.count(), dump.select("subj").distinct().count(),
            dump.select("pred").distinct().count()) == exp


def test_get_sql_roundtrip(store, spark):
    # get_sql names the tables as the mapping does: its text runs over
    # views of those names
    for name, df in store.tables.items():
        df.createOrReplaceTempView(name)
    via_sql = spark.sql(store.get_sql())
    direct = store.dump()
    assert via_sql.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_sql).count() == 0


def test_not_implemented_dispatch(store):
    # A14: explicit not-implemented dispatch (the reference raises
    # SparqlNotImplementedError for unsupported constructs,
    # conversion_utils.py:35-36)
    with pytest.raises(SparqlNotImplemented):
        store.query("SELECT ?x { ?x Demo:freight ?y } GROUP BY (STR(?x))")
    with pytest.raises(SparqlSyntaxError):
        parse_query("SELECT ?x WHERE")


def test_describe(store):
    # DESCRIBE is a reference GAP (test_sql_converter.py:642-649 xfail);
    # this engine supports constants and WHERE-bound variables
    df = store.query(f"DESCRIBE <{BASE}orders/1>")
    got = rows(df, "subj", "pred")
    assert all(s == f"<{BASE}orders/1>" for s, _ in got)
    assert len(got) == 7  # type + 6 properties
    df2 = store.query("DESCRIBE ?o WHERE { ?o Demo:freight 3.50 }")
    assert rows(df2, "subj") == {(f"<{BASE}orders/1>",)}


def test_parser_terms():
    q = parse_query(
        'PREFIX ex: <http://e/> SELECT ?x { ?x ex:p "lit"@en ; ex:q "5"^^<http://www.w3.org/2001/XMLSchema#integer> }'
    )
    (s1, p1, o1), (s2, p2, o2) = q.where.triples
    assert o1.language == "en"
    assert o2.datatype.endswith("integer")


def test_min_max_over_terms(store):
    # MIN/MAX aggregate the TERM: numeric terms order numerically, string
    # terms lexically — both through the orderable-struct encoding
    df = store.query(
        "select (MIN(?fr) AS ?lo) (MAX(?fr) AS ?hi) (MIN(?c) AS ?c0) "
        "{ ?o Demo:freight ?fr ; Demo:shipcountry ?c }"
    )
    r = df.collect()[0]
    assert r["lo"] == "3.5E0" and r["hi"] == "6.583E1" and r["c0"] == "Brazil"


def test_ttl_mapping_document_to_sparql(spark):
    """The complete reference user path: a real R2RML mapping DOCUMENT
    (Turtle text) + a SPARQL string -> results (reference: R2RStore(db,
    mapping_graph) + graph.query(...))."""
    from rdflib_r2r_spark.ttl import mapping_from_ttl

    ttl = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix ex: <http://example.com/> .
    @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

    <#OrdersMap>
        a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "Orders" ];
        rr:subjectMap [ rr:template "http://example.com/orders/{OrderID}";
                        rr:class ex:Order ];
        rr:predicateObjectMap [
            rr:predicate ex:freight;
            rr:objectMap [ rr:column "Freight"; rr:datatype xsd:double ]
        ];
        rr:predicateObjectMap [
            rr:predicate ex:country;
            rr:objectMap [ rr:column "ShipCountry" ]
        ] .
    """
    orders = spark.createDataFrame(
        [(1, 3.5, "France"), (2, 11.61, "Germany"), (3, 65.83, "Brazil")],
        "OrderID int, Freight double, ShipCountry string",
    )
    tmaps = mapping_from_ttl(ttl)
    store = SparkR2RStore(spark, {"Orders": orders}, tmaps,
                          init_ns={"ex": "http://example.com/"})
    df = store.query(
        "SELECT ?o ?c { ?o a ex:Order ; ex:freight ?f ; ex:country ?c FILTER(?f > 10) }"
    )
    assert rows(df, "o", "c") == {
        ("<http://example.com/orders/2>", "Germany"),
        ("<http://example.com/orders/3>", "Brazil"),
    }


def test_init_bindings(store):
    # reference: r2r_store.py:62-75 initBindings -> VALUES injection
    df = store.query("select ?o ?c { ?o Demo:shipcountry ?c }",
                     init_bindings={"c": "France"})
    assert len(df.collect()) == 2
    df2 = store.query("select ?o { ?o Demo:orderid ?i }", init_bindings={"i": 3})
    assert rows(df2, "o") == {(f"<{BASE}orders/3>",)}


# -- SPARQL unbound-compatibility semantics (round-3 advisor fixes) ---------------


def test_values_undef_is_wildcard(store):
    # UNDEF in VALUES is an unbound binding: compatible with every solution
    # for that variable, not "match NULL" (SPARQL 10.2 / compatibility)
    df = store.query(
        """select ?o ?c { ?o Demo:shipcountry ?c .
           VALUES (?c) { ("France") (UNDEF) } }"""
    )
    # France rows match the France row; UNDEF row matches ALL 4 orders
    assert len(df.collect()) == 2 + 4


def test_adjacent_values_intersect(store):
    # two adjacent VALUES clauses join like any other patterns: the result
    # binds the intersection of the two inline tables (the reference xfails
    # this, test_sql_converter.py:642-649 — superset behavior here)
    df = store.query(
        """select ?o ?c { VALUES ?c { 'France' 'Brazil' }
           VALUES ?c { 'France' 'Germany' }
           ?o Demo:shipcountry ?c }"""
    )
    got = rows(df, "o", "c")
    assert got == {(f"<{BASE}orders/1>", "France"), (f"<{BASE}orders/4>", "France")}


def test_values_undef_two_cols(store):
    df = store.query(
        """select ?o ?c ?sci { ?o Demo:shipcountry ?c ; Demo:shipcity ?sci .
           VALUES (?c ?sci) { ("Brazil" UNDEF) (UNDEF "Reims") } }"""
    )
    got = rows(df, "c", "sci")
    assert got == {("Brazil", "Rio"), ("France", "Reims")}


def test_optional_unbound_join_is_compatible(store):
    # A solution with an OPTIONAL-unbound shared var must still join with a
    # later pattern that binds it (unbound matches anything), adopting the
    # bound value.  Order 4 has no shippeddate.
    df = store.query(
        """select ?o ?d { { ?o a Demo:Orders OPTIONAL { ?o Demo:shippeddate ?d } }
           { ?x Demo:orderdate ?d } }"""
    )
    got = rows(df, "o", "d")
    # order 4's unbound ?d joins every orderdate value (4 dates, 3 distinct)
    o4 = {t for t in got if t[0] == f"<{BASE}orders/4>"}
    assert {d for _, d in o4} == {"1996-07-04", "1996-07-05", "1996-07-08"}
    # bound rows only survive when shippeddate equals some orderdate:
    # 1996-07-08 (order 3) is both a shippeddate and an orderdate
    bound = {t for t in got if t[0] != f"<{BASE}orders/4>"}
    assert bound == {(f"<{BASE}orders/3>", "1996-07-08")}


def test_minus_with_unbound_shared_var(store):
    # MINUS removes a solution only if a compatible right solution shares at
    # least one BOUND variable; an all-unbound overlap removes nothing
    df = store.query(
        """select ?o { ?o a Demo:Orders
           MINUS { ?o Demo:shipcountry "France" } }"""
    )
    assert rows(df, "o") == {(f"<{BASE}orders/2>",), (f"<{BASE}orders/3>",)}


def test_describe_constant_only_describes_named(store):
    # DESCRIBE <iri> WHERE {...} must NOT fall back to describing every
    # WHERE-bound variable (advisor finding)
    df = store.query(
        f"DESCRIBE <{BASE}orders/1> WHERE {{ ?o Demo:shipcountry 'France' }}"
    )
    subj = {r["subj"] for r in df.collect()}
    assert subj == {f"<{BASE}orders/1>"}


def test_construct_empty_template(store):
    df = store.query("CONSTRUCT { } WHERE { ?o Demo:shipcountry ?c }")
    assert df.count() == 0
    assert "subj" in df.columns and "obj_lang" in df.columns


def test_exists_with_optional_unbound(store):
    # EXISTS over a maybe-unbound var: unbound outer solutions are compatible
    # with any inner binding, so order 4 (no shippeddate) passes too
    df = store.query(
        """select ?o { ?o a Demo:Orders OPTIONAL { ?o Demo:shippeddate ?d }
           FILTER EXISTS { ?x Demo:orderdate ?d } }"""
    )
    got = rows(df, "o")
    # orders 1/2 shippeddates (07-16, 07-10) are NOT orderdates -> fail;
    # order 3 shipped 07-08 which IS an orderdate; order 4 unbound -> passes
    assert got == {(f"<{BASE}orders/3>",), (f"<{BASE}orders/4>",)}


def test_exists_with_inner_optional_unbound(store):
    # round-3 advice: inner.maybe_null must relax the correlation too — an
    # OPTIONAL inside EXISTS can leave the shared var unbound on the INNER
    # side, and that unbound inner solution is compatible with every outer
    # binding, so EVERY order passes
    df = store.query(
        """select ?o { ?o a Demo:Orders; Demo:shippeddate ?d
           FILTER EXISTS { ?x a Demo:Orders OPTIONAL { ?x Demo:nosuchprop ?d } } }"""
    )
    assert df.count() == 3  # all orders with a shippeddate (4 has NULL)


def test_exists_oracle_is_discriminating(store):
    # round-3 verdict #6: the EXISTS witness must change the answer.  The
    # same pattern without the FILTER returns strictly more rows, so an
    # engine that ignored EXISTS entirely could not hash-match the oracle.
    with_exists = store.query(
        """select ?o { ?o Demo:shipcountry ?c
           FILTER EXISTS { ?o Demo:shippeddate ?d } }"""
    )
    without = store.query("select ?o { ?o Demo:shipcountry ?c }")
    n_with, n_without = with_exists.count(), without.count()
    assert n_with == 3 and n_without == 4  # order 4 has NULL shippeddate


@pytest.fixture(scope="module")
def typed_vs_plain(spark):
    # x:p gives "1"^^xsd:integer for <http://x/1>, x:q the plain "1"
    return _store_over(
        spark, [(1, 1, "1"), (2, 2, "3")], "id bigint, n bigint, s string",
        [_tmap("http://x/{id}",
               ("http://x/p", TermMap(column="n", datatype=terms.XSD_INTEGER)),
               ("http://x/q", TermMap(column="s")))])


def test_minus_compares_terms_not_lexicals(typed_vs_plain):
    # "1"^^xsd:integer and "1" are different terms (SPARQL 1.1 18.5), so
    # no x:q solution is compatible with an x:p one and MINUS removes none
    df = typed_vs_plain.query(
        "SELECT ?s ?o { ?s <http://x/p> ?o MINUS { ?s <http://x/q> ?o } }")
    assert rows(df, "s") == {("<http://x/1>",), ("<http://x/2>",)}
    joined = typed_vs_plain.query("SELECT ?s { ?s <http://x/p> ?o . ?s <http://x/q> ?o }")
    assert joined.count() == 0


def test_not_exists_compares_terms_not_lexicals(typed_vs_plain):
    df = typed_vs_plain.query(
        "SELECT ?s ?o { ?s <http://x/p> ?o FILTER NOT EXISTS { ?s <http://x/q> ?o } }")
    assert rows(df, "s") == {("<http://x/1>",), ("<http://x/2>",)}
    df = typed_vs_plain.query(
        "SELECT ?s ?o { ?s <http://x/p> ?o FILTER EXISTS { ?s <http://x/q> ?o } }")
    assert df.count() == 0


def test_not_exists_over_an_optional_var(store):
    # an unbound outer ?d is compatible with every inner solution, so the
    # NOT EXISTS removes order 4 (no shippeddate) along with order 3, whose
    # shippeddate is an orderdate
    df = store.query(
        """select ?o { ?o a Demo:Orders OPTIONAL { ?o Demo:shippeddate ?d }
           FILTER NOT EXISTS { ?x Demo:orderdate ?d } }"""
    )
    assert rows(df, "o") == {(f"<{BASE}orders/1>",), (f"<{BASE}orders/2>",)}


def test_uncorrelated_exists_runs_no_job_to_compile(spark, store):
    # an EXISTS that shares no variable is a subquery of the query's one
    # statement: building the DataFrame runs no Spark job, and the answer
    # is every outer solution or none
    sc = spark.sparkContext
    group = "uncorrelated-exists-compile"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        found = store.query("select ?o { ?o a Demo:Orders "
                            "FILTER EXISTS { ?s Demo:shipperid 2 } }")
        missing = store.query("select ?o { ?o a Demo:Orders "
                              "FILTER NOT EXISTS { ?s Demo:shipperid 2 } }")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert rows(found, "o") == {(f"<{BASE}orders/{i}>",) for i in range(1, 5)}
    assert missing.count() == 0


# -- negated property sets (SPARQL 1.1 9.1 — beyond the reference's
# Seq/Alt/Inv coverage, sql_converter.py:208-229) ---------------------------


def test_negated_property_set(store):
    df = store.query(
        "select ?v { <%sshippers/1> !(a|Demo:shipperid|Demo:shippers_of_orders) ?v }"
        % BASE
    )
    assert rows(df, "v") == {("Speedy Express",)}


def test_negated_property_set_bare(store):
    # single-member form without parentheses
    df = store.query(f"select ?v {{ <{BASE}orders/1> !Demo:orderid ?v }}")
    # type + freight + shipcountry + shipcity + orderdate + shippeddate
    assert df.count() == 6


def test_negated_property_set_inverse(store):
    # all-inverse set == ^!(a): subjects reachable backwards from orders/1
    # via any predicate except rdf:type = the 6 object values of orders/1
    df = store.query(f"select ?s {{ ?s !(^a) <{BASE}orders/1> }}")
    assert df.count() == 6


def test_negated_property_set_mixed(store):
    # mixed = union of the forward branch (companyname + 2 ref-object
    # triples) and the inverse branch (nothing points AT shippers/1)
    df = store.query(
        f"select ?v {{ <{BASE}shippers/1> !(a|Demo:shipperid|^a) ?v }}"
    )
    assert df.count() == 3


# -- GROUP_CONCAT / SAMPLE aggregates ---------------------------------------


def test_group_concat_and_sample(store):
    df = store.query(
        "select ?sh (GROUP_CONCAT(?c; SEPARATOR=\",\") AS ?cs) "
        "(SAMPLE(?c) AS ?any) "
        "{ ?sh Demo:shippers_of_orders/Demo:shipcountry ?c } GROUP BY ?sh"
    )
    got = rows(df, "sh", "cs", "any")
    assert got == {
        (f"<{BASE}shippers/1>", "France,Germany", "France"),
        (f"<{BASE}shippers/2>", "Brazil,France", "Brazil"),
    }


def test_group_concat_distinct_global_group(store):
    df = store.query(
        "select (GROUP_CONCAT(DISTINCT ?c; SEPARATOR=\";\") AS ?cs) "
        "{ ?o Demo:shipcountry ?c }"
    )
    assert rows(df, "cs") == {("Brazil;France;Germany",)}


def test_negset_inside_sequence_resolves(store):
    # !(...) composes with / : resolve_paths passes NegSet through as an
    # atomic predicate and the evaluator's NPS pattern handles it — the
    # fused form must equal the explicit two-triple formulation
    fused = store.query(
        f"select ?o {{ <{BASE}shippers/1> Demo:shippers_of_orders/!(a|Demo:orderid) ?o }}"
    )
    split = store.query(
        f"select ?o {{ <{BASE}shippers/1> Demo:shippers_of_orders ?m . "
        "?m !(a|Demo:orderid) ?o }"
    )
    got_f = sorted(r["o"] for r in fused.collect())
    got_s = sorted(r["o"] for r in split.collect())
    assert got_f == got_s and len(got_f) > 0


def test_construct_where_shorthand(store):
    # SPARQL 1.1 10.2.2: CONSTRUCT WHERE { triples } == CONSTRUCT with the
    # same triples as both template and pattern
    short = store.query(
        "construct where { ?s Demo:shipcountry ?c }"
    )
    full = store.query(
        "construct { ?s Demo:shipcountry ?c } where { ?s Demo:shipcountry ?c }"
    )
    got_s = {tuple(r) for r in short.collect()}
    got_f = {tuple(r) for r in full.collect()}
    assert got_s == got_f and len(got_s) == 4


def test_construct_where_rejects_path_template():
    # SPARQL 1.1 10.2.2: the shorthand template is a TriplesTemplate —
    # property paths are not allowed as predicates (they would fail
    # obscurely at eval time otherwise)
    from rdflib_r2r_spark.sparql.parser import SparqlSyntaxError, parse_query as _pq

    for q in [
        "PREFIX ex: <http://e/> CONSTRUCT WHERE { ?s ex:a/ex:b ?o }",
        "PREFIX ex: <http://e/> CONSTRUCT WHERE { ?s ex:a|ex:b ?o }",
        "PREFIX ex: <http://e/> CONSTRUCT WHERE { ?s ^ex:a ?o }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            _pq(q)
    # plain IRI and variable predicates stay legal
    _pq("PREFIX ex: <http://e/> CONSTRUCT WHERE { ?s ex:a ?o }")
    _pq("CONSTRUCT WHERE { ?s ?p ?o }")


def test_construct_full_form_dataset_position():
    # grammar: CONSTRUCT ConstructTemplate DatasetClause* WHERE ... — a
    # dataset clause BEFORE the template is a syntax error; after, legal
    from rdflib_r2r_spark.sparql.ast_nodes import ConstructQuery
    from rdflib_r2r_spark.sparql.parser import SparqlSyntaxError, parse_query as _pq

    q = _pq(
        "PREFIX ex: <http://e/> CONSTRUCT { ?s ex:a ?o } FROM ex:g "
        "WHERE { ?s ex:a ?o }"
    )
    assert isinstance(q, ConstructQuery) and q.dataset is not None
    with pytest.raises(SparqlSyntaxError):
        _pq(
            "PREFIX ex: <http://e/> CONSTRUCT FROM ex:g { ?s ex:a ?o } "
            "WHERE { ?s ex:a ?o }"
        )


# -- template-term equality must be sound for any mapping ---------------------

_X = "http://x/"


def _class_tmap(name, subject, *pomaps):
    return TriplesMap(
        name=name, source=LogicalSource(table=name),
        subject_map=SubjectMap(template=_X + subject, classes=(_X + "C",)),
        pomaps=tuple(PredicateObjectMap(predicates=(const_iri(_X + p),),
                                        objects=(TermMap(column=c),))
                     for p, c in pomaps),
    )


@pytest.mark.parametrize("tables, tmaps, query, expected", [
    pytest.param(
        # (1,23) and (12,3) both render <http://x/123>
        {"T": ("a int, b int", [(1, 23), (12, 3)])},
        [_class_tmap("T", "{a}{b}")],
        "SELECT (COUNT(DISTINCT ?s) AS ?n) { ?s a <http://x/C> }",
        [(1,)], id="adjacent-integral-slots"),
    pytest.param(
        # different skeletons, one IRI: http://x/{a} (a=12) = http://x/1{b} (b=2)
        {"A": ("a int, x int", [(12, 5)]), "B": ("b int, y int", [(2, 6)])},
        [_class_tmap("A", "{a}", ("p", "x")), _class_tmap("B", "1{b}", ("q", "y"))],
        "SELECT ?s { ?s <http://x/p> ?x . ?s <http://x/q> ?y }",
        [("<http://x/12>",)], id="skeletons-collide"),
    pytest.param(
        # "1"^^xsd:integer and the plain literal "1" are different terms
        {"A": ("a int, v int", [(1, 1)]), "B": ("b int, w string", [(2, "1")])},
        [_class_tmap("A", "a{a}", ("p", "v")), _class_tmap("B", "b{b}", ("q", "w"))],
        "SELECT ?s ?t { ?s <http://x/p> ?o . ?t <http://x/q> ?o }",
        [], id="typed-vs-plain-literal"),
])
def test_template_term_equality_is_sound(spark, tables, tmaps, query, expected):
    dfs = {name: spark.createDataFrame(rows, schema)
           for name, (schema, rows) in tables.items()}
    got = SparkR2RStore(spark, dfs, tmaps).query(query).collect()
    assert sorted(tuple(r) for r in got) == expected


# -- FROM / FROM NAMED dataset clauses (SPARQL 1.1 13.2) --------------------


@pytest.fixture(scope="module")
def quads_store(spark):
    import __spark_entry__ as E

    return SparkR2RStore(
        spark,
        {"nation": spark.read.parquet("/root/testdata/sf0.001/nation.parquet")},
        E._quads_tmaps(),
        init_ns={"ex": "http://ex.org/"},
    )


def test_from_moves_named_graph_into_default(quads_store):
    # without FROM the default graph has no triples (every arm is
    # graph-mapped); FROM <g/names> makes that graph the default
    assert quads_store.query(
        "select ?s ?n { ?s ex:name ?n }").count() == 0
    assert quads_store.query(
        "select ?s ?n from <http://ex.org/g/names> { ?s ex:name ?n }"
    ).count() == 25


def test_from_merges_graphs_dump_path(quads_store):
    # variable predicate -> dump-scan path; two FROM clauses merge both
    # named graphs into the default graph
    df = quads_store.query(
        "select ?s ?p ?o from <http://ex.org/g/names> "
        "from <http://ex.org/g/keys> { ?s ?p ?o }"
    )
    assert df.count() == 50


def test_from_named_restricts_graph_var(quads_store):
    # GRAPH ?g ranges over the FROM NAMED list only
    both = quads_store.query(
        "select ?g ?s { graph ?g { ?s ?p ?o } }")
    assert both.count() == 50
    only = quads_store.query(
        "select ?g ?s from named <http://ex.org/g/keys> "
        "{ graph ?g { ?s ?p ?o } }")
    rows = only.collect()
    assert len(rows) == 25
    assert {r["g"] for r in rows} == {"<http://ex.org/g/keys>"}


def test_from_named_excludes_unlisted_graph_iri(quads_store):
    # a GRAPH <iri> outside the FROM NAMED list matches nothing; and under
    # any dataset clause the store-default graph is replaced (FROM absent
    # -> empty default graph)
    assert quads_store.query(
        "select ?s from named <http://ex.org/g/keys> "
        "{ graph <http://ex.org/g/names> { ?s ?p ?o } }"
    ).count() == 0
    assert quads_store.query(
        "select ?s from named <http://ex.org/g/keys> { ?s ex:name ?o }"
    ).count() == 0


# -- parser robustness (hypothesis) -----------------------------------------


def test_parser_fuzz_structured():
    """Property: over a generated family of structurally-valid queries the
    parser always returns an AST; over mutated (truncated/garbled) inputs
    it raises ONLY SparqlSyntaxError / SparqlNotImplemented — never an
    unrelated exception type (IndexError, KeyError, ...)."""
    from hypothesis import given, settings, strategies as st

    from rdflib_r2r_spark.sparql.parser import (
        SparqlNotImplemented, SparqlSyntaxError, parse_query,
    )

    ns = {"ex": "http://ex.org/"}
    vars_ = st.sampled_from(["?s", "?p", "?o", "?x"])
    preds = st.sampled_from(["ex:name", "a", "?p", "ex:a/ex:b", "!(ex:a)",
                             "ex:a+", "^ex:b"])
    objs = st.sampled_from(["?o", '"lit"', "42", "ex:thing", '"x"@en'])

    @st.composite
    def query(draw):
        s, p, o = draw(vars_), draw(preds), draw(objs)
        parts = [f"{s} {p} {o}"]
        if draw(st.booleans()):
            parts.append(f"OPTIONAL {{ {s} ex:opt ?y }}")
        if draw(st.booleans()):
            parts.append(f"FILTER({draw(vars_)} != 3)")
        if draw(st.booleans()):
            parts.append('VALUES ?v { "a" "b" }')
        body = " . ".join(parts)
        head = draw(st.sampled_from(
            ["SELECT *", "SELECT ?s", "ASK", "CONSTRUCT WHERE",
             f"SELECT ?s FROM <{ns['ex']}g>"]))
        if head == "CONSTRUCT WHERE":
            return f"CONSTRUCT WHERE {{ {s} ex:name {draw(objs)} }}"
        return f"{head} {{ {body} }}"

    @given(query(), st.integers(min_value=0, max_value=120))
    @settings(max_examples=300, deadline=None)
    def check(q, cut):
        try:
            parse_query(q, init_ns=ns)
        except (SparqlSyntaxError, SparqlNotImplemented):
            pass
        # truncation must also fail cleanly (or parse, for lucky cuts)
        try:
            parse_query(q[:cut], init_ns=ns)
        except (SparqlSyntaxError, SparqlNotImplemented):
            pass

    check()


def test_describe_honors_from_clause(quads_store):
    # DESCRIBE pulls description triples from the query's default graph
    # (13.2): FROM <g/names> restricts to the name triple only
    all_triples = quads_store.query("describe <http://ex.org/nation/1>")
    assert all_triples.count() == 2  # name + nationkey (no dataset clause)
    only_names = quads_store.query(
        "describe <http://ex.org/nation/1> from <http://ex.org/g/names>"
    )
    rows = only_names.collect()
    assert len(rows) == 1
    assert rows[0]["pred"] == "<http://ex.org/name>"


def test_bsbm_compile_captures_no_call_site(spark, monkeypatch):
    """The session turns off PySpark's per-call DataFrame call-site capture:
    compiling a BSBM query walks no Python stack for error context."""
    import pyspark.errors.utils as perr

    from rdflib_r2r_spark import bsbm

    calls = []
    real = perr._capture_call_site
    # re-read the session conf instead of a value cached by earlier calls
    monkeypatch.setattr(perr, "_enable_debugging_cache", None)
    monkeypatch.setattr(perr, "_capture_call_site",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    store = bsbm.bsbm_store(spark, {t: spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
                                    for t in bsbm.BSBM_TABLES})
    store.query(bsbm.QUERIES["bsbm_bi1"])
    assert calls == []


BSBM_MIX = ("bsbm_bi1", "bsbm_bi2", "bsbm_bi3", "bsbm_bi4",
            "bsbm_bi5", "bsbm_bi7", "bsbm_explore1", "bsbm_explore5")


def test_bsbm_compile_budget(spark, monkeypatch):
    """Compiling the 8 BSBM shapes through one store is a few coarse calls:
    the py4j round trips stay under a pinned ceiling, each query is ONE
    spark.sql statement, each rr:sqlQuery source is analyzed once per
    store, and the only temp views are one per table, registered during the
    first query under names no table has."""
    import py4j.clientserver as cs
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from rdflib_r2r_spark import bsbm

    store = bsbm.bsbm_store(spark, {t: spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
                                    for t in bsbm.BSBM_TABLES})
    sent, texts, views = [0], [], []
    query_no = [0]
    real_send = cs.ClientServerConnection.send_command
    real_sql = SparkSession.sql
    real_view = ClassicDataFrame.createOrReplaceTempView

    def send(self, command, *a, **k):
        # py4j's releases of Python-side proxies ("m" commands) follow the
        # garbage collector's timing; every other command is compile work
        sent[0] += not command.startswith("m\n")
        return real_send(self, command, *a, **k)

    def sql(self, text, *a, **k):
        texts.append((query_no[0], text))
        return real_sql(self, text, *a, **k)

    def view(self, name):
        views.append((query_no[0], name))
        return real_view(self, name)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", send)
    monkeypatch.setattr(SparkSession, "sql", sql)
    monkeypatch.setattr(ClassicDataFrame, "createOrReplaceTempView", view)
    for name in BSBM_MIX:
        store.query(bsbm.QUERIES[name])
        query_no[0] += 1
    # measured 282 at sf0.001, plus 20%
    assert sent[0] < 339, sent[0]
    source_texts = {"SELECT * FROM " + store.compiler.source_sql(tm.source)
                    for tm in bsbm.bsbm_tmaps() if tm.source.sql_query is not None}
    for text in source_texts:
        assert [t for _, t in texts].count(text) == 1, text
    statements = [q for q, t in texts if t not in source_texts]
    assert statements == list(range(len(BSBM_MIX))), statements
    assert views and {q for q, _ in views} == {0}, views
    assert len(views) <= len(bsbm.BSBM_TABLES), views
    assert not {n.lower() for _, n in views} & set(bsbm.BSBM_TABLES), views


def test_warm_bsbm_request_is_one_statement(spark, monkeypatch):
    """Once a store has built its sources, a BSBM request is one spark.sql
    statement and at most 3 DataFrames: Spark analyzes the query once, not
    once per operator."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    import __spark_entry__ as entry
    from rdflib_r2r_spark import bsbm

    store = bsbm.bsbm_store(spark, {t: spark.read.parquet(f"{entry.SF1}/{t}.parquet")
                                    for t in bsbm.BSBM_TABLES})
    for name in BSBM_MIX:
        store.query(bsbm.QUERIES[name])
    store._plan_cache.clear()
    statements, frames = [0], [0]
    real_sql, real_init = SparkSession.sql, ClassicDataFrame.__init__

    def sql(self, *a, **k):
        statements[0] += 1
        return real_sql(self, *a, **k)

    def init(self, *a, **k):
        frames[0] += 1
        return real_init(self, *a, **k)

    monkeypatch.setattr(SparkSession, "sql", sql)
    monkeypatch.setattr(ClassicDataFrame, "__init__", init)
    for name in BSBM_MIX:
        statements[0] = frames[0] = 0
        store.query(bsbm.QUERIES[name])
        assert statements[0] == 1 and frames[0] <= 3, (name, statements[0], frames[0])


def test_sql_query_reads_the_tables_it_names_in_any_spelling(spark):
    """An rr:sqlQuery source aliases only the tables it names, matched as
    identifiers: upper case and double quotes still read the store's
    table, not a session view of the same name."""
    spark.createDataFrame([(9, "view")], "id int, v string").createOrReplaceTempView("t")
    try:
        for text in ("SELECT id, v FROM T", 'SELECT "id", "v" FROM "t"',
                     "SELECT x.id, x.v FROM (SELECT * FROM T) AS x"):
            tmaps = [TriplesMap(
                name="q", source=LogicalSource(sql_query=text),
                subject_map=SubjectMap(template="http://x/{id}"),
                pomaps=(PredicateObjectMap(predicates=(const_iri("http://x/p"),),
                                           objects=(TermMap(column="v"),)),),
            )]
            store = SparkR2RStore(
                spark, {"t": spark.createDataFrame([(1, "a")], "id int, v string")}, tmaps)
            got = store.query("SELECT ?s ?v { ?s <http://x/p> ?v }")
            assert rows(got, "s", "v") == {("<http://x/1>", "a")}, text
    finally:
        spark.catalog.dropTempView("t")


def test_store_leaves_the_session_namespace_alone(spark):
    """A store reads its tables through temp views private to it: a user's
    view named like a mapping table stays the user's, and two stores over
    different tables of one name, read by an rr:sqlQuery, each answer from
    their own table."""
    from rdflib_r2r_spark import bsbm

    spark.createDataFrame([("mine",)], "who string").createOrReplaceTempView("part")
    try:
        store = bsbm.bsbm_store(spark, {
            t: spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
            for t in bsbm.BSBM_TABLES})
        store.query(bsbm.QUERIES["bsbm_bi1"]).collect()
        assert [tuple(r) for r in spark.table("part").collect()] == [("mine",)]
    finally:
        spark.catalog.dropTempView("part")

    tmaps = [TriplesMap(
        name="q", source=LogicalSource(sql_query='SELECT "id", "v" FROM "t"'),
        subject_map=SubjectMap(template="http://x/{id}"),
        pomaps=(PredicateObjectMap(predicates=(const_iri("http://x/p"),),
                                   objects=(TermMap(column="v"),)),),
    )]
    one, two = (SparkR2RStore(spark, {"t": spark.createDataFrame([row], "id int, v string")},
                              tmaps)
                for row in ((1, "a"), (2, "b")))
    query = "SELECT ?s ?v { ?s <http://x/p> ?v }"
    for store, want in ((one, ("<http://x/1>", "a")), (two, ("<http://x/2>", "b")),
                        (one, ("<http://x/1>", "a"))):
        assert rows(store.query(query), "s", "v") == {want}
        assert rows(store.dump(), "subj", "obj") == {want}


def _store_over(spark, rows: list[tuple], schema: str, tmaps) -> SparkR2RStore:
    return SparkR2RStore(spark, {"t": spark.createDataFrame(rows, schema)}, tmaps)


def _tmap(subject: str, *poms: tuple[str, TermMap], name: str = "t") -> TriplesMap:
    return TriplesMap(
        name=name, source=LogicalSource(table=name),
        subject_map=SubjectMap(template=subject),
        pomaps=tuple(PredicateObjectMap(predicates=(const_iri(p),), objects=(o,))
                     for p, o in poms),
    )


def test_constant_through_non_injective_template_keeps_every_split(spark):
    # http://x/{a}{b} renders (1,23) and (12,3) alike: a greedy split of the
    # constant (a="123", b="") would find neither row
    store = _store_over(spark, [(1, 23, 7), (12, 3, 8)], "a int, b int, v int",
                        [_tmap("http://x/{a}{b}", ("http://x/p", TermMap(column="v")))])
    df = store.query("SELECT ?v { <http://x/123> <http://x/p> ?v }")
    assert rows(df, "v") == {("7",), ("8",)}
    # an injective two-slot render splits by the decimal alphabet: the
    # greedy split of 1--2 (a="1-") has no integer, the right one is b=-2
    store = _store_over(spark, [(1, -2, 7), (1, 2, 8)], "a int, b int, v int",
                        [_tmap("http://x/{a}-{b}", ("http://x/p", TermMap(column="v")))])
    assert rows(store.query("SELECT ?v { <http://x/1--2> <http://x/p> ?v }"), "v") == {("7",)}
    # a non-canonical decimal renders no row's IRI
    assert store.query("SELECT ?v { <http://x/1-02> <http://x/p> ?v }").count() == 0


def test_constant_literal_checks_datatype_and_language(spark):
    store = _store_over(
        spark, [(1, 7, "7")], "id int, n int, s string",
        [_tmap("http://x/{id}",
               ("http://x/p", TermMap(column="n", datatype=terms.XSD_INTEGER)),
               ("http://x/q", TermMap(column="s")))])

    def subjects(pattern: str) -> set:
        return rows(store.query(f"SELECT ?s {{ ?s {pattern} }}"), "s")

    assert subjects('<http://x/p> "7"') == set()  # a string is not an integer
    assert subjects("<http://x/p> 7") == {("<http://x/1>",)}
    assert subjects('<http://x/q> "7"') == {("<http://x/1>",)}
    assert subjects('<http://x/q> "7"@en') == set()  # tagged vs plain column


def test_dollar_brace_in_template_renders_as_written(spark):
    # Spark substitutes ${...} anywhere in SQL text; the renders keep `$`
    # out of it, so the IRI comes out as the template wrote it
    store = _store_over(spark, [(1, "a")], "id int, v string",
                        [_tmap("http://x/$\\{env:HOME\\}/{id}",
                               ("http://x/p", TermMap(column="v")))])
    iri = "<http://x/${env:HOME}/1>"
    assert rows(store.query("SELECT ?s { ?s <http://x/p> ?v }"), "s") == {(iri,)}
    assert {r["subj"] for r in store.dump().collect()} == {iri}


def test_plan_text_does_not_depend_on_hash_seed():
    # the evaluator walks variables in sorted order, so two processes with
    # different string-hash seeds build the same plan
    import os
    import re
    import subprocess
    import sys

    script = (
        "from rdflib_r2r_spark import bsbm\n"
        "from rdflib_r2r_spark.session import get_spark\n"
        "spark = get_spark('hashseed')\n"
        "store = bsbm.bsbm_store(spark, {t: spark.read.parquet("
        "f'/root/testdata/sf0.001/{t}.parquet') for t in bsbm.BSBM_TABLES})\n"
        "df = store.query(bsbm.QUERIES['bsbm_bi2'])\n"
        "print(df._jdf.queryExecution().toString())\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans = []
    for seed in ("1", "2"):
        out = subprocess.run(
            [sys.executable, "-c", script], cwd=root, capture_output=True, text=True,
            env={**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": root},
            timeout=600, check=True).stdout
        plans.append(re.sub(r"#\d+L?|plan_id=\d+", "", out))
    assert plans[0] == plans[1]


# -- a star's alternative arms fold into one scan, answering as the dump ----


def _dump_terms(tables: dict, tmaps) -> list[tuple]:
    """The mapping's triples from its DuckDB dump, each term (lex, dt, lang)."""
    import duckdb

    from rdflib_r2r_spark.oracle import mapping_to_duckdb_sql

    con = duckdb.connect()
    for name, (schema, data) in tables.items():
        cols = [c.split() for c in schema.split(",")]
        con.execute(f'CREATE TABLE "{name}" ('
                    + ", ".join(f'"{c}" {t.replace("string", "VARCHAR")}' for c, t in cols)
                    + ")")
        con.executemany(f'INSERT INTO "{name}" VALUES ({", ".join("?" * len(cols))})', data)
    return [((s, None, None), (p, None, None), (o, dt, lang))
            for s, p, o, dt, lang, _g in con.execute(mapping_to_duckdb_sql(tmaps)).fetchall()]


def _match(triples: list[tuple], patterns: list[tuple], names: list[str]) -> list[tuple]:
    """A BGP's solutions over the triples by nested loops (RDF term
    equality), projected to the variables' lexicals."""
    def bind(sol: dict, t: str, term: tuple) -> bool:
        if t.startswith("?"):
            return sol.setdefault(t, term) == term
        return term == (f"<{_X}{t}>", None, None)

    sols: list[dict] = [{}]
    for pattern in patterns:
        matched = []
        for sol in sols:
            for triple in triples:
                b = dict(sol)
                if all(bind(b, t, term) for t, term in zip(pattern, triple)):
                    matched.append(b)
        sols = matched
    return sorted(tuple(sol["?" + n][0] for n in names) for sol in sols)


_INT_OR_STR_IRI = {
    # ex:f{a} with a=1 and ex:f{s} with s='1' render one IRI; s='01' is
    # another IRI, though it casts to the integer 1
    "T": ("id int, a int, s string", [(1, 1, "1"), (2, 2, "x"), (3, None, "3"), (4, 9, "01")]),
    "U": ("k int, b int", [(10, 1), (11, 3), (12, 9)]),
}
_IRI_OR_LITERAL = {
    "T": ("id int, a int, s string", [(1, 1, "a"), (2, 5, "b"), (3, None, None)]),
    "U": ("k int, b int, t string", [(10, 1, "a"), (11, 7, "b"), (12, 5, None)]),
    "R": ("id int, name string", [(1, "one"), (5, "five"), (9, "nine")]),
}
_NULL_ALTS = {
    "T": ("id int, a int, b int", [(1, 1, None), (2, None, 2), (3, None, None), (4, 4, 4)]),
    "U": ("k int, c int", [(10, 1), (11, 2), (12, 4), (13, 3)]),
}
_INT = terms.XSD_INTEGER


def _iri(template: str) -> TermMap:
    return TermMap(template=_X + template, term_type="IRI")


@pytest.mark.parametrize("tables, tmaps, patterns, names, folded", [
    pytest.param(
        _INT_OR_STR_IRI,
        [_tmap(_X + "t{id}", (_X + "f", _iri("f{a}")), (_X + "f", _iri("f{s}")), name="T"),
         _tmap(_X + "u{k}", (_X + "g", _iri("f{b}")), name="U")],
        [("?x", "f", "?o"), ("?y", "g", "?o")], ["x", "o", "y"], True,
        id="int-and-string-slot-render-one-iri"),
    pytest.param(
        _IRI_OR_LITERAL,
        [_tmap(_X + "t{id}", (_X + "v", _iri("f{a}")), (_X + "v", TermMap(column="s")),
               name="T"),
         _tmap(_X + "u{k}", (_X + "w", TermMap(column="t")), (_X + "w", _iri("f{b}")),
               name="U")],
        [("?x", "v", "?o"), ("?y", "w", "?o")], ["x", "o", "y"], True,
        id="iri-and-literal-alternatives"),
    pytest.param(
        # ?o is a subject too, so the literal alternative is dropped
        _IRI_OR_LITERAL,
        [_tmap(_X + "t{id}", (_X + "v", _iri("f{a}")), (_X + "v", TermMap(column="s")),
               name="T"),
         _tmap(_X + "f{id}", (_X + "name", TermMap(column="name")), name="R")],
        [("?x", "v", "?o"), ("?o", "name", "?n")], ["x", "o", "n"], False,
        id="literal-alternative-cannot-be-a-subject"),
    pytest.param(
        _NULL_ALTS,
        [_tmap(_X + "t{id}", (_X + "p", TermMap(column="a", datatype=_INT)),
               (_X + "p", TermMap(column="b", datatype=_INT)), name="T"),
         _tmap(_X + "u{k}", (_X + "q", TermMap(column="c", datatype=_INT)), name="U")],
        [("?x", "p", "?o"), ("?y", "q", "?o")], ["x", "o", "y"], True,
        id="alternative-null-on-some-rows"),
    pytest.param(
        _NULL_ALTS,
        [_tmap(_X + "t{id}", (_X + "p", TermMap(column="a", datatype=_INT)),
               (_X + "p", TermMap(column="b", datatype=_INT)), name="T")],
        [("?x", "p", "?o"), ("?x", "p", "?o2")], ["x", "o", "o2"], True,
        id="two-folded-patterns-in-one-star"),
])
def test_folded_alternatives_answer_as_the_dump(spark, tables, tmaps, patterns, names,
                                                folded):
    """A pattern whose arms share a triples map is one scan of its star,
    its alternatives unrolled per row: each answer equals the BGP matched
    over the mapping's DuckDB dump, so alternatives with different renders
    compare their terms, not their raw values, and a NULL alternative
    yields no triple on its row.  An alternative that can never agree
    with another occurrence of its variable is dropped before the fold, and
    one left alone is a plain arm (``folded`` False)."""
    store = SparkR2RStore(spark, {name: spark.createDataFrame(data, schema)
                                  for name, (schema, data) in tables.items()}, tmaps)
    where = " . ".join(" ".join(t if t.startswith("?") else f"<{_X}{t}>" for t in pattern)
                       for pattern in patterns)
    df = store.query(f"SELECT {' '.join('?' + n for n in names)} {{ {where} }}")
    got = sorted(tuple(r[n] for n in names) for r in df.collect())
    assert got == _match(_dump_terms(tables, tmaps), patterns, names)
    assert got, "the case must have answers"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert ("Generate inline" in plan) == folded


def test_group_bgps_merge_within_the_assignment_bound(spark, monkeypatch):
    """A FILTER splits a group into BGPs that compile as one; a merge that
    would exceed the BGP compiler's assignment bound leaves them apart,
    with the same answers."""
    from rdflib_r2r_spark.sparql import evaluator
    from rdflib_r2r_spark.sparql.bgp import BGPCompiler

    tables = {"A": ("id int, v string", [(1, "a"), (2, "b")]),
              "B": ("id int, v string", [(1, "a"), (3, "c")])}
    tmaps = [_tmap(_X + name.lower() + "{id}", (_X + "p", TermMap(column="v")), name=name)
             for name in tables]
    query = f"SELECT ?x ?y {{ ?x <{_X}p> ?o . FILTER(true) ?y <{_X}p> ?o }}"
    sizes, real = [], BGPCompiler.compile
    monkeypatch.setattr(BGPCompiler, "compile", lambda self, patterns, *a, **k: (
        sizes.append(len(patterns)) or real(self, patterns, *a, **k)))
    answers = []
    # merged, the two patterns have 2 x 2 assignments
    for bound, want in ((evaluator.MAX_ASSIGNMENTS, [2]), (3, [1, 1])):
        monkeypatch.setattr(evaluator, "MAX_ASSIGNMENTS", bound)
        sizes.clear()
        store = SparkR2RStore(spark, {name: spark.createDataFrame(data, schema)
                                      for name, (schema, data) in tables.items()}, tmaps)
        answers.append(rows(store.query(query), "x", "y"))
        assert sizes == want
    assert answers[0] == answers[1] == {
        (f"<{_X}a1>", f"<{_X}a1>"), (f"<{_X}a1>", f"<{_X}b1>"),
        (f"<{_X}b1>", f"<{_X}a1>"), (f"<{_X}b1>", f"<{_X}b1>"),
        (f"<{_X}a2>", f"<{_X}a2>"), (f"<{_X}b3>", f"<{_X}b3>")}

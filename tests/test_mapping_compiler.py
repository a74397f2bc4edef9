"""Compiler correctness: Spark dump vs DuckDB oracle on in-test Northwind-ish
fixtures (FIXTURES.md F2), covering template subjects, composite templates,
constants, typed literals, language tags, blank nodes, classes,
referencing-object maps, sqlQuery sources, graph maps, and NULL guards.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

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
from rdflib_r2r_spark.oracle import mapping_to_duckdb_sql
from rdflib_r2r_spark.sparql.bgp import BGPCompiler

D = "http://localhost:8890/Demo/"

ORDERS = pd.DataFrame(
    {
        "OrderID": [1, 2, 3],
        "CustomerID": ["ALFKI", "BONAP", None],
        "ShipVia": [1, 2, 1],
        "Freight": [10, 20, 30],
        "ShipCity": ["Reims", "M nster", None],
    }
)
SHIPPERS = pd.DataFrame(
    {"ShipperID": [1, 2], "CompanyName": ["Speedy Express", "United Package"], "Phone": ["(503) 555-9831", None]}
)


def northwind_maps():
    orders = TriplesMap(
        name="orders",
        source=LogicalSource(table="Orders"),
        subject_map=SubjectMap(template=D + "orders/{OrderID}", classes=(D + "Order",)),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(D + "orderid"),),
                objects=(TermMap(column="OrderID", datatype=terms.XSD_INTEGER),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(D + "customerid"),),
                objects=(TermMap(column="CustomerID"),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(D + "city"),),
                objects=(TermMap(column="ShipCity", language="en"),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(D + "shippedby"),),
                objects=(
                    TermMap(
                        parent_triples_map="shippers",
                        join_conditions=(JoinCondition(child="ShipVia", parent="ShipperID"),),
                    ),
                ),
            ),
        ),
    )
    shippers = TriplesMap(
        name="shippers",
        source=LogicalSource(table="Shippers"),
        subject_map=SubjectMap(template=D + "shippers/{ShipperID}", classes=(D + "Shipper",)),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(D + "companyname"),),
                objects=(TermMap(column="CompanyName"),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(D + "phone"),),
                objects=(TermMap(column="Phone"),),
            ),
        ),
    )
    return [orders, shippers]


def run_both(spark, tmaps, tables):
    comp = SparkMappingCompiler(
        spark,
        {name: spark.createDataFrame(pdf) for name, pdf in tables.items()},
    )
    got = BGPCompiler(tmaps, comp).dump().toPandas()
    con = duckdb.connect()
    for name, pdf in tables.items():
        con.register(name, pdf)
    sql = mapping_to_duckdb_sql(tmaps)
    want = con.execute(sql).fetchdf()
    return got, want


def as_sorted_tuples(df):
    return sorted(
        tuple(None if pd.isna(v) else v for v in row)
        for row in df[["subj", "pred", "obj", "obj_dt", "obj_lang", "graph"]].itertuples(index=False)
    )


def test_northwind_dump_matches_oracle(spark):
    got, want = run_both(spark, northwind_maps(), {"Orders": ORDERS, "Shippers": SHIPPERS})
    assert as_sorted_tuples(got) == as_sorted_tuples(want)
    # NULL guard: order 3 has NULL CustomerID and ShipCity -> no such triples
    assert not any("orders/3" in s and p.endswith(("customerid>", "city>")) for s, p, *_ in as_sorted_tuples(got))
    # join arm present
    assert any(p == f"<{D}shippedby>" and o == f"<{D}shippers/1>" for _, p, o, *_ in as_sorted_tuples(got))
    # language tag present
    assert any(lang == "en" for *_x, lang, _g in [r[:5] + (r[5],) for r in as_sorted_tuples(got)])


def test_blank_node_and_sql_query_source(spark):
    likes = pd.DataFrame({"id": [1, 2], "likeType": ["dog", "cat"], "likedObj": ["Rex", "Tom"]})
    tmap = TriplesMap(
        name="likes",
        source=LogicalSource(sql_query='SELECT id, likeType, likedObj FROM LIKES WHERE id <= 2'),
        subject_map=SubjectMap(template="{id};{likeType}", term_type="BlankNode"),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(D + "likes"),),
                objects=(TermMap(column="likedObj"),),
            ),
        ),
    )
    comp = SparkMappingCompiler(spark, {"LIKES": spark.createDataFrame(likes)})
    got = BGPCompiler([tmap], comp).dump().toPandas()
    con = duckdb.connect()
    con.register("LIKES", likes)
    want = con.execute(mapping_to_duckdb_sql([tmap])).fetchdf()
    assert as_sorted_tuples(got) == as_sorted_tuples(want)
    assert all(s.startswith("_:") for s in got["subj"])


def test_direct_mapping_generator(spark):
    dept = pd.DataFrame({"deptno": [10, 20], "dname": ["APPSERVER", "RESEARCH"], "loc": ["NYC", "BOS"]})
    emp = pd.DataFrame({"empno": [7369], "ename": ["SMITH"], "deptno": [10]})
    sdep = spark.createDataFrame(dept)
    semp = spark.createDataFrame(emp)
    tmaps = direct_mapping(
        {"DEPT": sdep.schema, "EMP": semp.schema},
        primary_keys={"DEPT": ["deptno"], "EMP": ["empno"]},
        foreign_keys={"EMP": [(["deptno"], "DEPT", ["deptno"])]},
    )
    comp = SparkMappingCompiler(spark, {"DEPT": sdep, "EMP": semp})
    got = BGPCompiler(tmaps, comp).dump().toPandas()
    con = duckdb.connect()
    con.register("DEPT", dept)
    con.register("EMP", emp)
    want = con.execute(mapping_to_duckdb_sql(tmaps)).fetchdf()
    assert as_sorted_tuples(got) == as_sorted_tuples(want)
    subj = "<http://example.com/base/EMP/empno=7369>"
    rows = {(r[1], r[2]) for r in as_sorted_tuples(got) if r[0] == subj}
    assert ("<http://example.com/base/EMP#ref-deptno>", "<http://example.com/base/DEPT/deptno=10>") in rows
    assert ("<http://example.com/base/EMP#ename>", "SMITH") in rows


def test_graph_map(spark):
    t = pd.DataFrame({"k": [1]})
    tmap = TriplesMap(
        name="g",
        source=LogicalSource(table="t"),
        subject_map=SubjectMap(template="http://ex/s/{k}"),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri("http://ex/p"),),
                objects=(TermMap(column="k", datatype=terms.XSD_INTEGER),),
                graphs=(const_iri("http://ex/g1"),),
            ),
        ),
    )
    comp = SparkMappingCompiler(spark, {"t": spark.createDataFrame(t)})
    got = BGPCompiler([tmap], comp).dump().toPandas()
    assert list(got["graph"]) == ["<http://ex/g1>"]


def test_binary_column_hexbinary_roundtrip(spark):
    # reference r2r_store.py:130-134: binary DB values surface as base-16
    # xsd:hexBinary literals; make_node decodes them back to bytes
    import pyspark.sql.types as T

    from rdflib_r2r_spark.sparql.store import SparkR2RStore, make_node

    payload = bytes([0, 1, 0xAB, 0xFF])
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("blob", T.BinaryType()),
    ])
    df = spark.createDataFrame([(1, payload)], schema)
    tmaps = direct_mapping({"BIN": df.schema}, primary_keys={"BIN": ["k"]})
    store = SparkR2RStore(spark, {"BIN": df}, tmaps)
    trips = [
        (p, o) for s, p, o in store.triples()
        if str(p).endswith("#blob")
    ]
    assert len(trips) == 1
    assert trips[0][1] == payload  # decoded back to the original bytes
    # and the lexical form is uppercase base-16 with the hexBinary datatype
    row = [
        r for r in store.dump().collect() if r["pred"].endswith("#blob>")
    ][0]
    assert row["obj"] == "0001ABFF".upper() == "0001ABFF"
    assert row["obj_dt"] == terms.XSD_HEXBINARY
    assert make_node(row["obj"], row["obj_dt"], None) == payload

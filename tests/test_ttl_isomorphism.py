"""W3C RDB2RDF-style conformance tests (FIXTURES.md F3): TTL mapping files
parsed, compiled on Spark, checked against the DuckDB oracle AND via
blank-node-label-independent isomorphism (the reference's assertion —
old_tests/test_rdb2rdf.py:155-184)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from rdflib_r2r_spark.compiler import SparkMappingCompiler
from rdflib_r2r_spark.isomorphism import canonicalize, graph_diff, isomorphic
from rdflib_r2r_spark.oracle import mapping_to_duckdb_sql
from rdflib_r2r_spark.sparql.bgp import BGPCompiler
from rdflib_r2r_spark.ttl import mapping_from_ttl, parse_ttl_with_base

# -- D009/D014-style: FK ref-object map, sqlQuery source, bnode subjects ----

EMP_TTL = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/ns#> .

<#TriplesMap1> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "DEPT" ];
    rr:subjectMap [ rr:template "http://example.com/dept/{deptno}"; rr:class ex:Dept ];
    rr:predicateObjectMap [ rr:predicate ex:dname; rr:objectMap [ rr:column "dname" ] ];
    rr:predicateObjectMap [ rr:predicate ex:loc;
        rr:objectMap [ rr:column "loc"; rr:language "en" ] ] .

<#TriplesMap2> a rr:TriplesMap;
    rr:logicalTable [ rr:sqlQuery "SELECT empno, ename, deptno FROM EMP WHERE job = 'CLERK'" ];
    rr:subjectMap [ rr:template "http://example.com/emp/{empno}" ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "ename" ] ];
    rr:predicateObjectMap [
        rr:predicate ex:dept;
        rr:objectMap [ rr:parentTriplesMap <#TriplesMap1>;
                       rr:joinCondition [ rr:child "deptno"; rr:parent "deptno" ] ] ] .

<#TriplesMapLikes> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "LIKES" ];
    rr:subjectMap [ rr:template "{id}"; rr:termType rr:BlankNode ];
    rr:predicateObjectMap [ rr:predicate ex:likeType; rr:objectMap [ rr:column "likeType" ] ];
    rr:predicateObjectMap [ rr:predicate ex:likedObj; rr:objectMap [ rr:column "likedObj" ] ] .
"""

DEPT = pd.DataFrame({"deptno": [10, 20], "dname": ["APPSERVER", "RESEARCH"], "loc": ["NYC", None]})
EMP = pd.DataFrame(
    {"empno": [7369, 7400], "ename": ["SMITH", "JONES"], "job": ["CLERK", "BOSS"], "deptno": [10, 20]}
)
LIKES = pd.DataFrame({"id": [1, 2], "likeType": ["dog", "cat"], "likedObj": ["Rex", "Tom"]})


def test_parse_ttl_basics():
    triples, prefixes, _base = parse_ttl_with_base(EMP_TTL)
    assert prefixes["rr"] == "http://www.w3.org/ns/r2rml#"
    tmaps = mapping_from_ttl(EMP_TTL)
    assert len(tmaps) == 3
    by_name = {t.name: t for t in tmaps}
    t2 = by_name["#TriplesMap2"]
    assert t2.source.sql_query.startswith("SELECT empno")
    ref = [o for pom in t2.pomaps for o in pom.objects if o.parent_triples_map]
    assert ref and ref[0].join_conditions[0].child == "deptno"
    t1 = by_name["#TriplesMap1"]
    assert t1.subject_map.classes == ("http://example.com/ns#Dept",)
    langs = [o.language for pom in t1.pomaps for o in pom.objects]
    assert "en" in langs
    likes = by_name["#TriplesMapLikes"]
    assert likes.subject_map.term_type == "BlankNode"


def _compile_both(spark, ttl, tables):
    tmaps = mapping_from_ttl(ttl)
    comp = SparkMappingCompiler(spark, {n: spark.createDataFrame(df) for n, df in tables.items()})
    got = BGPCompiler(tmaps, comp).dump().toPandas()
    con = duckdb.connect()
    for n, df in tables.items():
        con.register(n, df)
    want = con.execute(mapping_to_duckdb_sql(tmaps)).fetchdf()
    to_set = lambda df: {  # noqa: E731
        tuple(None if pd.isna(v) else v for v in r)
        for r in df[["subj", "pred", "obj", "obj_dt", "obj_lang"]].itertuples(index=False)
    }
    return to_set(got), to_set(want)


def test_w3c_style_compile_and_isomorphism(spark):
    got, want = _compile_both(spark, EMP_TTL, {"DEPT": DEPT, "EMP": EMP, "LIKES": LIKES})
    assert isomorphic(got, want)
    assert got == want  # identical skolemization too
    # NULL loc -> no ex:loc triple for dept/20
    assert not any(s.endswith("dept/20>") and "loc" in p for s, p, *_ in got)
    # sqlQuery filtered JONES out
    assert not any("7400" in s for s, *_ in got)
    # language tag rode through
    assert any(lang == "en" for *_x, lang in got)
    # FK join produced the dept reference
    assert ("<http://example.com/emp/7369>", "<http://example.com/ns#dept>",
            "<http://example.com/dept/10>", None, None) in got


def test_isomorphism_invariant_under_bnode_relabeling(spark):
    got, _ = _compile_both(spark, EMP_TTL, {"DEPT": DEPT, "EMP": EMP, "LIKES": LIKES})
    relabeled = {
        (s.replace("_:", "_:zz") if s.startswith("_:") else s, p,
         o.replace("_:", "_:zz") if o.startswith("_:") else o, dt, lang)
        for s, p, o, dt, lang in got
    }
    assert isomorphic(got, relabeled)
    # but a CHANGED literal is not isomorphic
    broken = set(relabeled)
    row = next(iter({t for t in broken if t[1].endswith("likeType>")}))
    broken.remove(row)
    broken.add((row[0], row[1], "ferret", row[3], row[4]))
    assert not isomorphic(got, broken)
    both, only_a, only_b = graph_diff(got, broken)
    # the changed literal changes its bnode's canonical label, so BOTH of
    # that bnode's triples move to the diff (same as rdflib's graph_diff)
    assert len(only_a) == 2 and len(only_b) == 2
    assert any(o == "ferret" for *_x, o, _dt, _l in [(t[0], t[1], t[2], t[3], t[4]) for t in only_b])


def test_canonicalize_distinguishes_structures():
    # two bnodes with different neighborhoods must get different labels
    a = {("_:x", "<p>", "1"), ("_:y", "<p>", "2")}
    ca = canonicalize(a)
    assert len({s for s, *_ in ca}) == 2
    # symmetric bnodes (identical neighborhoods) stay isomorphic under swap
    b = {("_:x", "<p>", "_:y"), ("_:y", "<p>", "_:x")}
    b2 = {("_:u", "<p>", "_:v"), ("_:v", "<p>", "_:u")}
    assert isomorphic(b, b2)


COMPOSITE_TTL = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/ns#> .
<#Student> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "Student" ];
    rr:subjectMap [ rr:template "http://example.com/student/{ID}/{Name}" ];
    rr:predicateObjectMap [ rr:predicate ex:sport;
        rr:objectMap [ rr:column "Sport" ] ];
    rr:predicateObjectMap [ rr:predicate ex:id;
        rr:objectMap [ rr:column "ID"; rr:datatype <http://www.w3.org/2001/XMLSchema#integer> ] ] .
"""


def test_composite_key_template_and_encoding(spark):
    student = pd.DataFrame({"ID": [10, 11], "Name": ["Venus Williams", "D. Smith"], "Sport": ["Tennis", None]})
    got, want = _compile_both(spark, COMPOSITE_TTL, {"Student": student})
    assert got == want
    assert any("student/10/Venus%20Williams" in s for s, *_ in got)
    dts = {dt for *_x, dt, _l in got if dt}
    assert "http://www.w3.org/2001/XMLSchema#integer" in dts

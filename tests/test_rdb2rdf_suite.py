"""W3C RDB2RDF (R2RML) conformance: the same public suite the reference's
old_tests/test_rdb2rdf.py runs, executed end-to-end through DuckDB DDL ->
Spark tables -> mapping_from_ttl -> BGPCompiler.dump, compared under
blank-node isomorphism.

The suite zip is read from the reference checkout at test time (public W3C
test data — nothing vendored); the suite cases skip if it is absent.  The
cases under ``r2rml_cases/`` are written by hand from the R2RML
recommendation and run through the same ``run_case`` in every run.
EXPECTED_PASS pins the cases this engine conforms on — a superset of the
reference's own passing set for the shared cases (docs/test-results/
rdb2rdf.md); the remainder are negative/invalid-mapping cases or exercise
datatype canonicalization this engine intentionally handles differently.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from rdflib_r2r_spark import rdb2rdf
from rdflib_r2r_spark.compiler import MappingError
from rdflib_r2r_spark.isomorphism import graph_diff

ZIP = rdb2rdf.find_suite_zip()
CASES_DIR = Path(__file__).parent / "r2rml_cases"


# pinned by scripts/rdb2rdf_sweep.py. A strict superset of the reference's
# passing set (docs/test-results/rdb2rdf.md): round 3 closed the canonical-
# lexical gap (xsd:double 2.0E1 form via canonical.py: TC0005a/b, 0012a/e;
# xsd:dateTime 'T' separator: 0016b/c; CHAR(n) right-padding at the source
# adapter: 0018a), and this engine additionally passes cases the reference
# fails (0007e/g class triples into named graphs, 0012b) or skips.
EXPECTED_PASS: set[str] = set(
    """R2RMLTC0001a R2RMLTC0001b R2RMLTC0002a R2RMLTC0002b R2RMLTC0002d
    R2RMLTC0002i R2RMLTC0002j R2RMLTC0003b R2RMLTC0003c R2RMLTC0004a
    R2RMLTC0005a R2RMLTC0005b R2RMLTC0006a R2RMLTC0007a R2RMLTC0007b
    R2RMLTC0007c R2RMLTC0007d R2RMLTC0007e R2RMLTC0007f R2RMLTC0007g
    R2RMLTC0008a R2RMLTC0008b R2RMLTC0008c R2RMLTC0009a R2RMLTC0009b
    R2RMLTC0009c R2RMLTC0009d R2RMLTC0010a R2RMLTC0010b R2RMLTC0010c
    R2RMLTC0011a R2RMLTC0011b R2RMLTC0012a R2RMLTC0012b R2RMLTC0012e
    R2RMLTC0013a R2RMLTC0014a R2RMLTC0014b R2RMLTC0014c R2RMLTC0014d
    R2RMLTC0015a R2RMLTC0016a R2RMLTC0016b R2RMLTC0016c R2RMLTC0016d
    R2RMLTC0016e R2RMLTC0018a R2RMLTC0019a R2RMLTC0020a""".split()
)

# invalid-mapping / invalid-SQL cases: a conforming processor must ERROR
# (W3C 'expected output: false'); this engine raises on every one
EXPECTED_ERROR: set[str] = set(
    """R2RMLTC0002c R2RMLTC0002e R2RMLTC0002g R2RMLTC0004b R2RMLTC0007h
    R2RMLTC0012c""".split()
)


def _cases(which: set[str]):
    """The suite cases in ``which``; without the zip, one placeholder that
    skips with the reason (an empty list would hand pytest a NOTSET case)."""
    if ZIP is None:
        return [pytest.param(None, id="no-suite-zip", marks=pytest.mark.skip(
            reason="rdb2rdf suite zip not available"))]
    return [pytest.param(c, id=c.case_id)
            for c in rdb2rdf.load_cases(ZIP) if c.case_id in which]


@pytest.mark.parametrize("case", _cases(EXPECTED_PASS))
def test_r2rml_conformance(spark, case):
    produced, expected = rdb2rdf.run_case(spark, case)
    _both, only_produced, only_expected = graph_diff(produced, expected)
    assert not only_produced and not only_expected, (
        f"{case.case_id}: produced-only={sorted(only_produced)[:5]} "
        f"expected-only={sorted(only_expected)[:5]}"
    )


@pytest.mark.parametrize("case", _cases(EXPECTED_ERROR))
def test_r2rml_invalid_mappings_rejected(spark, case):
    with pytest.raises(Exception):
        rdb2rdf.run_case(spark, case)


def _in_repo_case(name: str) -> rdb2rdf.SuiteCase:
    """A case under ``r2rml_cases/<name>/``: ``create.sql``, ``mapping.ttl``
    and, for a valid mapping, ``expected.nq``."""
    d = CASES_DIR / name
    nq = d / "expected.nq"
    return rdb2rdf.SuiteCase(
        case_id=name, directory=str(d),
        create_sql=(d / "create.sql").read_text(),
        mapping_ttl=(d / "mapping.ttl").read_text(),
        expected_nq=nq.read_text() if nq.exists() else None,
    )


def test_in_repo_case_conforms(spark):
    """Percent-encoded template values, a language-tagged column, a natural
    xsd:integer column, a referencing object map with a join condition and
    a constant graph map, against quads written from the spec."""
    case = _in_repo_case("emp_dept")
    produced, expected = rdb2rdf.run_case(spark, case)
    _both, only_produced, only_expected = graph_diff(produced, expected)
    assert not only_produced and not only_expected, (
        sorted(only_produced), sorted(only_expected))
    assert len(expected) == 14


def test_in_repo_sql_query_case_conforms(spark):
    """An rr:sqlQuery joining two tables with double-quoted identifiers,
    and a referencing object map from it to an rr:tableName map."""
    produced, expected = rdb2rdf.run_case(spark, _in_repo_case("sql_query"))
    _both, only_produced, only_expected = graph_diff(produced, expected)
    assert not only_produced and not only_expected, (
        sorted(only_produced), sorted(only_expected))
    assert len(expected) == 14


def test_in_repo_sql_query_case_through_sparql(spark):
    """Each predicate's ``SELECT ?s ?o { ?s <p> ?o }`` through a store, which
    inlines the rr:sqlQuery into its BGP statement, answers the triples
    the case expects with that predicate."""
    from rdflib_r2r_spark.sparql import SparkR2RStore
    from rdflib_r2r_spark.ttl import mapping_from_ttl

    case = _in_repo_case("sql_query")
    store = SparkR2RStore(spark, rdb2rdf.tables_from_sql(spark, case.create_sql),
                          mapping_from_ttl(case.mapping_ttl))
    expected = rdb2rdf.parse_nq(case.expected_nq)
    for pred in sorted({q[1] for q in expected}):
        df, _ = store._query_bf(f"SELECT ?s ?o {{ ?s {pred} ?o }}")
        got = {(r["s"], pred, r["o"], r["o__dt"] or "", r["o__lang"] or "", "")
               for r in df.collect()}
        assert got == {q for q in expected if q[1] == pred}, pred


@pytest.mark.parametrize("name, n_quads", [
    ("blank_nodes", 10), ("graph_maps", 9), ("column_datatype", 5)])
def test_in_repo_feature_case_conforms(spark, name, n_quads):
    """Blank-node subjects and objects; graph maps from a column and a
    template, NULL on some rows; rr:datatype on columns: each against
    quads written from the spec, compared under blank-node isomorphism."""
    produced, expected = rdb2rdf.run_case(spark, _in_repo_case(name))
    _both, only_produced, only_expected = graph_diff(produced, expected)
    assert not only_produced and not only_expected, (
        sorted(only_produced), sorted(only_expected))
    assert len(expected) == n_quads


def test_in_repo_literal_subject_rejected(spark):
    with pytest.raises(MappingError, match="Literal"):
        rdb2rdf.run_case(spark, _in_repo_case("literal_subject"))


def test_char_widths_ddl_variants():
    """The CHAR(n) width scan must key widths by the real table name even
    under IF NOT EXISTS / TEMP prefixes (ADVICE r4: the plain-token capture
    recorded 'IF'/'TEMP' and those tables lost their right-padding), must
    not leak widths across tables, and must stop a block at the next CREATE
    even when that CREATE is itself TEMP-prefixed."""
    ddl = '''
    CREATE TABLE IF NOT EXISTS "t1" ("c" CHAR(4), "v" VARCHAR(9));
    INSERT INTO "t1" VALUES ('x', 'y');
    CREATE TEMP TABLE t2 ("c" CHARACTER ( 7 ));
    CREATE GLOBAL TEMPORARY TABLE "t3" ("d" CHAR(2));
    CREATE TABLE plain ("e" char(5), "f" INTEGER);
    '''
    assert rdb2rdf.char_widths(ddl) == {
        ("t1", "c"): 4,
        ("t2", "c"): 7,
        ("t3", "d"): 2,
        ("plain", "e"): 5,
    }

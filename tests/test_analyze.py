"""Conversion/timing batch harness (reference: rdflib_r2r/analyze_failures.py
generate_sql :15-38 + calculate_timings :68-173): statuses, plan capture,
durations, row caps, first rows, timeout cancellation, resume."""

from __future__ import annotations

import pytest

from rdflib_r2r_spark.analyze import analyze, convert_queries, overview, time_queries

# reuse the Northwind-shaped demo store fixture
from tests.test_sparql import demo_tmaps, NS  # noqa: F401


@pytest.fixture(scope="module")
def store(spark):
    from rdflib_r2r_spark.sparql import SparkR2RStore

    orders = spark.createDataFrame(
        [
            (i, 1 + (i % 2), float(i) * 1.5, f"C{i % 7}", f"City{i % 11}",
             "1996-07-04", "1996-07-16")
            for i in range(1, 200)
        ],
        "OrderID int, ShipVia int, Freight double, ShipCountry string, "
        "ShipCity string, OrderDate string, ShippedDate string",
    )
    shippers = spark.createDataFrame(
        [(1, "Speedy Express"), (2, "United Package")],
        "ShipperID int, CompanyName string",
    )
    tmaps = [t for t in demo_tmaps()]
    return SparkR2RStore(spark, {"Orders": orders, "Shippers": shippers},
                         tmaps, init_ns=NS)


QUERIES = [
    "SELECT ?o ?fr { ?o Demo:freight ?fr }",                     # fine
    "",                                                          # No SPARQL
    "SELECT ?x { ?x Demo:freight ?y } GROUP BY (STR(?x))",       # SparqlNotImplemented
    "SELECT ?o { ?o Demo:freight ?fr FILTER(?fr > 100) }",       # fine, few rows
    "SELECT (COUNT(*) AS ?n) { ?s ?p ?o . ?s2 ?p2 ?o2 . ?s3 ?p3 ?o3 }",  # heavy cross
]


def test_convert_statuses(store):
    reports = convert_queries(store, QUERIES)
    assert [r.status for r in reports] == [
        "Success", "No SPARQL", "Failed to convert", "Success", "Success",
    ]
    assert "not implemented" in reports[2].message
    # the engine's "SQL text": a real physical plan was captured
    assert "== Physical Plan ==" in reports[0].plan


def test_time_queries_records_rows_and_first(store):
    reports = analyze(store, QUERIES[:1] + [QUERIES[3]], timeout_s=120.0)
    ok = [r for r in reports if r.status == "Success"]
    assert all(r.seconds is not None and r.seconds >= 0 for r in ok)
    assert ok[0].rows == 199 and ok[0].first_row is not None
    assert ok[1].rows == 133  # freight = i*1.5 > 100 <=> i >= 67


def test_fetch_cap(store):
    reports = analyze(store, [QUERIES[0]], timeout_s=120.0, fetch_cap=10)
    assert reports[0].rows == 10  # capped, like the reference's fetchmany(5000)


def test_timeout_cancels_job(store):
    # the triple-cross-product over the dump is big enough that a 0.05s
    # budget always trips; the harness must cancel and mark it, not hang
    reports = analyze(store, [QUERIES[4]], timeout_s=0.05)
    r = reports[0]
    assert r.timed_out and "timeout" in (r.exec_error or "")
    assert r.rows is None
    # and no job of the cancelled group is left running
    tracker = store.spark.sparkContext.statusTracker()
    statuses = [tracker.getJobInfo(j).status
                for j in tracker.getJobIdsForGroup(r.job_group)]
    assert "RUNNING" not in statuses, statuses


def test_resume_skips_done(store):
    reports = convert_queries(store, [QUERIES[0], QUERIES[3]])
    done = {0}
    time_queries(store, reports, timeout_s=120.0, done=done)
    assert reports[0].seconds is None      # skipped: already done
    assert reports[1].seconds is not None  # executed
    assert not reports[1].timed_out        # no starved executors
    assert done == {0, 1}


def test_overview_summary(store):
    reports = convert_queries(store, QUERIES)
    text = overview(reports)
    assert "Success: 3" in text and "Failed to convert: 1" in text

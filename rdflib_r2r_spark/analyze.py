"""Batch SPARQL conversion + execution-timing harness.

The reference ships ``analyze_failures.py`` to sweep a workload of SPARQL
strings through its converter and database: ``generate_sql`` records
converted SQL or the conversion error per query (reference:
rdflib_r2r/analyze_failures.py:15-38), and ``calculate_timings`` executes
each statement with a row cap, recording duration, result count, first row
and error, resumable over a ``done`` set (reference:
rdflib_r2r/analyze_failures.py:68-173).

This is the Spark-native twin: conversion compiles the query to a DataFrame
plan (the engine's "SQL text" is Catalyst's explain output), and execution
runs ``limit(cap).collect()`` under a cancellable job group so a timeout
kills the Spark job rather than abandoning a thread.
"""

from __future__ import annotations

import io
import threading
import time
import traceback
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from rdflib_r2r_spark.sparql.parser import SparqlNotImplemented


@dataclass
class QueryReport:
    index: int
    sparql: str
    status: str                 # Success | Failed to convert | No SPARQL
    plan: str = ""              # Catalyst plan text (the engine's "SQL")
    message: str = ""           # conversion error, if any
    seconds: float | None = None
    rows: int | None = None     # capped at fetch_cap, like fetchmany(5000)
    first_row: tuple | None = None
    exec_error: str | None = None
    timed_out: bool = False
    job_group: str | None = None  # Spark job group the execution ran in


def convert_queries(store, sparqls: list[str]) -> list[QueryReport]:
    """Stage 1 — conversion sweep (reference generate_sql): per query either
    the compiled plan or the conversion failure, never raising."""
    out: list[QueryReport] = []
    for i, sparql in enumerate(sparqls):
        if not sparql or not sparql.strip():
            out.append(QueryReport(i, sparql or "", "No SPARQL"))
            continue
        try:
            df = store.query(sparql)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            out.append(QueryReport(i, sparql, "Success", plan=buf.getvalue()))
        except SparqlNotImplemented as e:
            out.append(QueryReport(i, sparql, "Failed to convert",
                                   message=f"not implemented: {e}"))
        except Exception as e:  # parse errors, mapping errors
            out.append(QueryReport(i, sparql, "Failed to convert",
                                   message=f"{type(e).__name__}: {e}"))
    return out


def time_queries(
    store,
    reports: list[QueryReport],
    timeout_s: float = 300.0,
    fetch_cap: int = 5000,
    done: set[int] | None = None,
) -> list[QueryReport]:
    """Stage 2 — execution sweep over successfully converted queries.

    Mutates and returns ``reports``; ``done`` makes the sweep resumable the
    way the reference's ``results``/``done_ids`` contract does.  Timeouts
    cancel the underlying Spark job group (not just the Python wait) and
    return only once no job of the group is running, so a runaway query
    does not keep burning executor time.
    """
    from pyspark import InheritableThread

    spark = store.spark
    done = set() if done is None else done
    for rep in reports:
        if rep.index in done or rep.status != "Success":
            continue
        group = rep.job_group = f"analyze-{rep.index}-{time.time_ns()}"
        result: dict = {}

        def run(rep=rep, group=group, result=result):
            try:
                spark.sparkContext.setJobGroup(group, "analyze.time_queries",
                                               interruptOnCancel=True)
                rows = store.query(rep.sparql).limit(fetch_cap).collect()
                result["rows"] = rows
            except Exception as e:
                result["error"] = f"{type(e).__name__}: {e}"
                result["trace"] = traceback.format_exc()

        t0 = time.time()
        worker = InheritableThread(target=run, daemon=True)
        worker.start()
        worker.join(timeout_s)
        rep.seconds = round(time.time() - t0, 3)
        if worker.is_alive():
            _cancel_group(spark.sparkContext, group, worker)
            rep.timed_out = True
            rep.exec_error = f"timeout after {timeout_s}s (job group cancelled)"
        elif "error" in result:
            rep.exec_error = result["error"]
        else:
            rows = result.get("rows", [])
            rep.rows = len(rows)
            rep.first_row = tuple(rows[0]) if rows else None
        done.add(rep.index)
    return reports


def _cancel_group(sc, group: str, worker) -> None:
    """Cancel ``group`` until its worker has returned and the status
    tracker shows no job of the group running.  The first cancel can land
    while the worker is still compiling, before its job exists, so the
    cancel repeats."""
    tracker = sc.statusTracker()

    def running() -> bool:
        infos = (tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group))
        return any(i is not None and i.status == "RUNNING" for i in infos)

    while worker.is_alive() or running():
        sc.cancelJobGroup(group)
        time.sleep(0.05)


def analyze(store, sparqls: list[str], timeout_s: float = 300.0,
            fetch_cap: int = 5000) -> list[QueryReport]:
    """convert + time in one sweep."""
    return time_queries(store, convert_queries(store, sparqls),
                        timeout_s=timeout_s, fetch_cap=fetch_cap)


def overview(reports: list[QueryReport]) -> str:
    """Counter-style summary (reference display_results_overview)."""
    from collections import Counter

    counts = Counter(r.status for r in reports)
    lines = [f"{s}: {n}" for s, n in counts.most_common()]
    fails = [r for r in reports if r.status == "Failed to convert"]
    msg_counts = Counter(r.message.split(":")[0] for r in fails)
    for m, n in msg_counts.most_common():
        lines.append(f"  {m} -> {n}")
    timed = [r for r in reports if r.timed_out]
    if timed:
        lines.append(f"timeouts: {[r.index for r in timed]}")
    return "\n".join(lines)

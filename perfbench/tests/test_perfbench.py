"""The benchmark's own tests.

Fast tests cover input generation, the checks and the event-log parser.
The smoke tests run every workload at ``--scale tiny`` (a few minutes in
all) and the tamper tests prove that a wrong triple or SPARQL row fails its
check.  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import check, eventlog, inputs, workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = inputs.SCALES["tiny"]


# -- inputs -----------------------------------------------------------------------


def test_inputs_depend_only_on_seed():
    assert inputs.documents(3, 50).equals(inputs.documents(3, 50))
    assert not inputs.documents(3, 50).equals(inputs.documents(4, 50))
    a, b = inputs.bsbm_tables(3, TINY), inputs.bsbm_tables(3, TINY)
    assert all(a[t].equals(b[t]) for t in a)


def test_documents_have_the_testdata_shape():
    docs = inputs.documents(1, 400).to_pylist()
    assert sorted(d["doc_id"] for d in docs) == list(range(400))
    texts = {d["text"] for d in docs}
    dups = [d["text"] for d in docs if d["text"].endswith(" dup")]
    assert dups and all(t.removesuffix(" dup") in texts for t in dups)
    assert all(10 <= len(d["text"].split()) <= 101 for d in docs)


def test_requests_cover_every_shape_with_new_texts():
    reqs = inputs.bsbm_requests(5, TINY, 6)
    assert sorted(reqs) == sorted(workloads.SHAPES)
    texts = [r.sparql for rs in reqs.values() for r in rs]
    assert len(texts) == len(set(texts)) == 48
    for rs in reqs.values():
        for r in rs:
            assert "LIMIT" not in r.oracle_sql.rsplit(")", 1)[-1].upper()


# -- checks -----------------------------------------------------------------------


def test_triple_digest_catches_a_tampered_triple():
    triples = [(f"<s{i}>", "<p>", f"o{i}") for i in range(100)]
    n, d = check.triple_digest(triples)
    assert (n, d) == check.triple_digest(reversed(triples))
    tampered = list(triples)
    tampered[7] = ("<s7>", "<p>", "o7x")
    assert check.triple_digest(tampered) != (n, d)


def test_response_check_accepts_any_tie_order_at_the_limit():
    cols = ["product", "label"]
    full = [("<p1>", "a"), ("<p2>", "b"), ("<p3>", "b"), ("<p4>", "b"), ("<p5>", "c")]
    ok = [("<p1>", "a"), ("<p4>", "b")]
    assert check.response_matches(ok, full, cols, 2, ("label",))
    # a row from outside the tie group, or a missing required row, fails
    assert not check.response_matches([("<p1>", "a"), ("<p5>", "c")], full, cols, 2, ("label",))
    assert not check.response_matches([("<p2>", "b"), ("<p3>", "b")], full, cols, 2, ("label",))
    assert not check.response_matches([("<p1>", "a"), ("<p9>", "b")], full, cols, 2, ("label",))


def test_response_check_catches_a_tampered_row():
    cols = ["c", "n"]
    full = [("<a>", 3), ("<b>", 2)]
    assert check.response_matches(list(reversed(full)), full, cols, None, ())
    assert not check.response_matches([("<a>", 3), ("<b>", 1)], full, cols, None, ())
    assert not check.response_matches([("<a>", 3)], full, cols, None, ())


# -- event log ----------------------------------------------------------------------


def test_eventlog_groups_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "stage.pages"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "stage.pages"}},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": 0,
           "Task Metrics": {"Executor Run Time": t, "Executor CPU Time": t * 10**6,
                            "JVM GC Time": 1, "Disk Bytes Spilled": 0}}
          for t in (100, 100, 400)],
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 400}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    spans = eventlog.parse(eventlog.log_files(str(tmp_path)))
    s = spans["stage.pages"]
    assert (s.jobs, s.tasks) == (1, 3)
    assert s.skew == pytest.approx(4.0)
    assert s.kind_wall_s["read"] == pytest.approx(1.5)
    assert eventlog.unattributed_share(spans, {"stage.pages"}) == pytest.approx(0.4)


# -- whole runs ---------------------------------------------------------------------


def _run(*args, cwd=ROOT, timeout=400):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_prints_every_named_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", trace, "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert {m: v["unit"] for m, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert "context" in json.loads(lines[-2])


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "sparql_bsbm", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=tmp_path, timeout=120)
    assert p.returncode != 0
    assert "correct" not in p.stdout


# -- tamper: a wrong output fails its check -------------------------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    from perfbench import run

    work = tmp_path_factory.mktemp("work")
    run.configure_env(work, trace=False)
    s = run.Session()
    s.start()
    yield s, work
    s.close()


def test_tampered_triple_fails_the_kg_check(session):
    s, work = session
    wl = workloads.KGBuild(workloads.Context(11, TINY, str(work / "kg"), 1))
    wl.make_inputs()
    wl.setup(s.spark)
    wl.op(False)
    assert wl.check() == (1, 0)
    out = wl.outputs[0]
    part = next(Path(out).rglob("*.parquet"))
    t = pq.read_table(part)
    objs = t.column("obj").to_pylist()
    objs[0] = objs[0] + "x"
    pq.write_table(t.set_column(t.schema.get_field_index("obj"), "obj", pa.array(objs)), part)
    assert wl.check() == (1, 1)


def test_tampered_response_fails_the_sparql_check(session):
    s, work = session
    wl = workloads.SparqlBSBM(workloads.Context(11, TINY, str(work / "sparql"), 1))
    wl.make_inputs()
    wl.setup(s.spark)
    wl.op(False)
    assert wl.check() == (8, 0)
    from pyspark.sql import Row

    req, cols, rows = next(d for d in wl.done if d[2])
    first = rows[0].asDict()
    key = next(k for k, v in first.items() if isinstance(v, str))
    first[key] = first[key] + "x"
    wl.done[wl.done.index((req, cols, rows))] = (req, cols, [Row(**first)] + rows[1:])
    assert wl.check() == (8, 1)

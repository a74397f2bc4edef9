"""Web-stage correctness: byte-identical extraction, mention detection,
MinHash-LSH edges, connected components, end-to-end pipeline P/R vs the
pure-Python reference emission, and checkpoint-resume semantics.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
from dataclasses import dataclass, field

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rdflib_r2r_spark import reference_impl as ref
from rdflib_r2r_spark.pipeline import KGPipeline
from rdflib_r2r_spark.web import components, linking, mentions as men, pages as pg
from rdflib_r2r_spark.web.extract import extract_text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def docs_pd():
    import duckdb

    return duckdb.sql(f"SELECT * FROM '{SF_DIR}/documents.parquet'").fetchdf()


def test_extraction_byte_identical(spark, docs):
    """north_star per-row invariant: extracted text byte-identical per url."""
    pages = pg.pages_from_documents(docs)
    out = pages.select("url", "text", extract_text(F.col("html")).alias("extracted"))
    bad = out.filter(F.col("text") != F.col("extracted")).count()
    assert bad == 0
    assert out.count() == docs.count()


# adversarial HTML checked against the Python reference extractor
MESSY_HTML = [
    b"<html><head><style>a{}</style></head><body>x <i>y</i> &amp;&lt;</body></html>",
    b"<body><article>first</article><article>second</article></body>",
    b"no tags at all",
    b"<script>only script</script>",
    b"<body><SCRIPT a=b>nested <b>tag</b></SCRIPT>kept</body>",
    "<body>unicode é中文</body>".encode("utf-8"),
    # invalid UTF-8: 0xFF can begin no sequence, 0xC3 is truncated; the JVM
    # cast maps each to U+FFFD like decode(errors="replace")
    b"<body>bad \xff byte and truncated \xc3</body>",
]


def test_extraction_handles_messy_html(spark):
    """Extractor is a real HTML extractor, not only our wrapper's inverse."""
    rows = [
        ("<html><body><p>Hello <b>world</b></p><script>evil()</script></body></html>", "Hello world"),
        ('<html><body><article class="x">A &amp; B &lt;ok&gt;</article><footer>no</footer></body></html>', "A & B <ok>"),
        ("<body>plain</body>", "plain"),
        # an unclosed <article> is no article: fall back to <body>
        ("head<body>x<article>y</body>tail", "xy"),
        ("<p>a</p><article>b<body>c</body>", "c"),
    ]
    # python mirror agrees
    for html, want in rows:
        assert ref.extract_text_py(html) == want
    cases = [(html.encode("utf-8"), want) for html, want in rows] + [
        (html, ref.extract_text_py(html.decode("utf-8", "replace"))) for html in MESSY_HTML
    ]
    df = spark.createDataFrame(cases, "html binary, want string")
    got = df.select(extract_text(F.col("html")).alias("got"), "want").collect()
    assert [r["got"] for r in got] == [want for _, want in cases]


def test_alias_dict_and_mentions_match_reference(spark, docs, docs_pd, monkeypatch):
    pages = pg.pages_from_documents(docs)
    adict = men.build_alias_dict(pages)
    got = {(r["alias"], r["entity_id"]) for r in adict.collect()}
    texts = {
        ref.BASE_URL + str(r.doc_id): r.text for r in docs_pd.itertuples()
    }
    want = {(a, i) for a, i in ref.alias_dict_py(texts).items()}
    assert got == want

    aliases = ref.alias_dict_py(texts)
    want_m = {
        (url, aliases[t])
        for url, text in texts.items()
        for t in set(ref.tokens_py(text))
        if t in aliases
    }
    # the inlined dict, then the broadcast join a larger dict takes
    for limit in (men.MAX_INLINE, 0):
        monkeypatch.setattr(men, "MAX_INLINE", limit)
        rows = men.mention_entities(pages, adict).collect()
        got_m = {(r["url"], r["entity_id"]) for r in rows}
        assert len(got_m) == len(rows), limit  # a pair set: no duplicates
        assert got_m == want_m, limit


def test_mention_entities_non_injective_alias_dict(spark, monkeypatch):
    """ADVICE r4 (medium): with several aliases mapping to ONE entity — the
    normal shape of a real alias dictionary — the inline fast path must
    still emit globally distinct (url, entity_id) pairs.  Also pins the
    fast path == join path equivalence off the happy path."""
    pages = spark.createDataFrame(
        [("u1", "acme corp and acme-inc together"), ("u2", "only acme here")],
        "url string, text string",
    )
    adict = spark.createDataFrame(
        # three aliases, two entities: acme-corp-inc all -> 7
        [("acme", 7, 0.5), ("corp", 7, 0.3), ("only", 3, 0.2)],
        "alias string, entity_id long, prior double",
    )
    fast = {(r["url"], r["entity_id"])
            for r in men.mention_entities(pages, adict, text_col="text").collect()}
    assert fast == {("u1", 7), ("u2", 7), ("u2", 3)}
    # and no duplicate rows at all (the set comparison would hide them)
    assert men.mention_entities(pages, adict).count() == 3
    monkeypatch.setattr(men, "MAX_INLINE", 0)
    slow = men.mention_entities(pages, adict).collect()
    assert {(r["url"], r["entity_id"]) for r in slow} == fast and len(slow) == 3


def test_mention_entities_empty_alias_dict(spark):
    """ADVICE r4: zero-element array/map literals are void-typed and fail
    analysis inside array_intersect — an empty dict must short-circuit to
    an empty pair frame with the right schema."""
    pages = spark.createDataFrame([("u1", "some text")], "url string, text string")
    empty = spark.createDataFrame([], "alias string, entity_id long, prior double")
    out = men.mention_entities(pages, empty)
    assert out.count() == 0
    assert dict(out.dtypes) == {"url": "string", "entity_id": "bigint"}


def test_minhash_signatures_match_python(spark, docs, docs_pd):
    sigs = linking.signatures(pg.pages_from_documents(docs)).collect()
    got = {r["key"]: [r[f"mh{j}"] for j in range(linking.DEFAULT_NUM_HASHES)] for r in sigs}
    for r in docs_pd.head(50).itertuples():
        url = ref.BASE_URL + str(r.doc_id)
        assert got[url] == ref.minhash_sig_py(r.text)


def test_connected_components_golden(spark):
    # FIXTURES.md F5: 10-node edge list, 2 components + 1 hub
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (5, 6), (6, 7), (10, 1), (10, 4), (10, 8)],
        "a long, b long",
    )
    cc = {r["node"]: r["component"] for r in components.connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 8: 1, 10: 1, 5: 5, 6: 5, 7: 5}


def test_connected_components_nonconvergence_raises(spark):
    # a 10-node chain has diameter 9: max_iter=2 allows one round of
    # HOPS_PER_ROUND (3) hops, which cannot label it
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "a long, b long")
    with pytest.raises(RuntimeError, match=r"max_iter=2 .*3 per round"):
        components.connected_components(edges, max_iter=2)
    cc = components.connected_components(edges).collect()
    assert {r["component"] for r in cc} == {0} and len(cc) == 10


def test_canonical_map_jobs(spark):
    """canonical_map on the FIXTURES.md F5 edge list, collected, runs
    three action jobs: the symmetric edge checkpoint, one round's
    checkpoint (whose change flag is observed on the same job; the round's
    three hops converge) and the collect.  No count job reads a flag.
    AQE also runs each shuffle map stage and broadcast as a job of its
    own; how many depends on its re-plans, so those are not counted."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (5, 6), (6, 7), (10, 1), (10, 4), (10, 8)],
        "a long, b long",
    )
    sc = spark.sparkContext
    sc.setJobGroup("canonical_map_jobs", "canonical_map_jobs")
    try:
        got = dict(map(tuple, components.canonical_map(edges).collect()))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {2: 1, 3: 1, 4: 1, 8: 1, 10: 1, 6: 5, 7: 5}
    st = sc.statusTracker()
    # a job is named by its result stage, the last one it created: an
    # action's call site, or an anonymous function for AQE's own jobs
    actions = [
        st.getStageInfo(max(st.getJobInfo(j).stageIds)).name.split(" at ")[0]
        for j in sorted(st.getJobIdsForGroup("canonical_map_jobs"))
    ]
    assert [a for a in actions if not a.startswith("$anonfun")] == [
        "localCheckpoint", "localCheckpoint", "collect"], actions


def test_pipeline_pr_vs_reference(spark, docs_pd, tmp_path):
    pipe = KGPipeline(spark, SF_DIR, str(tmp_path / "kg"))
    triples = pipe.run()
    got = _assert_reference_triples(triples, docs_pd)

    # bucketed layout present
    assert "subj_bucket" in triples.columns

    # lineage rows exist for every stage
    lineage = pipe.lineage()
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"pages", "extracted", "base_triples", "alias_dict", "mentions",
            "edges", "canon", "triples"} <= stages

    # checkpoint-resume: second run recomputes nothing
    pipe2 = KGPipeline(spark, SF_DIR, str(tmp_path / "kg"))
    t2 = pipe2.run()
    assert all(res.resumed for res in pipe2.results.values()), {
        k: v.resumed for k, v in pipe2.results.items()
    }
    assert t2.count() == len(got | set())  # same triple count

    # parameter change invalidates downstream
    pipe3 = KGPipeline(spark, SF_DIR, str(tmp_path / "kg"), dict_size=10)
    pipe3.run()
    assert not pipe3.results["alias_dict"].resumed


STAGES = ("pages", "extracted", "base_triples", "alias_dict", "sigs", "edges",
          "mentions", "canon", "triples")


@dataclass
class RecordingPipeline(KGPipeline):
    """KGPipeline that keeps the frame each stage returned."""

    frames: dict = field(default_factory=dict)

    def stage(self, name, upstream, compute, partition_by=None):
        self.frames[name] = super().stage(name, upstream, compute, partition_by)
        return self.frames[name]


def _jobs_of_run(spark, pipe, group):
    """Run ``pipe`` under job group ``group``; the ids of the Spark jobs the
    run launched before returning its triple frame."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        pipe.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_committed(spark, pipe, names):
    """For every stage in ``names``: its lineage rows sum to
    ``StageResult.rows`` and to a count of the written table, and the frame
    the stage returned has the schema ``spark.read.parquet`` infers.  For
    ``triples``, the lineage rows per ``subj_bucket=i`` directory equal a
    ``groupBy`` on the written table."""
    lineage = pipe.lineage().collect()
    for name in names:
        res = pipe.results[name]
        written = spark.read.parquet(res.path)
        lin_rows = sum(r["rows"] for r in lineage if r["stage"] == name)
        assert lin_rows == res.rows == written.count(), name
        assert pipe.frames[name].schema == written.schema, name
    per_bucket: dict[int, int] = {}
    files_per_bucket: dict[int, int] = {}
    for r in lineage:
        if r["stage"] == "triples":
            b = int(re.search(r"subj_bucket=(\d+)", r["file"]).group(1))
            per_bucket[b] = per_bucket.get(b, 0) + r["rows"]
            files_per_bucket[b] = files_per_bucket.get(b, 0) + 1
    written = spark.read.parquet(pipe.results["triples"].path)
    assert per_bucket == {r["subj_bucket"]: r["count"]
                          for r in written.groupBy("subj_bucket").count().collect()}
    # one exchange on the bucket column: each bucket is written by one task
    assert set(files_per_bucket.values()) == {1}, files_per_bucket


def _assert_write_sized_by_data(spark, jobs):
    """The last job of a run is the ``triples`` write, and its last stage
    (AQE ran the shuffle map stages as jobs of their own) ran the write
    tasks: at most the shuffle partition count, not one per bucket."""
    st = spark.sparkContext.statusTracker()
    tasks = st.getStageInfo(max(st.getJobInfo(max(jobs)).stageIds)).numCompletedTasks
    assert 1 <= tasks <= int(spark.conf.get("spark.sql.shuffle.partitions")), tasks


def _assert_reference_triples(triples, docs_pd):
    """The (subj, pred, obj) set of ``triples``, after checking that it
    equals the pure-Python reference emission: precision and recall 1.0."""
    got = {(r["subj"], r["pred"], r["obj"]) for r in triples.select("subj", "pred", "obj").collect()}
    want = ref.reference_triples(docs_pd.to_dict("records"))
    assert ref.precision_recall(got, want) == (1.0, 1.0), (len(got), len(want))
    return got


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A fresh checkpointed build: (workdir, pipeline, ids of its jobs)."""
    wd = str(tmp_path_factory.mktemp("kg_built"))
    pipe = RecordingPipeline(spark, SF_DIR, wd)
    return wd, pipe, _jobs_of_run(spark, pipe, "fresh_run")


def test_checkpointed_stages_commit_from_footers(spark, built, docs_pd):
    """Fresh and resumed checkpointed stages: footer lineage, rows and the
    read-back schema agree with the written tables, and a fully resumed run
    launches no Spark job before the caller's first action."""
    wd, fresh, jobs = built
    assert not any(r.resumed for r in fresh.results.values())
    _assert_committed(spark, fresh, STAGES)
    _assert_write_sized_by_data(spark, jobs)
    _assert_reference_triples(fresh.frames["triples"], docs_pd)
    assert not os.path.exists(os.path.join(wd, "_lineage"))
    # a corpus under the split floor is not widened: one task, one file,
    # per narrow stage
    for name in ("pages", "extracted", "base_triples", "sigs"):
        with open(os.path.join(wd, "_manifests", f"{name}.json")) as f:
            assert len(json.load(f)["files"]) == 1, name

    resumed = RecordingPipeline(spark, SF_DIR, wd)
    assert _jobs_of_run(spark, resumed, "resumed_run") == []
    assert all(r.resumed for r in resumed.results.values())
    _assert_committed(spark, resumed, STAGES)


def test_fused_triples_commit_from_footers(spark, tmp_path, docs_pd):
    wd = str(tmp_path / "kg")
    try:
        fresh = RecordingPipeline(spark, SF_DIR, wd, checkpoint_stages=False, resume=False)
        jobs = _jobs_of_run(spark, fresh, "fused_run")
        pages_plan = fresh.frames["pages"]._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in pages_plan
        assert not fresh.results["triples"].resumed
        _assert_committed(spark, fresh, ["triples"])
        _assert_write_sized_by_data(spark, jobs)
        _assert_reference_triples(fresh.frames["triples"], docs_pd)
        resumed = RecordingPipeline(spark, SF_DIR, wd, checkpoint_stages=False)
        resumed.run()
        assert resumed.results["triples"].resumed
        _assert_committed(spark, resumed, ["triples"])
    finally:
        spark.catalog.clearCache()


def test_resume_recomputes_a_damaged_stage_and_downstream(spark, built, tmp_path):
    """A part file the manifest lists that is missing (sigs) or has another
    size (mentions) makes the stage recompute instead of reading what is
    left, and every stage downstream of it recomputes too."""
    src, fresh, _ = built
    wd = str(tmp_path / "kg")
    shutil.copytree(src, wd)

    def part_files(stage):
        return sorted(glob.glob(os.path.join(wd, stage, "**", "*.parquet"), recursive=True))

    os.remove(part_files("sigs")[0])
    with open(part_files("mentions")[0], "ab") as f:
        f.write(b"\0")
    pipe = KGPipeline(spark, SF_DIR, wd)
    triples = pipe.run()
    recomputed = {n for n, r in pipe.results.items() if not r.resumed}
    assert recomputed == {"sigs", "edges", "canon", "mentions", "triples"}
    assert triples.count() == pipe.results["triples"].rows == fresh.results["triples"].rows
    assert spark.read.parquet(os.path.join(wd, "sigs")).count() == fresh.results["sigs"].rows


def test_numeric_band_values_give_same_candidates(spark, docs):
    """The bigint band encoding (band_rows<=2) must bucket identically to
    the string concat it replaced: same candidate pair set."""
    pages = pg.pages_from_documents(docs)
    sigs = linking.signatures(pages).cache()
    numeric = linking.band_df(sigs)  # default band_rows=2 -> bigint path
    assert dict(numeric.dtypes)["band_val"] == "bigint"
    wide = linking.band_df(sigs, num_hashes=8, band_rows=4)  # string path
    assert dict(wide.dtypes)["band_val"] == "string"
    got = {(r["a"], r["b"]) for r in linking.candidate_pairs(numeric).collect()}
    # reconstruct the pairs the string encoding would produce at band_rows=2
    arms = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws("|", F.col(f"mh{2*b}").cast("string"),
                        F.col(f"mh{2*b+1}").cast("string")).alias("band_val"),
        )
        for b in range(4)
    ]
    legacy = (
        sigs.select("key", F.explode(F.array(*arms)).alias("b"))
        .select("key", "b.band_id", "b.band_val")
        .filter(F.col("band_val").isNotNull() & (F.col("band_val") != ""))
    )
    want = {(r["a"], r["b"]) for r in linking.candidate_pairs(legacy).collect()}
    assert got == want and len(got) > 0
    sigs.unpersist()

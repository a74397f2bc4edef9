"""The benchmark workloads, driven through the public API.

Each workload is closed-loop with one client in one process on
``local[<cores>]``.  ``make_inputs`` runs before the set-up clock;
``setup`` is the program's own set-up after the session is up;
``timed`` is the measured phase (tracing off); ``traced`` is the separate
traced phase whose spans become per-layer metrics; ``check`` compares
every output with its reference after the measured phase.

* ``kg_build``: a resumable ``KGPipeline`` build that crashes on entering
  ``stage("mentions")`` and is finished by a fresh
  ``KGPipeline(resume=True)`` on the same workdir.  Traced, a fused
  ``KGPipeline(checkpoint_stages=False, resume=False)`` build of the same
  corpus into a fresh workdir follows.
* ``sparql_bsbm``: query mixes (each of the 8 ``bsbm.QUERIES`` shapes
  once) through one long-lived ``bsbm_store``, every request with new
  constants.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F

from perfbench import check, eventlog, host, inputs
from rdflib_r2r_spark import bsbm
from rdflib_r2r_spark.pipeline import KGPipeline
from rdflib_r2r_spark.reference_impl import reference_triples
from rdflib_r2r_spark.sparql.parser import parse_query
from rdflib_r2r_spark.web import linking

OP_GROUP = "op"  # job group of traced-op work outside every layer span

# KGPipeline stage -> layer span (module that does the stage's work)
KG_LAYERS = {
    "pages": "extract", "extracted": "extract",
    "base_triples": "compile",
    "alias_dict": "mentions", "mentions": "mentions",
    "sigs": "linking.sigs",
    "edges": "linking.lsh",
    "canon": "components",
    "triples": "pipeline.write",
}
KG_STAGES = tuple(KG_LAYERS)
CRASH_STAGE = "mentions"


class Crash(RuntimeError):
    """Raised by the benchmark's pipeline to simulate a crash."""


@dataclass
class BenchPipeline(KGPipeline):
    """KGPipeline with a crash point and optional spans.

    Traced: every stage runs under its own job group, ``stage.<name>`` for
    a checkpointed build and ``fused.<name>`` for a fused one.  In fused
    mode the stage output is persisted and counted inside the span, so the
    work of a lazy fused stage lands in that stage and not in the final
    write."""

    crash_at: str | None = None
    traced: bool = False
    walls: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    frames: dict = field(default_factory=dict)
    trace_extra: float = 0.0

    @property
    def span_prefix(self) -> str:
        return "stage" if self.checkpoint_stages else "fused"

    def stage(self, name, upstream, compute, partition_by=None):
        if name == self.crash_at:
            raise Crash(name)
        if not self.traced:
            return super().stage(name, upstream, compute, partition_by)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.span_prefix}.{name}", name)
        t0 = time.perf_counter()
        df = super().stage(name, upstream, compute, partition_by)
        if not self.checkpoint_stages and name != "triples":
            df = df.persist()
            self.counts[name] = df.count()
        self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0
        self.frames[name] = df
        if name == "edges" and not self.checkpoint_stages:
            t1 = time.perf_counter()
            sc.setJobGroup("fused.edges.candidates", "candidates")
            bands = linking.band_df(self.frames["sigs"], self.num_hashes, self.band_rows)
            self.counts["candidates"] = linking.candidate_pairs(bands).count()
            self.trace_extra += time.perf_counter() - t1
        sc.setJobGroup(OP_GROUP, OP_GROUP)
        return df

    def rows(self, name):
        if name in self.counts:
            return self.counts[name]
        res = self.results.get(name)
        return res.rows if res is not None else None


@dataclass
class Context:
    seed: int
    scale: inputs.Scale
    work: str
    seconds: float


class Workload:
    """One operation kind, repeated closed-loop.  ``op`` runs the next
    operation and appends its wall to ``lat`` and its CPU time, without the
    JIT compiler's, to ``cpu``."""

    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = None
        self.lat: list[float] = []
        self.cpu: list[float] = []  # work CPU seconds per operation (host.work_cpu_s)
        self.layer: dict[str, float] = {}
        self.context: dict = {}
        self.trace_extra = 0.0  # wall of work added only by tracing

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def make_inputs(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        self.spark = spark

    def op(self, traced: bool) -> None:
        raise NotImplementedError

    def exhausted(self) -> bool:
        return False

    def timed(self) -> None:
        """Operations until ``--seconds`` have passed (at least one)."""
        t0 = time.perf_counter()
        while True:
            self.op(False)
            if time.perf_counter() - t0 >= self.ctx.seconds or self.exhausted():
                break

    def traced(self) -> None:
        """One traced operation.  Its overhead is the wall of the work only
        tracing adds (``trace_extra``); the event log itself is written
        asynchronously."""
        self.spark.sparkContext.setJobGroup(OP_GROUP, OP_GROUP)
        self.op(True)
        self.layer["trace.overhead_s"] = self.trace_extra

    def check(self) -> tuple[int, int]:
        """(attempted, failed) over every output of the run."""
        raise NotImplementedError

    def layer_metrics(self, spans) -> dict[str, float]:
        raise NotImplementedError


# -- KG construction ----------------------------------------------------------------


class KGBuild(Workload):
    """The operation is a resumable build that crashes on entering the
    mentions stage, then a fresh resuming pipeline that finishes it.  The
    traced operation adds a fused build of the same corpus, so the per-layer
    metrics cover the fused write path too; the timed operation leaves it
    out to keep a run inside the benchmark's time budget."""

    name = "kg_build"

    def make_inputs(self) -> None:
        self.docs = inputs.documents(self.ctx.seed, self.ctx.scale.docs)
        self.in_dir = inputs.write_documents(self.path("inputs"), self.docs)
        self.outputs: list[str] = []  # triple tables to verify
        self.builds = 0
        self.pipes: dict[str, list] = {}

    def _workdir(self) -> str:
        self.builds += 1
        wd = self.path("kg", str(self.builds))
        os.makedirs(wd)
        return wd

    def op(self, traced: bool) -> None:
        c0, t0 = host.work_cpu_s(), time.perf_counter()
        wd = self._workdir()
        first = BenchPipeline(self.spark, self.in_dir, wd, crash_at=CRASH_STAGE, traced=traced)
        try:
            first.run()
            raise RuntimeError("the crash point was never reached")
        except Crash:
            pass
        t1 = time.perf_counter()
        second = BenchPipeline(self.spark, self.in_dir, wd, resume=True, traced=traced)
        second.run()
        t2 = time.perf_counter()
        self.cpu.append(host.work_cpu_s() - c0)
        self.lat.append(t2 - t0)
        self.outputs.append(os.path.join(wd, "triples"))
        self.context.setdefault("recover_s", []).append(t2 - t1)
        if traced:
            self.layer["recover.wall_s"] = t2 - t1
            wd = self._workdir()
            fused = BenchPipeline(self.spark, self.in_dir, wd, checkpoint_stages=False,
                                  resume=False, traced=True)
            fused.run()
            self.spark.catalog.clearCache()
            self.outputs.append(os.path.join(wd, "triples"))
            self.layer["fused.wall_s"] = time.perf_counter() - t2
            self.pipes = {"stage": [first, second], "fused": [fused]}
            self.trace_extra += first.trace_extra + second.trace_extra + fused.trace_extra

    def check(self) -> tuple[int, int]:
        want = check.triple_digest(reference_triples(self.docs.to_pylist()))
        self.context["reference_triples"] = want[0]
        failed = 0
        for out in self.outputs:
            try:
                got = check.spark_triple_digest(self.spark, out)
            except Exception:  # a missing or unreadable output is a failure
                traceback.print_exc()
                got = None
            failed += got != want
        return len(self.outputs), failed

    def layer_metrics(self, spans) -> dict[str, float]:
        def walls(pipes):
            out: dict[str, float] = {}
            for p in pipes:
                for n, w in p.walls.items():
                    out[n] = out.get(n, 0.0) + w
            return out

        def group(prefix, *names):
            s = eventlog.SpanStats()
            for n in names:
                if f"{prefix}.{n}" in spans:
                    s.merge(spans[f"{prefix}.{n}"])
            return s

        out: dict[str, float] = {}
        # the web kernels and the fused write, from the fused build
        fused = self.pipes["fused"][0]
        fwalls = walls(self.pipes["fused"])
        for layer in dict.fromkeys(KG_LAYERS.values()):
            stages = [s for s, lay in KG_LAYERS.items() if lay == layer]
            out[f"{layer}.wall_s"] = sum(fwalls.get(s, 0.0) for s in stages)
            out.update(eventlog.span_metrics(layer, group("fused", *stages)))
        rows = lambda n: fused.rows(n) or 0  # noqa: E731
        out["extract.rows"] = rows("extracted")
        out["compile.triples"] = rows("base_triples")
        out["mentions.pairs"] = rows("mentions")
        cand = rows("candidates")
        out["linking.lsh.candidates"] = cand
        out["linking.lsh.edges"] = rows("edges")
        out["linking.lsh.edges_per_candidate"] = rows("edges") / cand if cand else 0.0
        out["components.jobs"] = group("fused", "canon").jobs
        out["components.nodes"] = rows("canon")
        out["pipeline.write.tasks"] = group("fused", "triples").kind_tasks.get("write", 0)
        out["pipeline.bucket_skew"] = self._bucket_skew(self.outputs[-1])
        # checkpoint, lineage and resume, from the crashed and recovered build
        cwalls = walls(self.pipes["stage"])
        for s in KG_STAGES:
            out[f"stage.{s}.wall_s"] = cwalls.get(s, 0.0)
            out[f"stage.{s}.jobs"] = group("stage", s).jobs
        everything = group("stage", *KG_STAGES)
        out["pipeline.lineage_s"] = everything.kind_wall_s.get("lineage", 0.0)
        out["pipeline.written_mb"] = everything.written_bytes / eventlog.MB
        res = self.pipes["stage"][-1].results
        out["recover.resumed_stages"] = sum(r.resumed for r in res.values())
        out["recover.recomputed_stages"] = sum(not r.resumed for r in res.values())
        return out

    def _bucket_skew(self, triples: str) -> float:
        self.spark.sparkContext.setJobGroup("check", "check")
        counts = [r["n"] for r in self.spark.read.parquet(triples)
                  .groupBy("subj_bucket").agg(F.count(F.lit(1)).alias("n")).collect()]
        return max(counts) / (sum(counts) / len(counts)) if counts else 0.0


# -- SPARQL over R2RML ------------------------------------------------------------


SHAPES = ("bsbm_bi1", "bsbm_bi2", "bsbm_bi3", "bsbm_bi4",
          "bsbm_bi5", "bsbm_bi7", "bsbm_explore1", "bsbm_explore5")
MAX_ROUNDS = 12


class SparqlBSBM(Workload):
    """The operation is one query mix (BSBM's unit: a round of every
    shape).  The 8 requests of a round differ by shape far more than rounds
    differ from each other, so per-request percentiles over a round or two
    would measure the mix, not the program.  Per-request walls and CPU
    times are in the context line."""

    name = "sparql_bsbm"

    def make_inputs(self) -> None:
        self.tables_dir = inputs.write_tables(
            self.path("inputs"), inputs.bsbm_tables(self.ctx.seed, self.ctx.scale))
        self.requests = inputs.bsbm_requests(self.ctx.seed, self.ctx.scale, MAX_ROUNDS)
        self.done: list[tuple] = []  # (request, columns, rows | None)
        self.parse_s: list[float] = []
        self.compile_s: dict[str, list[float]] = {s: [] for s in SHAPES}
        self.execute_s: dict[str, list[float]] = {s: [] for s in SHAPES}
        self.plan_ms: list[float] = []
        self.rows_total = 0
        self.next_round = 0

    def setup(self, spark) -> None:
        self.spark = spark
        tables = {t: spark.read.parquet(os.path.join(self.tables_dir, f"{t}.parquet"))
                  for t in bsbm.BSBM_TABLES}
        self.store = bsbm.bsbm_store(spark, tables)

    def _request(self, req, traced: bool) -> float:
        """One request: ``store.query(text)`` then ``.collect()``; returns
        its wall.  Traced, parse / compile / execute are separate spans
        (the parse span re-parses the text, as ``store.query`` does)."""
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        try:
            if traced:
                sc.setJobGroup("sparql.parse", "parse")
                parse_query(req.sparql, init_ns=bsbm.NS)
                self.parse_s.append(time.perf_counter() - t0)
                self.trace_extra += self.parse_s[-1]
                sc.setJobGroup("sparql.compile", "compile")
            t1 = time.perf_counter()
            df = self.store.query(req.sparql)
            t2 = time.perf_counter()
            if traced:
                sc.setJobGroup("sparql.execute", "execute")
            rows = df.collect()
            t3 = time.perf_counter()
            if traced:
                sc.setJobGroup(OP_GROUP, OP_GROUP)
                self.compile_s[req.shape].append(t2 - t1)
                self.execute_s[req.shape].append(t3 - t2)
                self.plan_ms.append(_planning_ms(df))
                self.rows_total += len(rows)
                self.trace_extra += time.perf_counter() - t3
            self.done.append((req, df.columns, rows))
        except Exception:  # a failed request is counted, never retried
            t3 = time.perf_counter()
            traceback.print_exc()
            self.done.append((req, None, None))
        return t3 - t0

    def op(self, traced: bool) -> None:
        """One query mix: every shape once, with the round's constants."""
        r = self.next_round
        self.next_round += 1
        lat, cpu = [], []
        for shape in SHAPES:
            c0 = host.work_cpu_s()
            lat.append(self._request(self.requests[shape][r], traced))
            cpu.append(host.work_cpu_s() - c0)
        self.context.setdefault("request_walls_s", []).extend(round(x, 4) for x in lat)
        self.context.setdefault("request_cpu_s", []).extend(round(x, 4) for x in cpu)
        self.cpu.append(sum(cpu))
        self.lat.append(sum(lat))

    def exhausted(self) -> bool:
        # every round needs constants no earlier round used
        return self.next_round >= min(len(v) for v in self.requests.values())

    def check(self) -> tuple[int, int]:
        con = duckdb.connect()
        for t in os.listdir(self.tables_dir):
            name = t.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.tables_dir, t)}')")
        failed = 0
        for req, cols, rows in self.done:
            if rows is None:
                failed += 1
                continue
            res = con.execute(req.oracle_sql)
            ocols = [d[0] for d in res.description]
            full = check.norm_rows([dict(zip(ocols, r)) for r in res.fetchall()], ocols)
            try:
                got = check.norm_rows([r.asDict() for r in rows], ocols)
            except KeyError:
                failed += 1
                continue
            failed += not check.response_matches(got, full, ocols, req.limit, req.order_cols)
        con.close()
        return len(self.done), failed

    def layer_metrics(self, spans):
        out: dict[str, float] = {}
        med = lambda xs: statistics.median(xs) * 1000 if xs else 0.0  # noqa: E731
        out["sparql.parse_ms"] = med(self.parse_s)
        allc = [x for v in self.compile_s.values() for x in v]
        alle = [x for v in self.execute_s.values() for x in v]
        out["sparql.compile_ms"] = med(allc)
        out["sparql.compile_jobs"] = spans.get("sparql.compile", eventlog.SpanStats()).jobs
        out["sparql.plan_ms"] = statistics.median(self.plan_ms) if self.plan_ms else 0.0
        out["sparql.execute_ms"] = med(alle)
        out["sparql.rows"] = self.rows_total
        for s in SHAPES:
            short = s.removeprefix("bsbm_")
            out[f"sparql.{short}.compile_ms"] = med(self.compile_s[s])
            out[f"sparql.{short}.execute_ms"] = med(self.execute_s[s])
        out.update(eventlog.span_metrics("sparql.compile", spans.get("sparql.compile")))
        out.update(eventlog.span_metrics("sparql.execute", spans.get("sparql.execute")))
        return out


def _planning_ms(df) -> float:
    """Analysis + optimization + planning time Spark's QueryPlanningTracker
    recorded for ``df`` (0 when the tracker is unavailable)."""
    try:
        jvm = df.sparkSession.sparkContext._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            df._jdf.queryExecution().tracker().phases())
        return float(sum(phases.get(k).durationMs() for k in phases.keySet()))
    except Exception:
        return 0.0


WORKLOADS = {w.name: w for w in (KGBuild, SparqlBSBM)}

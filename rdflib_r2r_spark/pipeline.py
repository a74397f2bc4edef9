"""End-to-end KG-construction pipeline with per-stage checkpoint-resume and
per-partition lineage (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Stage graph (each stage = parquet dir + manifest):

    documents ─> pages ─> extracted ─┬─> base_triples (R2RML mapping compile)
                                     ├─> alias_dict ─> mentions ─> mention_triples
                                     └─> sigs ─> edges (MinHash-LSH) ─> canon ─> sameas_triples
    triples = union(base, mention, sameas triples) ─> storage.bucketed ─> write

Both ``checkpoint_stages`` modes run the same body for every stage; they
differ only in what is materialized between stages.  The triple table is
rendered first and then exchanged once on its subject bucket, so its write
leaves one file per bucket.

Commit contract: a stage launches no Spark job beyond its write.  The
driver then lists its part files and reads each row count from the parquet
footer.  Lineage lives in ``_manifests/<stage>.json`` (fingerprint, params,
rows, read-back schema) as one row per output file; there is no
``_lineage/`` directory.  The stage frame is read from that file list under
that schema, so no schema-inference or listing job runs.

Resume contract: a stage is NOT recomputed when its manifest fingerprint
(input fingerprint + stage version + params + upstream fingerprints) matches,
no upstream checkpoint was rewritten in this run, and every file the manifest
lists is on disk with its recorded size.  Otherwise the stage, and so every
checkpoint downstream of it, is recomputed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rdflib_r2r_spark import storage, terms
from rdflib_r2r_spark.compiler import SparkMappingCompiler
from rdflib_r2r_spark.mapping import (
    LogicalSource,
    PredicateObjectMap,
    SubjectMap,
    TermMap,
    TriplesMap,
    const_iri,
)
from rdflib_r2r_spark.sparql.bgp import BGPCompiler
from rdflib_r2r_spark.web import components, linking, mentions as men, pages as pg
from rdflib_r2r_spark.web.extract import EXTRACTOR_VERSION, extract_text

PIPELINE_VERSION = "3"  # v3: footer-derived manifests (file list + schema), no _lineage/
EX = "http://ex.org/"


def pages_triples_map() -> TriplesMap:
    """The R2RML generalization: the web-pages table is the logical source;
    subject = url-template IRI (SURVEY.md §0 'key insight')."""
    return TriplesMap(
        name="pages",
        source=LogicalSource(table="pages"),
        # rr:column + rr:termType rr:IRI: the url column IS the subject IRI
        # (a template slot would percent-encode it, per R2RML).
        subject_map=SubjectMap(column="url", term_type="IRI", classes=(EX + "Document",)),
        pomaps=(
            PredicateObjectMap(
                predicates=(const_iri(EX + "lang"),),
                objects=(TermMap(column="lang"),),
            ),
            PredicateObjectMap(
                predicates=(const_iri(EX + "fetched"),),
                objects=(TermMap(column="warc_ts", datatype=terms.XSD_DATETIME),),
            ),
        ),
    )


# Spark lists more input paths than this in a parallel listing job; up to
# it, the driver lists them itself.
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")
_LINEAGE_SCHEMA = "file string, rows bigint, stage string, fingerprint string, wall_seconds double"


def _as_nullable(node):
    """Schema JSON with every field, element and value nullable, as Spark
    reads file sources back."""
    if isinstance(node, list):
        return [_as_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    return {k: True if k in _NULLABLE_KEYS else v if k == "metadata" else _as_nullable(v)
            for k, v in node.items()}


def _read_back_schema(written: StructType, partition_by: str | None, files: list[str]) -> StructType:
    """The schema ``spark.read.parquet`` infers for the table a write of
    ``written`` left as ``files``: the data columns made nullable, then the
    (integral) partition column, int when every ``<col>=<value>/`` directory
    value fits 32 bits, else long."""
    fields = [_as_nullable(f.jsonValue()) for f in written.fields if f.name != partition_by]
    if partition_by:
        values = [int(f.split(os.sep, 1)[0].partition("=")[2]) for f in files]
        typ = "integer" if all(-(2**31) <= v < 2**31 for v in values) else "long"
        fields.append({"name": partition_by, "type": typ, "nullable": True, "metadata": {}})
    return StructType.fromJson({"type": "struct", "fields": fields})


@dataclass
class StageResult:
    name: str
    path: str
    fingerprint: str
    resumed: bool
    seconds: float
    rows: int | None = None


@dataclass
class KGPipeline:
    spark: SparkSession
    sf_dir: str
    workdir: str
    num_buckets: int = 64
    dict_size: int = 24
    num_hashes: int = 8
    band_rows: int = 2
    threshold: float = 0.5
    resume: bool = True
    # checkpoint_stages=False runs the same stage bodies as one DAG:
    # multi-consumer intermediates are memory/disk-persisted instead of
    # parquet round-tripped, and only the final bucketed triple table (plus
    # its manifest) hits storage. Checkpointed mode (default) is the
    # resumable production shape — on a cluster its writes go to
    # distributed storage, locally they serialize on one disk.
    checkpoint_stages: bool = True
    # fused mode persists the multi-consumer frames.  'extracted' (big text,
    # 4 consumers) is also materialized once: round-7 A/B at sf1.0 (min-of-2
    # fused walls, widened scans) measured persist 7.64s < inline 8.46s <
    # parquet round-trip 9.98s.
    _PERSISTED = ("sigs", "extracted")
    results: dict[str, StageResult] = field(default_factory=dict)

    # -- checkpoint/lineage machinery ----------------------------------------

    def _input_fingerprint(self) -> str:
        p = os.path.join(self.sf_dir, "documents.parquet")
        st = os.stat(p)
        return hashlib.sha256(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()[:16]

    def _params(self) -> dict:
        return {
            "pipeline_version": PIPELINE_VERSION,
            "extractor_version": EXTRACTOR_VERSION,
            "num_buckets": self.num_buckets,
            "dict_size": self.dict_size,
            "num_hashes": self.num_hashes,
            "band_rows": self.band_rows,
            "threshold": self.threshold,
        }

    def _fingerprint(self, name: str, upstream: list[str]) -> str:
        payload = json.dumps(
            {
                "input": self._input_fingerprint(),
                "params": self._params(),
                "stage": name,
                "upstream": [self.results[u].fingerprint for u in upstream],
            },
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.workdir, "_manifests", f"{name}.json")

    def _resumable(self, name: str, upstream: list[str], fp: str) -> dict | None:
        """The stage's manifest if the stage may be read back instead of
        recomputed: same fingerprint, no upstream checkpoint rewritten in
        this run, and every listed file present with its recorded size (a
        partial table is recomputed, never read)."""
        if not self.resume or any(self.results[u].path and not self.results[u].resumed
                                  for u in upstream):
            return None
        try:
            with open(self._manifest_path(name)) as f:
                manifest = json.load(f)
        except OSError:
            return None
        if manifest.get("fingerprint") != fp:
            return None
        path = os.path.join(self.workdir, name)
        for f in manifest["files"]:
            p = os.path.join(path, f["file"])
            if not os.path.isfile(p) or os.path.getsize(p) != f["bytes"]:
                return None
        return manifest

    def _read(self, path: str, manifest: dict) -> DataFrame:
        """The stage table, from the manifest's file list and schema: no
        schema-inference job, and no listing job however many files."""
        schema = StructType.fromJson(manifest["schema"])
        files = [os.path.join(path, f["file"]) for f in manifest["files"]]
        if not files:
            return self.spark.createDataFrame([], schema)
        conf = self.spark.conf
        threshold = conf.get(_LISTING_THRESHOLD)
        conf.set(_LISTING_THRESHOLD, str(max(len(files), int(threshold))))
        try:
            return self.spark.read.schema(schema).option("basePath", path).parquet(*files)
        finally:
            conf.set(_LISTING_THRESHOLD, threshold)

    def stage(self, name: str, upstream: list[str], compute, partition_by: str | None = None) -> DataFrame:
        """Run-or-resume one stage; persist parquet + manifest."""
        fp = self._fingerprint(name, upstream)
        path = os.path.join(self.workdir, name)
        t0 = time.time()
        if not self.checkpoint_stages and name != "triples":
            df = compute()
            if name in self._PERSISTED:
                df = df.persist()
            if name == "extracted":
                df.count()  # materialize once, under this stage's wall
            self.results[name] = StageResult(name, "", fp, False, time.time() - t0, None)
            return df
        manifest = self._resumable(name, upstream, fp)
        if manifest is not None:
            self.results[name] = StageResult(name, path, fp, True, time.time() - t0,
                                             manifest["rows"])
            return self._read(path, manifest)

        df = compute()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)

        # lineage from the footers: metadata reads on the driver, no job
        rels = sorted(glob.glob("**/*.parquet", root_dir=path, recursive=True))
        files = [{"file": f, "rows": pq.read_metadata(os.path.join(path, f)).num_rows,
                  "bytes": os.path.getsize(os.path.join(path, f))} for f in rels]
        rows = sum(f["rows"] for f in files)
        manifest = {"fingerprint": fp, "params": self._params(), "rows": rows,
                    "schema": _read_back_schema(df.schema, partition_by, rels).jsonValue(),
                    "files": files, "wall_seconds": time.time() - t0}
        mpath = self._manifest_path(name)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        with open(mpath + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(mpath + ".tmp", mpath)
        self.results[name] = StageResult(name, path, fp, False, time.time() - t0, rows)
        return self._read(path, manifest)

    def lineage(self) -> DataFrame:
        """One row per output file of every written stage, from the
        manifests (no Spark job until an action)."""
        rows = []
        for mpath in sorted(glob.glob(os.path.join(self.workdir, "_manifests", "*.json"))):
            with open(mpath) as f:
                m = json.load(f)
            name = os.path.basename(mpath).removesuffix(".json")
            rows += [(os.path.join(self.workdir, name, f["file"]), f["rows"], name,
                      m["fingerprint"], m["wall_seconds"]) for f in m.get("files", [])]
        return self.spark.createDataFrame(rows, _LINEAGE_SCHEMA)

    # -- stages ---------------------------------------------------------------

    def run(self) -> DataFrame:
        from rdflib_r2r_spark.session import widen_scan

        spark = self.spark
        docs_path = os.path.join(self.sf_dir, "documents.parquet")
        # the corpus is opened only when 'pages' is computed: reading it
        # infers its schema in a job, which a resumed run must not pay
        pages = self.stage("pages", [], lambda: pg.pages_from_documents(
            widen_scan(spark, docs_path)))
        extracted = self.stage("extracted", ["pages"], lambda: pages.select(
            "url", "warc_ts", "lang", extract_text(F.col("html")).alias("text")))
        base_triples = self.stage("base_triples", ["extracted"], lambda: BGPCompiler(
            [pages_triples_map()], SparkMappingCompiler(spark, {"pages": extracted})).dump())
        alias_dict = self.stage("alias_dict", ["extracted"],
                                lambda: men.build_alias_dict(extracted, size=self.dict_size))
        sigs = self.stage("sigs", ["extracted"],
                          lambda: linking.signatures(extracted, num_hashes=self.num_hashes))
        # minhash signatures are checkpointed above, so the candidate
        # self-join and verification read parquet instead of re-hashing
        # the corpus on every branch of the join.
        edges = self.stage("edges", ["sigs"], lambda: linking.near_dup_edges(
            sigs, num_hashes=self.num_hashes, band_rows=self.band_rows,
            threshold=self.threshold))
        # the distinct (url, entity_id) pair set
        mention_rows = self.stage("mentions", ["extracted", "alias_dict"],
                                  lambda: men.mention_entities(extracted, alias_dict))
        canon = self.stage("canon", ["edges"], lambda: components.canonical_map(edges))

        def _wrap(c):
            return F.concat(F.lit("<"), c, F.lit(">"))

        def _same_triples(canon_df: DataFrame) -> DataFrame:
            return canon_df.select(
                _wrap(F.col("node")).alias("subj"),
                F.lit(f"<{EX}duplicateOf>").alias("pred"),
                _wrap(F.col("canonical")).alias("obj"),
                F.lit(None).cast("string").alias("obj_dt"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("graph"),
            )

        def build_triples() -> DataFrame:
            mt = men.mention_triples(mention_rows)
            allt = base_triples.unionByName(mt).unionByName(_same_triples(canon))
            return storage.bucketed(allt, self.num_buckets)

        triples = self.stage("triples", ["base_triples", "mentions", "canon"],
                             build_triples, partition_by=storage.BUCKET_COL)
        return triples

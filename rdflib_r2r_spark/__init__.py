"""rdflib_r2r_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference ``rdflib-r2r`` (a virtual-KG
SPARQL->SQL rewriter; see /root/reference) as a *materializing*, batch,
Spark-first pipeline:

- R2RML-style triples-maps (template / column / constant term maps, typed
  literals, blank-node skolemization, referencing-object-map joins) compiled
  into Spark SQL statements: the term maps by ``compiler``, SPARQL basic
  graph patterns and the full dump by ``sparql.bgp.BGPCompiler``.
- Web-document generalization per the north star: HTML->text extraction
  (Arrow pandas UDF), mention detection + broadcast alias dictionary,
  MinHash-LSH candidate blocking, hash-min connected-components
  canonicalization, bucketed triple-table materialization with per-partition
  lineage and checkpoint-resume (``pipeline``).
- Training-data operators: dedup family, ANN similarity, text analysis
  (``operators``).

Everything here derives from public knowledge only: the Apache Spark API and
the reference repo's observable behavior.
"""

__version__ = "0.1.0"

from rdflib_r2r_spark.mapping import (  # noqa: F401
    JoinCondition,
    LogicalSource,
    PredicateObjectMap,
    SubjectMap,
    TermMap,
    TriplesMap,
)
from rdflib_r2r_spark.compiler import SparkMappingCompiler  # noqa: F401

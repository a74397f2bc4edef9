"""One Spark SQL statement under construction.

A SPARQL query compiles to ONE ``spark.sql`` call: every BGP and every
operator above it is a query block of that statement, nested as a derived
table in the block that reads it, and the query's constants are its named
parameters.  Catalyst sees the same logical plan that the equivalent
DataFrame calls would build, analyzed once instead of once per call.

An ``rr:sqlQuery`` source, which several scans of a query can read, is a
CTE, defined once.  A block is read once, so it is a derived table, not a
CTE: Catalyst would inline such a CTE anyway, and its ``InlineCTE`` rule
took 108 of a warm BSBM mix's 485 ms of analyzer and optimizer rule time
with every block a CTE, against 5 of 254 ms as derived tables (Spark's
``RuleExecutor`` timings, perfbench inputs, 4 cores).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from rdflib_r2r_spark.compiler import SparkMappingCompiler
from rdflib_r2r_spark.mapping import LogicalSource

# temp view names are session-wide: a counter keeps two statements that
# are built at once apart
_VIEW_NUMBERS = itertools.count(1)


class Statement:
    def __init__(self, spark: SparkSession, compiler: SparkMappingCompiler):
        self.spark = spark
        self.compiler = compiler
        self.ctes: list[str] = []  # "name AS (body)", in definition order
        self.args: dict = {}  # named parameters
        self.views: dict[str, DataFrame] = {}  # relations that are not SQL
        self._sources: dict[str, str] = {}  # logical source key -> CTE name

    def param(self, value) -> str:
        """Bind a query constant as a named parameter (never spliced into
        the text)."""
        name = f"c{len(self.args)}"
        self.args[name] = value
        return ":" + name

    def source(self, source: LogicalSource) -> str:
        """A logical source in a FROM clause: a table's view, or the CTE of
        an ``rr:sqlQuery`` source, defined once however many scans read it."""
        if source.table is not None:
            return self.compiler.source_sql(source)
        key = source.key()
        if key not in self._sources:
            name = f"__s{len(self.ctes) + 1}"
            self.ctes.append(f"{name} AS (SELECT * FROM {self.compiler.source_sql(source)})")
            self._sources[key] = name
        return self._sources[key]

    def view(self, df: DataFrame) -> str:
        """A DataFrame the statement reads (a transitive closure, the
        dump), under a temp view that exists only while the statement is
        analyzed."""
        for name, known in self.views.items():
            if known is df:
                return name
        name = f"__r2r_v{next(_VIEW_NUMBERS)}"
        self.views[name] = df
        return name

    def run(self, select: str) -> DataFrame:
        """The statement with ``select`` as its final query block."""
        text = (f"WITH {', '.join(self.ctes)} " if self.ctes else "") + select
        for name, df in self.views.items():
            df.createOrReplaceTempView(name)
        try:
            return self.spark.sql(text, args=self.args or None)
        finally:
            for name in self.views:
                self.spark.catalog.dropTempView(name)

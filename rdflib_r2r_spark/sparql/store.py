"""SparkR2RStore: the user-facing store API over an R2RML mapping.

Mirrors the reference's ``R2RStore`` surface (reference:
rdflib_r2r/r2r_store.py):

- ``query(sparql)``       -> DataFrame of bindings (r2r_store.py:59-93)
- ``exec(sparql)``        -> iterator of {var: typed Python value} rows, the
  SQL-value -> RDF-term decoding of ``make_node`` (r2r_store.py:125-148)
- ``triples((s, p, o))``  -> pattern-scan iterator (r2r_store.py:150-169)
- ``get_sql(...)``        -> executable SQL text for the mapping dump /
  a SPARQL query's plan, the ``SQLConverter.getSQL`` equivalent
  (sql_converter.py:284-289)
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.compiler import SparkMappingCompiler
from rdflib_r2r_spark.mapping import TriplesMap
from rdflib_r2r_spark.oracle import mapping_to_duckdb_sql
from rdflib_r2r_spark.sparql import ast_nodes as A
from rdflib_r2r_spark.sparql.bgp import BGPCompiler
from rdflib_r2r_spark.sparql.evaluator import BindingFrame, Evaluator
from rdflib_r2r_spark.sparql.parser import parse_query


# -- typed term model for read-back ------------------------------------------------

class URI(str):
    """An IRI term (value excludes angle brackets)."""

    __slots__ = ()


class BNode(str):
    __slots__ = ()


class LangLiteral(str):
    """Language-tagged literal; ``.lang`` holds the tag."""

    lang: str

    def __new__(cls, value: str, lang: str):
        o = super().__new__(cls, value)
        o.lang = lang
        return o


def make_node(lex: str | None, dt: str | None = None, lang: str | None = None):
    """Decode one encoded term into a typed Python value — the engine's twin
    of the reference's ``make_node`` (reference: r2r_store.py:125-148)."""
    if lex is None:
        return None
    if lex.startswith("<") and lex.endswith(">"):
        return URI(lex[1:-1])
    if lex.startswith("_:"):
        return BNode(lex[2:])
    if lang:
        return LangLiteral(lex, lang)
    if dt in (terms.XSD_INTEGER, terms.XSD + "int", terms.XSD + "long"):
        return int(lex)
    if dt in (terms.XSD_DOUBLE, terms.XSD_DECIMAL, terms.XSD + "float"):
        return float(lex)
    if dt == terms.XSD_BOOLEAN:
        return lex == "true"
    if dt == terms.XSD_HEXBINARY:
        # binary DB values round-trip through base-16 lexicals (reference
        # r2r_store.py:130-134 encodes bytes as xsd:hexBinary)
        return bytes.fromhex(lex)
    if dt == terms.XSD_DATE:
        return _dt.date.fromisoformat(lex)
    if dt == terms.XSD_DATETIME:
        return _dt.datetime.fromisoformat(lex.replace("Z", "+00:00"))
    return lex


class SparkR2RStore:
    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame],
                 tmaps: list[TriplesMap], init_ns: dict[str, str] | None = None):
        self.spark = spark
        self.tables = tables
        self.tmaps = list(tmaps)
        self.init_ns = dict(init_ns or {})
        self.compiler = SparkMappingCompiler(spark, tables)
        self._dump: DataFrame | None = None
        self._plan_cache: dict = {}

    # -- dump ---------------------------------------------------------------------

    def dump(self) -> DataFrame:
        """The full (virtual) triple dump: a lazy DataFrame plan, compiled
        once and reused."""
        if self._dump is None:
            self._dump = BGPCompiler(self.tmaps, self.compiler).dump()
        return self._dump

    # -- query --------------------------------------------------------------------

    def _evaluator(self) -> Evaluator:
        return Evaluator(
            self.spark,
            BGPCompiler(self.tmaps, self.compiler),
            self.dump,
        )

    def _parse(self, sparql: str, init_ns: dict[str, str] | None):
        ns = {**self.init_ns, **(init_ns or {})}
        return parse_query(sparql, init_ns=ns)

    def query(self, sparql: str, init_ns: dict[str, str] | None = None,
              init_bindings: dict[str, object] | None = None) -> DataFrame:
        """SPARQL text -> result DataFrame. SELECT yields one column per
        projected variable (term-encoded strings for RDF terms, native types
        for expression results); ASK yields one boolean row; CONSTRUCT yields
        the 6-column triple schema. ``init_bindings`` pre-binds variables
        (the reference's initBindings injection, r2r_store.py:62-75) by
        joining a one-row VALUES relation onto the pattern."""
        if not init_bindings:
            # prepared-plan cache: compiling SPARQL to a DataFrame costs
            # real time (BGP candidate enumeration, building the query's
            # statement, Spark's analysis of it); DataFrames are
            # immutable, so repeated
            # query TEXT reuses the compiled plan exactly like a prepared
            # statement.  The logical sources and the tables' views are
            # built once per store by the mapping compiler, not here.
            # Keyed on (text, extra namespaces); bindings mutate the AST,
            # so bound queries skip the cache.
            key = (sparql, tuple(sorted((init_ns or {}).items())))
            hit = self._plan_cache.get(key)
            if hit is not None:
                return hit
            out = self._query_uncached(sparql, init_ns)
            if len(self._plan_cache) >= 64:
                self._plan_cache.pop(next(iter(self._plan_cache)))
            self._plan_cache[key] = out
            return out
        return self._query_uncached(sparql, init_ns, init_bindings)

    def _query_uncached(self, sparql: str, init_ns: dict[str, str] | None = None,
                        init_bindings: dict[str, object] | None = None) -> DataFrame:
        q = self._parse(sparql, init_ns)
        if init_bindings:
            from rdflib_r2r_spark.sparql.ast_nodes import Join, Lit, ValuesPat, Var as AVar

            def term_of(v):
                if isinstance(v, URI):
                    return A.IRI(str(v))
                if isinstance(v, bool):
                    return Lit("true" if v else "false", datatype=terms.XSD_BOOLEAN)
                if isinstance(v, int):
                    return Lit(str(v), datatype=terms.XSD_INTEGER)
                if isinstance(v, float):
                    return Lit(str(v), datatype=terms.XSD_DOUBLE)
                return Lit(str(v))

            names = sorted(init_bindings)
            vp = ValuesPat([AVar(n) for n in names],
                           [[term_of(init_bindings[n]) for n in names]])
            if hasattr(q, "where") and q.where is not None:
                q.where = Join(q.where, vp)
        ev = self._evaluator()
        if isinstance(q, A.SelectQuery):
            return ev.eval_select(q)
        if isinstance(q, A.AskQuery):
            return ev.eval_ask(q)
        if isinstance(q, A.ConstructQuery):
            return ev.eval_construct(q)
        if isinstance(q, A.DescribeQuery):
            return ev.eval_describe(q)
        raise TypeError(f"unsupported query form {type(q).__name__}")

    def _query_bf(self, sparql: str, init_ns=None) -> tuple[DataFrame, BindingFrame]:
        """A SELECT's solutions with every term column, and their frame."""
        q = self._parse(sparql, init_ns)
        if not isinstance(q, A.SelectQuery):
            raise TypeError("exec() requires a SELECT query")
        return self._evaluator().select_frame(q)

    def exec(self, sparql: str, init_ns: dict[str, str] | None = None
             ) -> Iterator[dict[str, object]]:
        """Typed binding iterator: each solution is {var: Python value} with
        SQL values decoded to RDF-term types (reference: r2r_store.py:150-169
        ``exec`` + make_node)."""
        df, bf = self._query_bf(sparql, init_ns)
        term_vars = sorted(bf.term_vars)
        native_vars = sorted(bf.native_vars)
        for row in df.toLocalIterator():
            d = row.asDict()
            out: dict[str, object] = {}
            for v in term_vars:
                out[v] = make_node(d.get(v), d.get(f"{v}__dt"), d.get(f"{v}__lang"))
            for v in native_vars:
                out[v] = d.get(v)
            yield out

    def triples(self, pattern=(None, None, None), graph: str | None = None
                ) -> Iterator[tuple]:
        """Pattern-scan API: yields decoded (s, p, o) tuples matching the
        (s, p, o) pattern of IRIs/typed values/None wildcards."""
        s, p, o = pattern
        df = self.dump()
        df = df.filter(F.col("graph").isNull()) if graph is None else df.filter(
            F.col("graph") == f"<{graph}>"
        )
        if s is not None:
            df = df.filter(F.col("subj") == _encode_for_match(s))
        if p is not None:
            df = df.filter(F.col("pred") == _encode_for_match(p))
        if o is not None:
            df = df.filter(F.col("obj") == _encode_for_match(o))
        for row in df.toLocalIterator():
            yield (
                make_node(row["subj"]),
                make_node(row["pred"]),
                make_node(row["obj"], row["obj_dt"], row["obj_lang"]),
            )

    # -- offline SQL export (reference: sql_converter.py:284-289 getSQL) ------------

    def get_sql(self, table_names: dict[str, str] | None = None) -> str:
        """Executable SQL text of the full mapping dump — runnable by BOTH
        ``spark.sql`` (against temp views of the source tables) and DuckDB;
        the generator emits the engine-neutral dialect subset.  Double/
        timestamp columns render via the canonical XSD lexical twins so the
        text stays byte-identical to the compiled dump."""
        from rdflib_r2r_spark.canonical import column_types_for_canonical

        col_types = {
            name: ct
            for name, df in self.tables.items()
            if (ct := column_types_for_canonical(df.schema))
        }
        return mapping_to_duckdb_sql(self.tmaps, table_names=table_names,
                                     column_types=col_types)


def _encode_for_match(v) -> str:
    if isinstance(v, URI):
        return f"<{v}>"
    if isinstance(v, BNode):
        return f"_:{v}"
    if isinstance(v, str) and v.startswith("http"):
        return f"<{v}>"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)

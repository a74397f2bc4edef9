"""Render R2RML-style term maps as Spark SQL over their logical sources.

This module is the term-map half of the engine's one compiler: it reads
each logical source once per compiler (``source_df``, ``source_sql``),
renders a term map as (lexical, datatype, language) SQL texts
(``term_columns``), and rejects invalid mappings (``validate``).  The BGP
compiler (:mod:`rdflib_r2r_spark.sparql.bgp`) assembles those renders into
statements, and the full dump is one of them: the pattern ``?s ?p ?o`` over
every graph (``BGPCompiler.dump``).  That is the reference's current
design, where every pattern goes through one converter (reference:
rdflib_r2r/sql_converter.py:291-329 ``queryBGP``); its legacy dump engine
emitted every (triples-map x predicate-object-map) as one arm of a giant
UNION ALL (reference: docs/test-results/sqlite-rdb2rdf/R2RMLTC0000.md:7-15).

- **Renders are Spark SQL text.**  A caller parses all of its renders in
  one statement, not one gateway round trip per function.
- **NULL in, no term out.**  Every render is NULL when a column it reads is
  NULL (cast, template concat and canonicalization all propagate NULL), so
  the R2RML rule that a NULL input produces no triple is a guard on the raw
  columns.
- **Natural lexical forms.**  A column renders the canonical XSD lexical of
  its value (R2RML §10.2): doubles in scientific form, dateTimes with 'T'.
- Each logical source is built once per compiler; ``source_sql`` is its
  text in a FROM clause, over one compiler-private temp view per table.

Output schema of the dump: ``subj, pred, obj, obj_dt, obj_lang, graph`` —
all strings; term encoding per ``terms`` module.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.canonical import canonical_datetime_sql, canonical_double_spark_sql
from rdflib_r2r_spark.mapping import (
    LogicalSource,
    TermMap,
    TriplesMap,
    xsd_for_spark_type,
)
from rdflib_r2r_spark.templates import template_columns, template_to_spark_sql


class MappingError(ValueError):
    pass


NULL_STR = "CAST(NULL AS STRING)"
# numbers the tables' temp views: view names are session-wide, and a
# counter, not an address, keeps plan texts the same from run to run
_TABLE_NUMBERS = itertools.count(1)


def sql_ident(name: str) -> str:
    """Backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _identifiers(sql: str) -> set[str]:
    """Every word and quoted name of an SQL text, lower-cased: a superset
    of the tables it names (a word that names no table costs one unused
    CTE; a table left out would be read from the session's catalog)."""
    words = re.findall(r'"((?:[^"]|"")*)"|`((?:[^`]|``)*)`|(\w+)', sql)
    return {(dq.replace('""', '"') or bq.replace("``", "`") or w).lower()
            for dq, bq, w in words}


class SparkMappingCompiler:
    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.tables = dict(tables or {})
        # per logical source key, built on first use: the DataFrame and its
        # column types
        self._sources: dict[str, DataFrame] = {}
        self._types: dict[str, dict] = {}
        # table name -> the temp view SQL text reads it by, registered
        # for every table at once the first time SQL text needs one
        self._table_view: dict[str, str] | None = None

    # -- sources ------------------------------------------------------------

    def source_types(self, source: LogicalSource) -> dict:
        """Column name -> Spark type of a logical source, read once."""
        key = source.key()
        if key not in self._types:
            self._types[key] = {
                f.name: f.dataType for f in self.source_df(source).schema.fields}
        return self._types[key]

    def source_df(self, source: LogicalSource) -> DataFrame:
        """rr:tableName -> registered/catalog table; rr:sqlQuery -> its
        :meth:`source_sql` text (reference: rdflib_r2r/r2r_mapping.py:28-40
        ``_get_table``).  Built once per compiler (see
        :meth:`build_sources`)."""
        self.build_sources([source])
        return self._sources[source.key()]

    def build_sources(self, sources) -> None:
        """Build each logical source not built yet: a table source is the
        table's DataFrame itself, an rr:sqlQuery source one ``spark.sql``
        over its :meth:`source_sql` text."""
        for source in sources:
            key = source.key()
            if key in self._sources:
                continue
            if source.table is not None:
                df = self.tables.get(source.table)
                self._sources[key] = (df if df is not None
                                      else self.spark.table(source.table))
            else:
                self._sources[key] = self.spark.sql(
                    "SELECT * FROM " + self.source_sql(source))

    def source_sql(self, source: LogicalSource) -> str:
        """SQL text of a logical source in a FROM clause.  Each table of the
        compiler is read through a temp view private to it (temp views are
        session-wide, so a user's view of the same name stays as it is):
        an rr:tableName source is that view, an rr:sqlQuery source a
        derived table whose CTEs give the tables it names their mapping
        names over the views, so the query reads this compiler's tables
        whatever the session binds those names to.  A table the compiler
        was not given is read from the catalog by its name."""
        if self._table_view is None:
            self._table_view = {}
            for name, df in self.tables.items():
                view = f"__r2r_t{next(_TABLE_NUMBERS)}"
                df.createOrReplaceTempView(view)
                self._table_view[name] = view
        if source.table is not None:
            view = self._table_view.get(source.table)
            return source.table if view is None else sql_ident(view)
        if source.sql_query is None:
            raise MappingError("logical source needs table or sql_query")
        named = _identifiers(source.sql_query)
        ctes = ", ".join(f"{sql_ident(name)} AS (SELECT * FROM {sql_ident(view)})"
                         for name, view in self._table_view.items()
                         if name.lower() in named)
        with_ = f"WITH {ctes} " if ctes else ""
        return f"({with_}SELECT * FROM ({source.sql_query}))"

    # -- term maps ----------------------------------------------------------

    def term_columns(
        self,
        tm: TermMap,
        position: str,
        sql_qualify,
        schema_types: dict,
    ) -> tuple[str, str, str]:
        """(lexical, datatype, language) Spark SQL texts for one term map.

        Mirrors the constant/column/template dispatch of
        ``match_node_to_term_map`` (reference: rdflib_r2r/sql_converter.py:81-176).

        ``sql_qualify(colname) -> str`` returns the SQL text of a source
        column (e.g. backtick-qualified ``alias.col``): a caller parses all
        its renders in one statement, not one gateway round trip per
        function.  Fixed texts go out through ``terms.spark_str_sql``.
        """
        from pyspark.sql import types as T

        def col(c):  # binary columns render as uppercase hex (xsd:hexBinary)
            s = sql_qualify(c)
            return f"hex({s})" if isinstance(schema_types.get(c), T.BinaryType) else s

        lit = terms.spark_str_sql
        ttype = tm.inferred_term_type(position)
        dt = lit(tm.datatype) if tm.datatype else NULL_STR
        lang = lit(tm.language) if tm.language else NULL_STR

        if tm.constant is not None:
            if ttype == "RawIRI":  # pre-rendered lexical (chain predicates)
                return lit(tm.constant), NULL_STR, NULL_STR
            if ttype == "IRI":
                return lit(terms.wrap_iri(tm.constant)), NULL_STR, NULL_STR
            if ttype == "BlankNode":
                return lit("_:" + tm.constant), NULL_STR, NULL_STR
            return lit(tm.constant), dt, lang

        if tm.column is not None:
            c = col(tm.column)
            if ttype == "IRI":
                # rr:termType rr:IRI on a column: value IS the IRI (no
                # encoding); RELATIVE values resolve against the mapping base
                # (R2RML §7.4), absolute ones pass through
                val = f"CAST({c} AS STRING)"
                if tm.base_iri:
                    val = (f"CASE WHEN {val} RLIKE '^[A-Za-z][A-Za-z0-9+.-]*:' "
                           f"THEN {val} ELSE concat({lit(tm.base_iri)}, {val}) END")
                return f"concat('<', {val}, '>')", NULL_STR, NULL_STR
            if ttype == "BlankNode":
                return f"concat('_:', {terms.iri_safe_sql_spark(c)})", NULL_STR, NULL_STR
            if tm.datatype is None:
                inferred = xsd_for_spark_type(schema_types[tm.column]) if tm.column in schema_types else None
                dt = lit(inferred) if inferred else NULL_STR
            # natural RDF lexical form = canonical XSD lexical of the column
            # VALUE (R2RML §10.2; W3C TC0005a/b, TC0012a/e, TC0016b/c) —
            # doubles render scientific (2.0E1), dateTimes get the 'T'
            src_t = schema_types.get(tm.column)
            if isinstance(src_t, (T.DoubleType, T.FloatType)):
                return canonical_double_spark_sql(c), dt, lang
            if isinstance(src_t, T.TimestampType):
                return canonical_datetime_sql(c), dt, lang
            return f"CAST({c} AS STRING)", dt, lang

        if tm.template is not None:
            integral = {c for c in template_columns(tm.template)
                        if xsd_for_spark_type(schema_types.get(c)) == terms.XSD_INTEGER}

            def render(iri: bool, wrap: bool) -> str:
                return template_to_spark_sql(tm.template, col, iri=iri, wrap=wrap,
                                             integral=integral)

            if ttype == "IRI":
                return render(True, True), NULL_STR, NULL_STR
            if ttype == "BlankNode":
                return f"concat('_:', {render(True, False)})", NULL_STR, NULL_STR
            return render(False, False), dt, lang

        raise MappingError(f"term map has no constant/column/template: {tm}")

    # -- mappings -----------------------------------------------------------

    def validate(self, tmaps: list[TriplesMap]) -> None:
        """Reject invalid mappings the way a conforming R2RML processor must
        (W3C negative test cases): literal subjects, non-IRI graphs, and
        referencing object maps to an unknown map or, with no join
        condition, to another logical source."""
        by_name = {tm.name: tm for tm in tmaps}
        for tmap in tmaps:
            if tmap.subject_map.inferred_term_type("S") == "Literal":
                raise MappingError(
                    f"triples map {tmap.name}: subject map must be IRI or "
                    "BlankNode, not Literal (R2RML §6)"
                )
            graph_tms = list(tmap.subject_map.graphs)
            for pom in tmap.pomaps:
                graph_tms.extend(pom.graphs)
            for g in graph_tms:
                if g is not None and g.inferred_term_type("G") != "IRI":
                    raise MappingError(
                        f"triples map {tmap.name}: graph map must be an IRI "
                        "(R2RML §9)"
                    )
            for obj in (o for pom in tmap.pomaps for o in pom.objects):
                parent = by_name.get(obj.parent_triples_map)
                if obj.parent_triples_map is not None and parent is None:
                    raise MappingError(f"unknown parentTriplesMap {obj.parent_triples_map!r}")
                if parent is not None and not obj.join_conditions \
                        and parent.source.key() != tmap.source.key():
                    raise MappingError("cross-table referencing map needs joinCondition")

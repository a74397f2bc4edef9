"""Compile R2RML-style triples-maps into Spark DataFrame plans.

The reference compiles SPARQL BGPs against the mapping into one SELECT per
consistent assignment and UNION ALLs them (reference:
rdflib_r2r/sql_converter.py:291-329 ``queryBGP``); its legacy dump engine
emitted every (triples-map x predicate-object-map) as one arm of a giant
UNION ALL (reference: docs/test-results/sqlite-rdb2rdf/R2RMLTC0000.md:7-15).
This engine materializes that dump semantics at scale.

Scale design (the part that matters at 100 TB):

- **One scan per logical source, not per arm.** All join-free arms over the
  same table are folded into a single pass with
  ``explode(array(struct(...per-arm...)))`` — N projections over one scan
  instead of N scans UNIONed. This subsumes the reference's
  subordinate-map self-join elimination (rdflib_r2r/sql_converter.py:427-455)
  and scan-sharing rewrites.
- **Joins on raw key columns, never on rendered IRIs** — referencing-object
  maps join on their rr:joinCondition columns directly, the reference's
  template-aware-equality trick (rdflib_r2r/conversion_utils.py:293-353)
  applied at materialization time. Narrow shuffle keys, cheap hashing.
- **NULL guards** (R2RML: a NULL input column produces no triple) ride on
  concat's NULL propagation and one post-explode filter — no Python, fully
  codegen'd.
- Referencing-object joins carry no hint: AQE picks the join strategy at
  runtime (a small parent table becomes a broadcast join by its size).
- **Renders are Spark SQL text.** ``term_columns`` returns SQL text for
  every term map, so a caller parses all of its renders in one call (one
  ``selectExpr`` per arm group here, one statement per BGP assignment in
  ``sparql/bgp.py``), not one gateway round trip per function.  Each
  logical source is built once per compiler.

Output schema: ``subj, pred, obj, obj_dt, obj_lang, graph`` — all strings;
term encoding per ``terms`` module.
"""

from __future__ import annotations

import itertools
from collections import defaultdict
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.canonical import canonical_datetime_sql, canonical_double_spark_sql
from rdflib_r2r_spark.mapping import (
    LogicalSource,
    TermMap,
    TriplesMap,
    xsd_for_spark_type,
)
from rdflib_r2r_spark.templates import template_columns, template_to_spark_sql

TRIPLE_COLS = ["subj", "pred", "obj", "obj_dt", "obj_lang", "graph"]
_TRIPLE_GUARD = "subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL"


class MappingError(ValueError):
    pass


_NULL_STR = "CAST(NULL AS STRING)"
# unique temp view names for the process (view names are session-wide);
# a counter, not an address, keeps plan texts the same from run to run
_VIEW_IDS = itertools.count(1)


def sql_ident(name: str) -> str:
    """Backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


class SparkMappingCompiler:
    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.tables = dict(tables or {})
        # per logical source key, built on first use: the DataFrame, its
        # column types and the temp view one SQL statement reads it by
        self._sources: dict[str, DataFrame] = {}
        self._types: dict[str, dict] = {}
        self._views: dict[str, str] = {}

    # -- sources ------------------------------------------------------------

    def source_types(self, source: LogicalSource) -> dict:
        """Column name -> Spark type of a logical source, read once."""
        key = source.key()
        if key not in self._types:
            self._types[key] = {
                f.name: f.dataType for f in self.source_df(source).schema.fields}
        return self._types[key]

    def source_df(self, source: LogicalSource) -> DataFrame:
        """rr:tableName -> registered/catalog table; rr:sqlQuery -> Spark SQL
        over the tables as temp views (reference:
        rdflib_r2r/r2r_mapping.py:28-40 ``_get_table``).  Built once per
        compiler (see :meth:`build_sources`)."""
        self.build_sources([source])
        return self._sources[source.key()]

    def build_sources(self, sources) -> None:
        """Build each logical source not built yet, registering the tables'
        temp views once for all the rr:sqlQuery sources among them.
        ``spark.sql`` analyzes a query against the views as they are bound
        at that moment, so a later re-binding of a view name (another
        compiler over other tables) does not reach a built source."""
        missing = {s.key(): s for s in sources if s.key() not in self._sources}
        if any(s.sql_query is not None for s in missing.values()):
            for name, df in self.tables.items():
                df.createOrReplaceTempView(name)
        for key, source in missing.items():
            if source.table is not None:
                df = self.tables.get(source.table)
                self._sources[key] = (df if df is not None
                                      else self.spark.table(source.table))
            elif source.sql_query is not None:
                self._sources[key] = self.spark.sql(source.sql_query)
            else:
                raise MappingError("logical source needs table or sql_query")

    def source_view(self, source: LogicalSource) -> str:
        """Name of a temp view of the logical source, registered once per
        compiler under a name no other compiler uses (temp views are
        session-wide), so one SQL statement can read several sources."""
        key = source.key()
        if key not in self._views:
            name = f"__r2r_source{next(_VIEW_IDS)}"
            self.source_df(source).createOrReplaceTempView(name)
            self._views[key] = name
        return self._views[key]

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
        dt = lit(tm.datatype) if tm.datatype else _NULL_STR
        lang = lit(tm.language) if tm.language else _NULL_STR

        if tm.constant is not None:
            if ttype == "RawIRI":  # pre-rendered lexical (chain predicates)
                return lit(tm.constant), _NULL_STR, _NULL_STR
            if ttype == "IRI":
                return lit(terms.wrap_iri(tm.constant)), _NULL_STR, _NULL_STR
            if ttype == "BlankNode":
                return lit("_:" + tm.constant), _NULL_STR, _NULL_STR
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
                return f"concat('<', {val}, '>')", _NULL_STR, _NULL_STR
            if ttype == "BlankNode":
                return f"concat('_:', {terms.iri_safe_sql_spark(c)})", _NULL_STR, _NULL_STR
            if tm.datatype is None:
                inferred = xsd_for_spark_type(schema_types[tm.column]) if tm.column in schema_types else None
                dt = lit(inferred) if inferred else _NULL_STR
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
                return render(True, True), _NULL_STR, _NULL_STR
            if ttype == "BlankNode":
                return f"concat('_:', {render(True, False)})", _NULL_STR, _NULL_STR
            return render(False, False), dt, lang

        raise MappingError(f"term map has no constant/column/template: {tm}")

    # -- arms ---------------------------------------------------------------

    def _graph_terms(self, tmap: TriplesMap, pom) -> list[TermMap | None]:
        graphs = tuple(pom.graphs) + tuple(tmap.subject_map.graphs)
        return list(graphs) if graphs else [None]

    def validate(self, tmaps: list[TriplesMap]) -> None:
        """Reject invalid mappings the way a conforming R2RML processor must
        (W3C negative test cases): literal subjects, non-IRI graphs."""
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

    def compile(self, tmaps: list[TriplesMap]) -> DataFrame:
        """Full-dump materialization: every arm of every triples-map."""
        self.validate(tmaps)
        by_name = {tm.name: tm for tm in tmaps}
        scan_arms: dict[str, list[tuple[TriplesMap, TermMap | None, TermMap, TermMap | None]]] = defaultdict(list)
        join_parts: list[DataFrame] = []

        for tmap in tmaps:
            # class triples: subject rdf:type class (sql_converter.py:340-345);
            # they inherit the subject map's graphMap (R2RML §9)
            for cls in tmap.subject_map.classes:
                for g in (list(tmap.subject_map.graphs) or [None]):
                    scan_arms[tmap.source.key()].append(
                        (tmap, None, terms_const_iri_typeobj(cls), g)
                    )
            for pom in tmap.pomaps:
                for pred in pom.predicates:
                    for obj in pom.objects:
                        for g in self._graph_terms(tmap, pom):
                            if obj.parent_triples_map is not None:
                                join_parts.append(
                                    self._compile_join_arm(tmap, pred, obj, g, by_name)
                                )
                            else:
                                scan_arms[tmap.source.key()].append((tmap, pred, obj, g))

        parts: list[DataFrame] = []
        for _key, arms in scan_arms.items():
            parts.append(self._compile_scan_arms(arms))
        parts.extend(join_parts)
        if not parts:
            raise MappingError("no arms to compile")
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _compile_scan_arms(self, arms) -> DataFrame:
        """All join-free arms over one logical source: ONE scan + explode."""
        source = arms[0][0].source
        df = self.source_df(source)
        types = self.source_types(source)

        rows: list[list[str]] = []
        for tmap, pred, obj, g in arms:
            subj = self.term_columns(tmap.subject_map, "S", sql_ident, types)[0]
            if pred is None:  # class arm
                p = terms.spark_str_sql(terms.wrap_iri(terms.RDF_TYPE))
                o = (terms.spark_str_sql(terms.wrap_iri(obj.constant)), _NULL_STR, _NULL_STR)
            else:
                p = self.term_columns(pred, "P", sql_ident, types)[0]
                o = self.term_columns(obj, "O", sql_ident, types)
            gcol = (self.term_columns(g, "G", sql_ident, types)[0]
                    if g is not None else _NULL_STR)
            rows.append(_triple_exprs(subj, p, o, gcol))
        if len(rows) > 1:
            structs = ", ".join(f"struct({', '.join(r)})" for r in rows)
            out = df.selectExpr(f"explode(array({structs})) AS t").select("t.*")
        else:
            out = df.selectExpr(*rows[0])
        return out.filter(_TRIPLE_GUARD)

    def _compile_join_arm(self, tmap, pred, obj, g, by_name) -> DataFrame:
        """Referencing-object map: equi-join child->parent on
        rr:joinCondition columns (reference: rdflib_r2r/sql_converter.py:164-176),
        parent subject rendered from parent-side columns. Joining on raw key
        columns, not rendered IRIs."""
        parent_name = obj.parent_triples_map
        if parent_name not in by_name:
            raise MappingError(f"unknown parentTriplesMap {parent_name!r}")
        parent_tmap = by_name[parent_name]
        child_df = self.source_df(tmap.source)
        child_types = self.source_types(tmap.source)

        same_table = (
            not obj.join_conditions
            and parent_tmap.source.key() == tmap.source.key()
        )
        if same_table:
            # R2RML: no joinCondition + same logical table => same row, no join.
            res_child = res_parent = sql_ident
            parent_types = child_types
            joined = child_df
        else:
            if not obj.join_conditions:
                raise MappingError("cross-table referencing map needs joinCondition")
            res_child = lambda c: "`__c`." + sql_ident(c)  # noqa: E731
            res_parent = lambda c: "`__p`." + sql_ident(c)  # noqa: E731
            parent_types = self.source_types(parent_tmap.source)
            cond = " AND ".join(f"{res_child(jc.child)} = {res_parent(jc.parent)}"
                                for jc in obj.join_conditions)
            joined = child_df.alias("__c").join(
                self.source_df(parent_tmap.source).alias("__p"), F.expr(cond), "inner")

        subj = self.term_columns(tmap.subject_map, "S", res_child, child_types)[0]
        o = self.term_columns(parent_tmap.subject_map, "S", res_parent, parent_types)[0]
        p = self.term_columns(pred, "P", res_child, child_types)[0]
        gcol = (self.term_columns(g, "G", res_child, child_types)[0]
                if g is not None else _NULL_STR)
        return joined.selectExpr(
            *_triple_exprs(subj, p, (o, _NULL_STR, _NULL_STR), gcol)
        ).filter(_TRIPLE_GUARD)


def _triple_exprs(subj: str, p: str, o: tuple[str, str, str], g: str) -> list[str]:
    """``expr AS col`` texts of one arm's six triple columns."""
    return [f"{e} AS {c}" for e, c in zip((subj, p, *o, g), TRIPLE_COLS)]


def terms_const_iri_typeobj(cls: str) -> TermMap:
    return TermMap(constant=cls, term_type="IRI")

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

Output schema: ``subj, pred, obj, obj_dt, obj_lang, graph`` — all strings;
term encoding per ``terms`` module.
"""

from __future__ import annotations

from collections import defaultdict
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.canonical import canonical_datetime_col, canonical_double_col
from rdflib_r2r_spark.mapping import (
    LogicalSource,
    TermMap,
    TriplesMap,
    xsd_for_spark_type,
)
from rdflib_r2r_spark.templates import template_to_column, template_to_spark_expr

TRIPLE_COLS = ["subj", "pred", "obj", "obj_dt", "obj_lang", "graph"]


class MappingError(ValueError):
    pass


def _null_str() -> Column:
    return F.lit(None).cast("string")


class SparkMappingCompiler:
    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.tables = dict(tables or {})
        self._types: dict[str, dict] = {}

    # -- sources ------------------------------------------------------------

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        self._types.clear()

    def source_types(self, source: LogicalSource) -> dict:
        """Column name -> Spark type of a logical source, read once."""
        key = source.key()
        if key not in self._types:
            self._types[key] = {
                f.name: f.dataType for f in self.source_df(source).schema.fields}
        return self._types[key]

    def source_df(self, source: LogicalSource) -> DataFrame:
        """rr:tableName -> registered/catalog table; rr:sqlQuery -> Spark SQL
        view (reference: rdflib_r2r/r2r_mapping.py:28-40 ``_get_table``)."""
        if source.table is not None:
            if source.table in self.tables:
                return self.tables[source.table]
            return self.spark.table(source.table)
        if source.sql_query is not None:
            for name, df in self.tables.items():
                df.createOrReplaceTempView(name)
            return self.spark.sql(source.sql_query)
        raise MappingError("logical source needs table or sql_query")

    # -- term maps ----------------------------------------------------------

    def term_columns(
        self,
        tm: TermMap,
        position: str,
        resolve,
        schema_types: dict,
        sql_qualify=None,
    ) -> tuple[Column, Column, Column]:
        """(lexical, datatype, language) Columns for one term map.

        Mirrors the constant/column/template dispatch of
        ``match_node_to_term_map`` (reference: rdflib_r2r/sql_converter.py:81-176).

        ``sql_qualify(colname) -> str`` (optional) enables the one-Py4J-call
        template fast path (templates.template_to_spark_expr): callers whose
        source columns are SQL-addressable (aliased scans) pass it so a
        template render costs one ``F.expr`` parse instead of ~100 gateway
        round trips.  Semantics are identical (parity-pinned).
        """
        from pyspark.sql import types as T

        raw_resolve = resolve

        def resolve(c):  # noqa: F811 - binary columns render as uppercase hex
            col = raw_resolve(c)
            if isinstance(schema_types.get(c), T.BinaryType):
                return F.hex(col)  # natural RDF lexical of binary (xsd:hexBinary)
            return col

        raw_qualify = sql_qualify

        if raw_qualify is not None:
            def sql_qualify(c):  # noqa: F811 - same hex wrapper, SQL flavor
                s = raw_qualify(c)
                if isinstance(schema_types.get(c), T.BinaryType):
                    return f"hex({s})"
                return s

        ttype = tm.inferred_term_type(position)
        dt = F.lit(tm.datatype).cast("string") if tm.datatype else _null_str()
        lang = F.lit(tm.language).cast("string") if tm.language else _null_str()

        if tm.constant is not None:
            if ttype == "RawIRI":  # pre-rendered lexical (chain predicates)
                return F.lit(tm.constant), _null_str(), _null_str()
            if ttype == "IRI":
                return F.lit(terms.wrap_iri(tm.constant)), _null_str(), _null_str()
            if ttype == "BlankNode":
                return F.lit("_:" + tm.constant), _null_str(), _null_str()
            return F.lit(tm.constant), dt, lang

        if tm.column is not None:
            col = resolve(tm.column)
            if ttype == "IRI":
                # rr:termType rr:IRI on a column: value IS the IRI (no
                # encoding); RELATIVE values resolve against the mapping base
                # (R2RML §7.4), absolute ones pass through
                val = col.cast("string")
                if tm.base_iri:
                    val = F.when(
                        val.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), val
                    ).otherwise(F.concat(F.lit(tm.base_iri), val))
                return F.concat(F.lit("<"), val, F.lit(">")), _null_str(), _null_str()
            if ttype == "BlankNode":
                return F.concat(F.lit("_:"), terms.iri_safe_col(col)), _null_str(), _null_str()
            if tm.datatype is None:
                inferred = xsd_for_spark_type(schema_types[tm.column]) if tm.column in schema_types else None
                dt = F.lit(inferred).cast("string") if inferred else _null_str()
            # natural RDF lexical form = canonical XSD lexical of the column
            # VALUE (R2RML §10.2; W3C TC0005a/b, TC0012a/e, TC0016b/c) —
            # doubles render scientific (2.0E1), dateTimes get the 'T'
            src_t = schema_types.get(tm.column)
            if isinstance(src_t, (T.DoubleType, T.FloatType)):
                return canonical_double_col(col), dt, lang
            if isinstance(src_t, T.TimestampType):
                return canonical_datetime_col(col), dt, lang
            return col.cast("string"), dt, lang

        if tm.template is not None:
            if sql_qualify is not None:
                render = lambda iri, wrap: template_to_spark_expr(  # noqa: E731
                    tm.template, sql_qualify, iri=iri, wrap=wrap)
            else:
                render = lambda iri, wrap: template_to_column(  # noqa: E731
                    tm.template, resolve, iri=iri, wrap=wrap)
            if ttype == "IRI":
                return render(True, True), _null_str(), _null_str()
            if ttype == "BlankNode":
                return (
                    F.concat(F.lit("_:"), render(True, False)),
                    _null_str(),
                    _null_str(),
                )
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

    def _schema_types(self, df: DataFrame) -> dict:
        return {f.name: f.dataType for f in df.schema.fields}

    def _compile_scan_arms(self, arms) -> DataFrame:
        """All join-free arms over one logical source: ONE scan + explode."""
        tmap0 = arms[0][0]
        df = self.source_df(tmap0.source)
        schema_types = self._schema_types(df)
        resolve = lambda c: df[c]  # noqa: E731

        structs: list[Column] = []
        for tmap, pred, obj, g in arms:
            subj, _, _ = self.term_columns(tmap.subject_map, "S", resolve, schema_types)
            if pred is None:  # class arm
                p = F.lit(terms.wrap_iri(terms.RDF_TYPE))
                o, odt, olang = F.lit(terms.wrap_iri(obj.constant)), _null_str(), _null_str()
            else:
                p, _, _ = self.term_columns(pred, "P", resolve, schema_types)
                o, odt, olang = self.term_columns(obj, "O", resolve, schema_types)
            gcol = (
                self.term_columns(g, "G", resolve, schema_types)[0]
                if g is not None
                else _null_str()
            )
            structs.append(
                F.struct(
                    subj.alias("subj"),
                    p.alias("pred"),
                    o.alias("obj"),
                    odt.alias("obj_dt"),
                    olang.alias("obj_lang"),
                    gcol.alias("graph"),
                )
            )
        if len(structs) > 1:
            out = df.select(F.explode(F.array(*structs)).alias("t")).select("t.*")
        else:
            out = df.select(*[structs[0][c].alias(c) for c in TRIPLE_COLS])
        return out.filter(
            F.col("subj").isNotNull() & F.col("pred").isNotNull() & F.col("obj").isNotNull()
        )

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
        child_types = self._schema_types(child_df)
        res_child = lambda c: child_df[c]  # noqa: E731

        same_table = (
            not obj.join_conditions
            and parent_tmap.source.key() == tmap.source.key()
        )
        if same_table:
            # R2RML: no joinCondition + same logical table => same row, no join.
            parent_types = child_types
            subj, _, _ = self.term_columns(tmap.subject_map, "S", res_child, child_types)
            o, _, _ = self.term_columns(parent_tmap.subject_map, "S", res_child, parent_types)
            joined = child_df
        else:
            parent_src = self.source_df(parent_tmap.source)
            parent_df = parent_src.alias("__p")
            parent_types = self._schema_types(parent_src)
            cond = None
            for jc in obj.join_conditions:
                c = child_df[jc.child] == parent_df[jc.parent]
                cond = c if cond is None else (cond & c)
            if cond is None:
                raise MappingError("cross-table referencing map needs joinCondition")
            res_parent = lambda c: parent_df[c]  # noqa: E731
            subj, _, _ = self.term_columns(tmap.subject_map, "S", res_child, child_types)
            o, _, _ = self.term_columns(parent_tmap.subject_map, "S", res_parent, parent_types)
            joined = child_df.join(parent_df, cond, "inner")

        p, _, _ = self.term_columns(pred, "P", res_child, child_types)
        gcol = (
            self.term_columns(g, "G", res_child, child_types)[0]
            if g is not None
            else _null_str()
        )
        return joined.select(
            subj.alias("subj"),
            p.alias("pred"),
            o.alias("obj"),
            _null_str().alias("obj_dt"),
            _null_str().alias("obj_lang"),
            gcol.alias("graph"),
        ).filter(
            F.col("subj").isNotNull() & F.col("pred").isNotNull() & F.col("obj").isNotNull()
        )


def terms_const_iri_typeobj(cls: str) -> TermMap:
    return TermMap(constant=cls, term_type="IRI")

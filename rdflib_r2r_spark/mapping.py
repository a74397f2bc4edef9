"""R2RML-style mapping model: plain dataclasses + the direct-mapping
generator.

Covers every ``rr:`` construct the reference consumes (SURVEY.md §1.2):
logicalTable/tableName, logicalTable/sqlQuery, subjectMap(+class),
template, column, constant, termType (IRI/BlankNode/Literal),
parentTriplesMap + joinCondition(child/parent), datatype, language,
graph/graphMap.

The direct-mapping generator mirrors the reference's ``mapping_from_db``
(reference: rdflib_r2r/r2r_mapping.py:50-147): PK tables get IRI template
``{base}{table}/{pk}={{{pk}}};...``; keyless tables get BlankNode subjects
over all columns; every column becomes predicate ``{base}{table}#{column}``
(integral columns typed xsd:integer); every FK becomes a referencing
predicate ``{base}{table}#ref-{cols}`` with join conditions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

from rdflib_r2r_spark import terms


@dataclass(frozen=True)
class JoinCondition:
    child: str
    parent: str


@dataclass(frozen=True)
class LogicalSource:
    table: str | None = None
    sql_query: str | None = None

    def key(self) -> str:
        return self.table if self.table is not None else f"sql:{self.sql_query}"


@dataclass(frozen=True)
class TermMap:
    """One of constant / column / template, plus type refinements.

    ``constant`` holds the raw IRI string (no angle brackets) for IRI terms,
    or the literal lexical form for literal terms — disambiguated by
    ``term_type``.
    """

    constant: str | None = None
    column: str | None = None
    template: str | None = None
    term_type: str | None = None  # 'IRI' | 'Literal' | 'BlankNode' | None (infer)
    datatype: str | None = None
    language: str | None = None
    parent_triples_map: str | None = None
    join_conditions: tuple[JoinCondition, ...] = ()
    # base IRI for resolving RELATIVE column-valued IRIs at render time
    # (R2RML §7.4: rr:column IRIs resolve against the mapping base; values
    # that are already absolute pass through)
    base_iri: str | None = None

    def inferred_term_type(self, position: str) -> str:
        if self.term_type:
            return self.term_type
        if position in ("S", "P", "G"):
            return "IRI"
        # object position: rr:column => Literal, else IRI (R2RML §7.4)
        if self.column is not None or self.datatype or self.language:
            return "Literal"
        return "IRI"


@dataclass(frozen=True)
class SubjectMap(TermMap):
    classes: tuple[str, ...] = ()
    graphs: tuple[TermMap, ...] = ()


@dataclass(frozen=True)
class PredicateObjectMap:
    predicates: tuple[TermMap, ...] = ()
    objects: tuple[TermMap, ...] = ()
    graphs: tuple[TermMap, ...] = ()


@dataclass(frozen=True)
class TriplesMap:
    name: str
    source: LogicalSource
    subject_map: SubjectMap
    pomaps: tuple[PredicateObjectMap, ...] = ()


def const_iri(iri: str) -> TermMap:
    return TermMap(constant=iri, term_type="IRI")


# ---------------------------------------------------------------------------
# Direct mapping from a Spark schema
# ---------------------------------------------------------------------------

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def xsd_for_spark_type(dt: T.DataType) -> str | None:
    """SQL->XSD bridge, the inverse direction of the reference's XSDToSQL
    table (reference: rdflib_r2r/conversion_utils.py:42-75)."""
    if isinstance(dt, _INTEGRAL):
        return terms.XSD_INTEGER
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return terms.XSD_DOUBLE
    if isinstance(dt, T.DecimalType):
        return terms.XSD_DECIMAL
    if isinstance(dt, T.BooleanType):
        return terms.XSD_BOOLEAN
    if isinstance(dt, T.DateType):
        return terms.XSD_DATE
    if isinstance(dt, T.TimestampType):
        return terms.XSD_DATETIME
    if isinstance(dt, T.BinaryType):
        return terms.XSD_HEXBINARY
    return None  # plain string literal


def direct_mapping(
    schemas: dict[str, T.StructType],
    primary_keys: dict[str, list[str]] | None = None,
    foreign_keys: dict[str, list[tuple[list[str], str, list[str]]]] | None = None,
    base: str = "http://example.com/base/",
) -> list[TriplesMap]:
    """Generate triples-maps for a set of tables, W3C direct-mapping style.

    ``foreign_keys[table] = [(child_cols, parent_table, parent_cols), ...]``.
    """
    primary_keys = primary_keys or {}
    foreign_keys = foreign_keys or {}
    tmaps: list[TriplesMap] = []
    for table, schema in schemas.items():
        pk = primary_keys.get(table)
        # per-table rr:class, as the reference's mapping_from_db always adds
        # (reference: rdflib_r2r/r2r_mapping.py mg.add((s_map, rr['class'],
        # base[iri_safe(tablename)]))) — each row gets an rdf:type triple.
        table_class = (base + terms.iri_safe_py(table),)
        if pk:
            tpl = base + terms.iri_safe_py(table) + "/" + ";".join(
                f"{terms.iri_safe_py(c)}={{{c}}}" for c in pk
            )
            smap = SubjectMap(template=tpl, term_type="IRI", classes=table_class)
        else:
            smap = SubjectMap(
                # BlankNode over all columns: duplicate rows collapse to one
                # node, matching the reference's observed behavior
                # (docs/test-results/rdb2rdf.md DirectGraphTC0005 note).
                template="{" + "};{".join(f.name for f in schema.fields) + "}",
                term_type="BlankNode",
                classes=table_class,
            )
        poms: list[PredicateObjectMap] = []
        for f in schema.fields:
            poms.append(
                PredicateObjectMap(
                    predicates=(const_iri(f"{base}{terms.iri_safe_py(table)}#{terms.iri_safe_py(f.name)}"),),
                    objects=(TermMap(column=f.name, term_type="Literal",
                                     datatype=xsd_for_spark_type(f.dataType)),),
                )
            )
        for child_cols, parent_table, parent_cols in foreign_keys.get(table, []):
            pred = f"{base}{terms.iri_safe_py(table)}#ref-" + ";".join(
                terms.iri_safe_py(c) for c in child_cols
            )
            poms.append(
                PredicateObjectMap(
                    predicates=(const_iri(pred),),
                    objects=(
                        TermMap(
                            term_type="IRI",
                            parent_triples_map=parent_table,
                            join_conditions=tuple(
                                JoinCondition(child=c, parent=p)
                                for c, p in zip(child_cols, parent_cols)
                            ),
                        ),
                    ),
                )
            )
        tmaps.append(
            TriplesMap(
                name=table,
                source=LogicalSource(table=table),
                subject_map=smap,
                pomaps=tuple(poms),
            )
        )
    return tmaps

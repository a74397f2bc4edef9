"""Mapping-level rewrites above Catalyst — the reference's compile-time
optimizer (SURVEY.md §4): synthetic chain maps (join elimination over FK
hops) and subordinate-map detection (shared-scan links). These operate on
the mapping AST; Catalyst cannot see them because they rely on mapping
knowledge, not plan structure.
"""

from __future__ import annotations

from rdflib_r2r_spark.mapping import PredicateObjectMap, TermMap, TriplesMap


def chain_pred(p1: str, p2: str, inverse_first: bool = False) -> str:
    """Lexical form of the synthesized 2-hop chain predicate, following the
    reference's SequencePath n3 rendering (reference:
    rdflib_r2r/sql_converter.py:369-383, rr:chainStr)."""
    head = f"^<{p1}>" if inverse_first else f"<{p1}>"
    return f"{head}/<{p2}>"


def add_chain_maps(
    tmaps: list[TriplesMap],
    column_datatypes: dict[str, dict[str, str]] | None = None,
) -> list[TriplesMap]:
    """Join elimination over FK hops (reference:
    rdflib_r2r/sql_converter.py:369-425 ``add_synthetic_chain_triple_maps``).

    Forward: child map C has (pred1 -> ref-object to parent P joining
    child_col = parent_id_col) and P has (pred2 -> column parent_id_col);
    then the 2-hop path pred1/pred2 on C's subjects equals C's child_col —
    a single-column read, no join. A synthetic predicate-object map with
    predicate ``<pred1>/<pred2>`` and object column child_col is added to C.

    Inverse: P gains ``^<pred1>/<predX>`` reading its own id column when the
    child ALSO exposes the joining child column via some predicate.

    ``column_datatypes[tmap_name][column]`` supplies explicit rr:datatype
    for the synthesized literal maps (keeps Spark and SQL oracles aligned —
    the rewrite itself has no schema access).
    """
    column_datatypes = column_datatypes or {}
    by_name = {t.name: t for t in tmaps}
    out: dict[str, list[PredicateObjectMap]] = {t.name: [] for t in tmaps}

    for child in tmaps:
        for pom in child.pomaps:
            for pred in pom.predicates:
                if pred.constant is None:
                    continue
                for obj in pom.objects:
                    if obj.parent_triples_map is None or len(obj.join_conditions) != 1:
                        continue
                    parent = by_name.get(obj.parent_triples_map)
                    if parent is None:
                        continue
                    jc = obj.join_conditions[0]
                    # forward chains: parent pom reading the joined parent col
                    for ppom in parent.pomaps:
                        for ppred in ppom.predicates:
                            if ppred.constant is None:
                                continue
                            for pobj in ppom.objects:
                                if pobj.column == jc.parent:
                                    dt = (
                                        pobj.datatype
                                        or column_datatypes.get(child.name, {}).get(jc.child)
                                    )
                                    out[child.name].append(
                                        PredicateObjectMap(
                                            predicates=(
                                                const_iri_raw(chain_pred(pred.constant, ppred.constant)),
                                            ),
                                            objects=(
                                                TermMap(column=jc.child, term_type="Literal", datatype=dt),
                                            ),
                                        )
                                    )
                    # inverse chains: child pom reading the joining child col
                    for cpom in child.pomaps:
                        for cpred in cpom.predicates:
                            if cpred.constant is None:
                                continue
                            for cobj in cpom.objects:
                                if cobj.column == jc.child:
                                    dt = (
                                        cobj.datatype
                                        or column_datatypes.get(parent.name, {}).get(jc.parent)
                                    )
                                    out[parent.name].append(
                                        PredicateObjectMap(
                                            predicates=(
                                                const_iri_raw(
                                                    chain_pred(pred.constant, cpred.constant, inverse_first=True)
                                                ),
                                            ),
                                            objects=(
                                                TermMap(column=jc.parent, term_type="Literal", datatype=dt),
                                            ),
                                        )
                                    )

    return [
        TriplesMap(
            name=t.name,
            source=t.source,
            subject_map=t.subject_map,
            pomaps=tuple(t.pomaps) + tuple(out[t.name]),
        )
        for t in tmaps
    ]


def const_iri_raw(lexical: str) -> TermMap:
    """Constant predicate whose full lexical (incl. path syntax) is emitted
    verbatim (no <> wrapping) — chain predicates are '<p1>/<p2>' composites,
    not plain IRIs."""
    return TermMap(constant=lexical, term_type="RawIRI")

"""Compile SPARQL basic graph patterns directly against the R2RML mapping.

This is the reference's core query algorithm (reference:
rdflib_r2r/sql_converter.py:291-329 ``queryBGP``: enumerate every consistent
assignment of triple patterns to triples-map arms, emit one SELECT per
assignment, UNION ALL them) re-expressed for Spark: the whole BGP is ONE
query block of the query's statement (:mod:`.statement`), its assignments'
SELECTs UNION ALLed in the text, each reading the logical sources through
the statement (a table's view, an ``rr:sqlQuery`` source's CTE), with the
query's constants bound as named parameters:

- **Predicate index**: a pattern with a constant predicate only ever touches
  the arms that can produce that predicate — no scan of the full dump.
- **Star merging**: all patterns sharing a subject term and assigned to the
  same triples-map read ONE scan of the logical source (the reference's
  same-alias merge, sql_converter.py:427-455); a referencing-object arm's
  parent slot merges with the star of the object variable when the parent
  map matches, so ``?n ex:inRegion ?r . ?r ex:name ?rn`` is a single
  child->parent join, not a three-way self-join.
- **Arm folding**: a pattern with a variable object whose candidate arms
  share a triples map, predicate map and graph map (two pomaps of one
  predicate, a class arm beside an ``rdf:type`` pomap) is ONE choice, not
  one assignment per arm: the star's slot unrolls the alternatives per row
  with ``LATERAL VIEW inline(array(struct(<alt render>), ...))`` (the SQL
  form of the dump compiler's ``explode(array(struct...))``), so the
  source is scanned once per slot and the assignments are a sum over the
  arms, not a product.  Alternatives of one ``render_key`` unroll only
  their raw columns, and the term is rendered from them where it is read:
  Catalyst prunes the render when nothing reads it, which it cannot do
  for a field of the generated struct.  Alternatives that can never agree
  with another occurrence of the variable (``templates.may_collide``) are
  dropped first; one that is left compiles as a plain arm.
- **Constant pushdown**: constant subjects/objects are inverted through the
  term-map template (reference: rdflib_r2r/sql_converter.py:148-161,
  conversion_utils.py:517-531) into typed filters on raw columns, so the
  parquet scan sees ``o_orderkey = 1317``, never a string-concat comparison
  — when the render is injective (``templates.render_key``) and the split
  renders the constant again; any other render compares its lexical.
- **Raw-key joins**: shared variables between slots join on raw columns
  when both renders have the same ``templates.render_key`` (an injective
  render: integral or string slots, and between two integral slots a
  non-empty separator that starts with a non-digit); assignments whose
  renders can never collide (``templates.may_collide``) are pruned
  (the reference's template-aware equality, conversion_utils.py:293-353);
  rendered (lex, dt, lang) equality is the fallback.

Variables surface as term-encoded columns ``{v}`` plus ``{v}__dt`` /
``{v}__lang`` / ``{v}__num`` (numeric shadow for typed filters/aggregates).
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass, field

from pyspark.sql import types as T

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.compiler import SparkMappingCompiler, sql_ident
from rdflib_r2r_spark.mapping import TermMap, TriplesMap, xsd_for_spark_type
from rdflib_r2r_spark.sparql.ast_nodes import BNodeT, IRI, Lit, Var
from rdflib_r2r_spark.sparql.parser import SparqlNotImplemented
from rdflib_r2r_spark.sparql.statement import Statement
from rdflib_r2r_spark.templates import (
    expand_template_py,
    invert_template_py,
    may_collide,
    raw_columns,
    render_key,
)
from rdflib_r2r_spark.terms import iri_unsafe_py

MAX_ASSIGNMENTS = 5000

_NUMERIC_SPARK = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


# a term variable ``v`` is four columns: these suffixes on ``v``
SHADOWS = ("", "__dt", "__lang", "__num")


class _Prune(Exception):
    """Assignment is inconsistent — contributes no rows."""


# --------------------------------------------------------------------------
# arm model (one per (triples-map, predicate, object) like the dump compiler)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Arm:
    tmap: TriplesMap
    pred_tm: TermMap  # constant for class arms (rdf:type)
    obj_tm: TermMap
    graph_tm: TermMap | None
    parent: TriplesMap | None  # set for referencing-object arms


def enumerate_arms(tmaps: list[TriplesMap]) -> list[Arm]:
    by_name = {tm.name: tm for tm in tmaps}
    arms: list[Arm] = []
    for tmap in tmaps:
        graphs = tuple(tmap.subject_map.graphs)
        for cls in tmap.subject_map.classes:
            for g in (list(graphs) or [None]):
                arms.append(
                    Arm(
                        tmap=tmap,
                        pred_tm=TermMap(constant=terms.RDF_TYPE, term_type="IRI"),
                        obj_tm=TermMap(constant=cls, term_type="IRI"),
                        graph_tm=g,
                        parent=None,
                    )
                )
        for pom in tmap.pomaps:
            pgraphs = tuple(pom.graphs) + graphs
            for pred in pom.predicates:
                for obj in pom.objects:
                    for g in (list(pgraphs) or [None]):
                        parent = (
                            by_name[obj.parent_triples_map]
                            if obj.parent_triples_map is not None
                            else None
                        )
                        arms.append(Arm(tmap, pred, obj, g, parent))
    return arms


# --------------------------------------------------------------------------
# slots: one aliased scan of a logical source per (term, tmap) group
# --------------------------------------------------------------------------

@dataclass
class Lateral:
    """A folded pattern's object alternatives, unrolled per row of the
    star's slot: the generated columns ``<prefix>ok`` (the alternative's
    NULL guard) and, when every alternative has the same ``render_key``,
    ``raw0``... (its raw columns), else ``lex``, ``dt``, ``lang`` and
    ``num`` (its render)."""

    prefix: str
    alts: tuple  # the alternatives' object term maps
    key: tuple | None  # their common render_key, or None
    view: str  # the LATERAL VIEW clause


@dataclass
class Slot:
    alias: str
    source: str  # the logical source in a FROM clause (Statement.source)
    types: dict  # column -> spark DataType
    laterals: list = field(default_factory=list)

    def col(self, name: str) -> str:
        """SQL text of one of the slot's columns."""
        return sql_ident(self.alias) + "." + sql_ident(name)

    def from_sql(self) -> str:
        """The slot in a FROM clause.  With folded patterns it is a derived
        table under the same alias, so a join on a generated column is an
        equi-join like any other."""
        named = f"{self.source} AS {sql_ident(self.alias)}"
        if not self.laterals:
            return named
        views = " ".join(lat.view for lat in self.laterals)
        ok = " AND ".join(sql_ident(lat.prefix + "ok") for lat in self.laterals)
        return f"(SELECT * FROM {named} {views} WHERE {ok}) AS {sql_ident(self.alias)}"


@dataclass
class Occurrence:
    """One rendering of a variable: a term map evaluated in a slot, or a
    folded pattern's alternatives (``lateral``; ``tm`` is then None)."""

    tm: TermMap | None
    slot: Slot
    position: str  # S/P/O/G
    lateral: Lateral | None = None


@dataclass(frozen=True)
class RawBinding:
    """Raw-key provenance of a term variable: the variable's lexical is an
    INJECTIVE render of the listed raw shadow columns (guide §2.3 "shuffle
    keys and metadata instead of payloads").  Downstream algebra (GROUP BY,
    frame-level joins) can key on the raws — 8-byte bigints — instead of
    the rendered IRI string, and re-render AFTER the exchange; Catalyst
    then prunes the per-row render entirely.  Two bindings with equal
    ``prov`` render identically, so raw equality <=> term equality:
    ``prov`` is the ``templates.render_key`` of an IRI template whose slots
    are integral or string columns read once, and whose two or more slots
    are all integral with a non-empty separator starting with a non-digit
    between each two (``{a}-{b}``; ``{a}{b}`` and ``{a}1{b}`` have no key).

    ``cols``   — the raw shadow column names present in the frame's df.
    ``prov``   — hashable provenance key; equal prov => same render fn.
    ``render`` — () -> (lex, dt, lang, num) Spark SQL texts over the
                 ``cols`` columns, byte-identical to the BGP-boundary
                 render of the same raws.
    """

    cols: tuple
    prov: tuple
    render: object  # Callable[[], tuple[str, str, str, str]]


def _var_name(t) -> str | None:
    """Column name of a pattern variable (a blank node is one too), or
    None for a constant term."""
    if isinstance(t, Var):
        return t.name
    if isinstance(t, BNodeT):
        return "__bn_" + t.label
    return None


def _term_key(t) -> tuple:
    if (name := _var_name(t)) is not None:
        return ("v", name)
    if isinstance(t, IRI):
        return ("c", t.value)
    return ("l", getattr(t, "value", str(t)), getattr(t, "datatype", None))


def _effective_dt(tm: TermMap, slot: Slot) -> str | None:
    if tm.datatype:
        return tm.datatype
    if tm.column is not None and tm.column in slot.types:
        return xsd_for_spark_type(slot.types[tm.column])
    return None


def _same_literal_type(term: Lit, dt: str | None, lang: str | None) -> bool:
    """Can a pattern literal match a term map of datatype ``dt`` and
    language ``lang``?  Tags compare case-insensitively; a plain literal is
    an xsd:string; a numeric literal matches any numeric datatype by value,
    as the reference's SQL comparison does."""
    if term.language or lang:
        return (term.language or "").lower() == (lang or "").lower()
    a, b = term.datatype or terms.XSD_STRING, dt or terms.XSD_STRING
    return a == b or (a in terms.NUMERIC_XSD and b in terms.NUMERIC_XSD)


class BGPCompiler:
    """Compiles a list of (s, p_iri, o) patterns (constant predicates) into
    one query block of variable bindings."""

    def __init__(self, tmaps: list[TriplesMap], compiler: SparkMappingCompiler):
        self.tmaps = tmaps
        self.compiler = compiler
        self.arms = enumerate_arms(tmaps)
        self._alias_n = 0
        self._stmt: Statement | None = None  # the statement being built

    # -- candidate matching ---------------------------------------------------

    def _pred_matches(self, arm: Arm, p) -> bool:
        if isinstance(p, Var):
            return True
        assert isinstance(p, IRI)
        if arm.pred_tm.constant is not None:
            return arm.pred_tm.constant == p.value
        # template/column predicate maps can in principle produce any IRI;
        # keep the arm and add a render-equality condition later
        return True

    def _static_ok(self, term, tm: TermMap, position: str) -> bool:
        """Can the term map render the pattern's constant term?  (A literal
        only needs a literal map: its value is filtered at run time.)"""
        if isinstance(term, (Var, BNodeT)):
            return True
        if isinstance(term, Lit):
            return tm.inferred_term_type(position) == "Literal" \
                and tm.constant in (None, term.value)
        const = TermMap(constant=term.value, term_type="IRI")
        return may_collide(const, position, {}, tm, position, {})

    def candidates(self, s, p, o, g, dataset=None) -> list[Arm]:
        out = []
        for arm in self.arms:
            if not self._pred_matches(arm, p):
                continue
            if not self._static_ok(s, arm.tmap.subject_map, "S"):
                continue
            if not (self._static_ok(o, arm.parent.subject_map, "S")
                    if arm.parent is not None else self._static_ok(o, arm.obj_tm, "O")):
                continue
            if dataset is None:
                # graph dispatch: GRAPH-scoped patterns only match arms with
                # a graph map; default-graph patterns only match arms
                # without one
                if g is None and arm.graph_tm is not None:
                    continue
                if g is not None and arm.graph_tm is None:
                    continue
                if isinstance(g, IRI) and arm.graph_tm is not None and \
                        arm.graph_tm.constant is not None and arm.graph_tm.constant != g.value:
                    continue
            else:
                # FROM / FROM NAMED (13.2): the default graph is EXACTLY the
                # FROM merge (graph-less arms are excluded), GRAPH ranges
                # over the FROM NAMED list only.  Dispatch is static, so the
                # arm's graph map must be constant.
                if arm.graph_tm is None:
                    continue
                const = arm.graph_tm.constant
                if const is None:
                    raise SparqlNotImplemented(
                        "non-constant graph map under a dataset clause"
                    )
                if g is None:
                    if const not in dataset.default:
                        continue
                else:
                    if const not in dataset.named:
                        continue
                    if isinstance(g, IRI) and const != g.value:
                        continue
            out.append(arm)
        return out

    def choices(self, patterns: list, graph_term=None,
                dataset=None) -> list[list[tuple[Arm, ...]]]:
        """Each pattern's choices of arms: a pattern with a variable object
        folds its arms of one triples map, predicate map and graph map (no
        referencing-object arm) into one choice; every other arm is a
        choice of its own."""
        out = []
        for s, p, o in patterns:
            groups: dict = {}
            for i, arm in enumerate(self.candidates(s, p, o, graph_term, dataset)):
                key = (i,) if arm.parent is not None or _var_name(o) is None \
                    else (arm.tmap.name, arm.pred_tm, arm.graph_tm)
                groups.setdefault(key, []).append(arm)
            out.append([tuple(arms) for arms in groups.values()])
        return out

    def assignment_count(self, patterns: list, graph_term=None, dataset=None) -> int:
        """How many assignments ``compile`` enumerates for the patterns."""
        return math.prod(max(len(c), 1)
                         for c in self.choices(patterns, graph_term, dataset))

    # -- one assignment -> one SQL statement --------------------------------------

    def _new_slot(self, source) -> Slot:
        self._alias_n += 1
        return Slot(alias=f"bgp{self._alias_n}",
                    source=self._stmt.source(source),
                    types=self.compiler.source_types(source))

    def _typed_lit(self, value: str, col: str, slot: Slot) -> str:
        dtype = slot.types.get(col)
        if dtype is None:
            return self._stmt.param(value)
        if isinstance(dtype, _NUMERIC_SPARK):
            try:
                num = float(value) if "." in value or "e" in value.lower() else int(value)
            except ValueError:
                # non-numeric lexical can never equal a numeric column
                raise _Prune() from None
            return f"CAST({self._stmt.param(num)} AS {dtype.simpleString()})"
        return f"CAST({self._stmt.param(value)} AS {dtype.simpleString()})"

    def _lex_eq(self, tm: TermMap, slot: Slot, position: str, lex: str) -> list[str]:
        """The term map's rendered lexical equals ``lex``."""
        rendered = self._render(Occurrence(tm=tm, slot=slot, position=position))[0]
        return [f"{rendered} = {self._stmt.param(lex)}"]

    def _invert_filters(self, const: str, tm: TermMap, slot: Slot,
                        position: str) -> list[str]:
        """Conditions binding a template term map to a constant.  An
        injective render (``render_key``) splits the constant into raw
        values (integral slots match ``-?[0-9]+``), kept only when they
        render the constant again: typed equalities on raw columns the scan
        can push down.  Any other render compares its rendered lexical."""
        iri = tm.inferred_term_type(position) == "IRI"
        if render_key(tm, position, slot.types) is None:
            return self._lex_eq(tm, slot, position,
                                terms.wrap_iri(const) if iri else const)
        ints = {c for c in raw_columns(tm)
                if not isinstance(slot.types[c], T.StringType)}
        binding = invert_template_py(const, tm.template, ints)
        if binding is None:
            raise _Prune()
        values = {c: int(raw) if c in ints else iri_unsafe_py(raw) if iri else raw
                  for c, raw in binding.items()}
        if expand_template_py(tm.template, values, iri=iri) != const:
            raise _Prune()
        return [f"{slot.col(c)} = {self._typed_lit(str(v), c, slot)}"
                for c, v in values.items()]

    def _const_conditions(self, term, tm: TermMap, slot: Slot, position: str) -> list[str]:
        """Conditions binding a constant pattern term to a term map."""
        kind = tm.inferred_term_type(position)
        if isinstance(term, IRI):
            if kind != "IRI":
                raise _Prune()
            if tm.constant is not None:
                if tm.constant != term.value:
                    raise _Prune()
                return []
            if tm.template is not None:
                return self._invert_filters(term.value, tm, slot, position)
            if tm.column is not None and not tm.base_iri:
                return [f"CAST({slot.col(tm.column)} AS STRING) = {self._stmt.param(term.value)}"]
            if tm.column is not None:
                return self._lex_eq(tm, slot, position, terms.wrap_iri(term.value))
            raise _Prune()
        if isinstance(term, Lit):
            if kind != "Literal" or not _same_literal_type(
                    term, _effective_dt(tm, slot), tm.language):
                raise _Prune()
            if tm.constant is not None:
                if tm.constant != term.value:
                    raise _Prune()
                return []
            if tm.column is not None:
                return [f"{slot.col(tm.column)} = "
                        f"{self._typed_lit(term.value, tm.column, slot)}"]
            if tm.template is not None:
                return self._invert_filters(term.value, tm, slot, position)
        raise _Prune()

    def _unify(self, a: Occurrence, b: Occurrence) -> list[str]:
        """Equality conditions making two renderings of one variable agree:
        raw-column equality when both renders have the same
        ``render_key``, a pruned assignment when they can never collide,
        and rendered (lex, dt, lang) equality otherwise."""
        if a.lateral is None and b.lateral is None:
            # (folded alternatives were matched by _statically_consistent)
            ta, tb = a.tm, b.tm
            if not may_collide(ta, a.position, a.slot.types,
                               tb, b.position, b.slot.types):
                raise _Prune()
            if ta.constant is not None and tb.constant is not None:
                return []
            if tb.constant is not None:
                a, b, ta, tb = b, a, tb, ta
            if ta.constant is not None:
                term = (IRI(ta.constant) if ta.inferred_term_type(a.position) == "IRI"
                        else Lit(ta.constant, ta.datatype, ta.language))
                return self._const_conditions(term, tb, b.slot, b.position)
        key = self._render_key(a)
        if key is not None and key == self._render_key(b):
            # a shared variable already unified to one physical column
            # needs no `x = x` condition
            return [f"{ca} = {cb}"
                    for ca, cb in zip(self._raw_cols(a), self._raw_cols(b))
                    if ca != cb]
        lex_a, dt_a, lang_a = self._render(a)
        lex_b, dt_b, lang_b = self._render(b)
        return [f"({lex_a} = {lex_b}) AND ({dt_a} <=> {dt_b}) AND ({lang_a} <=> {lang_b})"]

    def _col_eq(self, sa: Slot, ca: str, sb: Slot, cb: str) -> str | None:
        """Equality of an R2RML join condition's child and parent columns."""
        if sa.alias == sb.alias and ca == cb:
            # same-table referencing map: a trivially-true `x = x` filter
            # would be dead work (and Spark WARN spam)
            return None
        if type(sa.types.get(ca)) is type(sb.types.get(cb)):
            return f"{sa.col(ca)} = {sb.col(cb)}"
        return f"CAST({sa.col(ca)} AS STRING) = CAST({sb.col(cb)} AS STRING)"

    @staticmethod
    def _render_key(occ: Occurrence) -> tuple | None:
        if occ.lateral is not None:
            return occ.lateral.key
        return render_key(occ.tm, occ.position, occ.slot.types)

    @staticmethod
    def _raw_cols(occ: Occurrence) -> list[str]:
        """SQL texts of the raw columns an occurrence renders, in slot order
        (a folded pattern's only when its alternatives share a key)."""
        if occ.lateral is not None:
            n = len(raw_columns(occ.lateral.alts[0]))
            return [occ.slot.col(f"{occ.lateral.prefix}raw{i}") for i in range(n)]
        return [occ.slot.col(c) for c in raw_columns(occ.tm)]

    def _raw_null_guard(self, occ: Occurrence) -> str | None:
        """IS NOT NULL condition on the raw inputs of one term map, or None
        when the term can never be NULL (constants; folded alternatives
        are guarded inside their slot)."""
        if occ.lateral is not None:
            return None
        tm, cols = occ.tm, raw_columns(occ.tm)
        if cols:
            return " AND ".join(f"{occ.slot.col(c)} IS NOT NULL" for c in cols)
        if tm.constant is not None or tm.template is not None:
            return None
        # exotic term maps: fall back to the rendered lexical
        return f"({self._render(occ)[0]}) IS NOT NULL"

    def _render(self, occ: Occurrence) -> tuple[str, str, str]:
        lat = occ.lateral
        if lat is None:
            return self.compiler.term_columns(
                occ.tm, occ.position, occ.slot.col, occ.slot.types)
        if lat.key is None:
            return tuple(occ.slot.col(lat.prefix + f) for f in ("lex", "dt", "lang"))
        # one render_key: every alternative renders its raws alike
        by = dict(zip(raw_columns(lat.alts[0]), self._raw_cols(occ)))
        return self.compiler.term_columns(
            lat.alts[0], occ.position, by.__getitem__, occ.slot.types)

    def _num_col(self, occ: Occurrence, lex: str) -> str:
        lat = occ.lateral
        if lat is not None and lat.key is None:
            return occ.slot.col(lat.prefix + "num")
        tm = occ.tm if lat is None else lat.alts[0]
        if tm.column is not None and isinstance(occ.slot.types.get(tm.column), _NUMERIC_SPARK):
            return f"CAST({self._raw_cols(occ)[0]} AS DOUBLE)"
        dt = _effective_dt(tm, occ.slot)
        if tm.inferred_term_type(occ.position) == "Literal" and (dt is None or dt in terms.NUMERIC_XSD):
            return f"try_cast({lex} AS DOUBLE)"
        return "CAST(NULL AS DOUBLE)"

    def _statically_consistent(self, patterns: list,
                               assignment) -> list[tuple[Arm, ...]] | None:
        """Cheap metadata-only unification check so impossible assignments
        (the big product of the reference's queryBGP) never build slots or
        plans — the reference's try_match_templates pruning, done eagerly.
        Returns the assignment with each folded choice narrowed to the
        alternatives that may agree with every other occurrence of the
        variable, or None when some occurrence has none left."""
        types = self.compiler.source_types
        occs: dict[str, list[list[tuple]]] = {}
        objects: list[list[tuple]] = []

        def add(term, alts: list[tuple]) -> list[tuple]:
            if (name := _var_name(term)) is not None:
                occs.setdefault(name, []).append(alts)
            return alts

        for (s, p, o), choice in zip(patterns, assignment):
            arm = choice[0]
            add(s, [(arm.tmap.subject_map, "S", types(arm.tmap.source), arm)])
            add(p, [(arm.pred_tm, "P", types(arm.tmap.source), arm)])
            if arm.parent is not None:
                objects.append(add(o, [(arm.parent.subject_map, "S",
                                        types(arm.parent.source), arm)]))
            else:
                objects.append(add(o, [(a.obj_tm, "O", types(a.tmap.source), a)
                                       for a in choice]))

        def agree(x: tuple, others: list[tuple]) -> bool:
            return any(may_collide(*x[:3], *y[:3]) for y in others)

        for lists in occs.values():
            changed = True
            while changed:
                changed = False
                for alts in lists:
                    kept = [x for x in alts
                            if all(agree(x, other) for other in lists if other is not alts)]
                    if not kept:
                        return None
                    changed |= len(kept) < len(alts)
                    alts[:] = kept
        return [tuple(x[3] for x in alts) for alts in objects]

    def compile_assignment(self, patterns: list, assignment: list[tuple[Arm, ...]],
                           graph_term) -> tuple[dict, str, dict] | None:
        """One consistent assignment (a choice of arms per pattern) ->
        (columns, tail, raw bindings per variable), or None if statically
        inconsistent.  ``columns`` maps
        each output column to its SQL text: every variable's term columns,
        then its raw shadows.  ``tail`` is the SELECT's ``FROM ... WHERE``:
        the slots joined on their ANDed conditions, one WHERE with the
        constant conditions and the NULL guards.  Query constants become
        named parameters of the BGP's statement."""
        # slot keying merges stars AND parent slots with object-variable stars
        slots: dict[tuple, Slot] = {}
        occurrences: dict[str, list[Occurrence]] = {}
        conditions: list[tuple[Slot, Slot, str]] = []
        null_guards: list[Occurrence] = []

        def slot_for(term, tmap: TriplesMap) -> Slot:
            key = (_term_key(term), tmap.name, tmap.source.key())
            if key not in slots:
                slots[key] = self._new_slot(tmap.source)
            return slots[key]

        def add_occ(term, tm: TermMap, slot: Slot, position: str) -> None:
            occ = Occurrence(tm=tm, slot=slot, position=position)
            if (name := _var_name(term)) is not None:
                occurrences.setdefault(name, []).append(occ)
                null_guards.append(occ)
            else:
                # equalities with a constant reject NULL: no guard needed
                for cond in self._const_conditions(term, tm, slot, position):
                    conditions.append((slot, slot, cond))

        try:
            for (s, p, o), choice in zip(patterns, assignment):
                arm = choice[0]
                child = slot_for(s, arm.tmap)
                add_occ(s, arm.tmap.subject_map, child, "S")
                add_occ(p, arm.pred_tm, child, "P")
                if graph_term is not None and arm.graph_tm is not None:
                    add_occ(graph_term, arm.graph_tm, child, "G")
                if arm.parent is not None:
                    if arm.obj_tm.join_conditions:
                        parent = slot_for(o, arm.parent)
                        for jc in arm.obj_tm.join_conditions:
                            jcond = self._col_eq(child, jc.child, parent, jc.parent)
                            if jcond is not None:
                                conditions.append((child, parent, jcond))
                        add_occ(o, arm.parent.subject_map, parent, "S")
                    else:
                        # same-table referencing map: same row, no join
                        add_occ(o, arm.parent.subject_map, child, "S")
                elif len(choice) > 1:
                    occ = self._fold(child, [a.obj_tm for a in choice])
                    occurrences.setdefault(_var_name(o), []).append(occ)
                else:
                    add_occ(o, arm.obj_tm, child, "O")

            # unify shared variables (pairwise against the first occurrence)
            for _name, occs in occurrences.items():
                first = occs[0]
                for other in occs[1:]:
                    for cond in self._unify(first, other):
                        conditions.append((first.slot, other.slot, cond))
        except _Prune:
            return None

        # fold slots along the condition graph into the FROM clause: all
        # conditions between the same two components become ONE join with
        # an ANDed condition, same-component conditions go to the WHERE,
        # and disconnected components (only genuinely disconnected
        # patterns) cross-join.  The smallest pair merges first, so each
        # component grows left-deep, one slot per join.
        slot_list = list(slots.values())
        parent_of: dict[str, str] = {s.alias: s.alias for s in slot_list}

        def find(a: str) -> str:
            while parent_of[a] != a:
                parent_of[a] = parent_of[parent_of[a]]
                a = parent_of[a]
            return a

        frames = {s.alias: s.from_sql() for s in slot_list}
        where: list[str] = []
        pending = list(conditions)
        while True:
            by_pair: dict[tuple, list] = {}
            for sa, sb, cond in pending:
                ra, rb = find(sa.alias), find(sb.alias)
                if ra == rb:
                    where.append(cond)
                else:
                    by_pair.setdefault(tuple(sorted((ra, rb))), []).append((sa, sb, cond))
            if not by_pair:
                break
            # merge exactly one pair per round, then re-bucket (other pairs
            # may have become same-component and must go to the WHERE)
            (ra, rb), items = sorted(by_pair.items())[0]
            on = " AND ".join(f"({c})" for _, _, c in items)
            frames[ra] = f"{frames[ra]} JOIN {frames[rb]} ON {on}"
            parent_of[rb] = ra
            pending = [t for pair, its in by_pair.items() if pair != (ra, rb) for t in its]
        roots = sorted({find(s.alias) for s in slot_list})
        source = (frames[roots[0]] if len(roots) == 1
                  else " CROSS JOIN ".join(f"({frames[r]})" for r in roots))

        # project variables (first occurrence; all are condition-equal)
        columns: dict[str, str] = {}
        raws: dict[str, RawBinding] = {}
        for name, occs in occurrences.items():
            occ = occs[0]
            lex, dt, lang = self._render(occ)
            columns.update(zip((name + s for s in SHADOWS),
                               (lex, dt, lang, self._num_col(occ, lex))))
            rb = self._raw_binding(name, occ)
            if rb is not None:
                raw_cols, binding = rb
                columns.update(raw_cols)
                raws[name] = binding
        # R2RML NULL guard: every term of every matched triple is non-NULL.
        # Guard on the RAW source columns, not the rendered lexical — a
        # render is NULL iff some referenced column is NULL (cast/template
        # concat/canonicalization all propagate NULL), and guarding on the
        # raw input lets Catalyst PRUNE the rendered expression entirely when
        # a query never reads the lexical (e.g. aggregates over the numeric
        # shadow: the canonical-double render would otherwise be evaluated
        # per row just to feed this filter).
        where += [g for g in map(self._raw_null_guard, null_guards) if g is not None]
        tail = f"FROM {source}"
        if where:
            tail += " WHERE " + " AND ".join(f"({w})" for w in where)
        return columns, tail, raws

    def _raw_binding(
        self, name: str, occ: Occurrence
    ) -> tuple[list[tuple[str, str]], RawBinding] | None:
        """Raw-key provenance for one variable occurrence, or None when the
        render is not provably injective from raw columns: an IRI template
        with a ``render_key`` (see :class:`RawBinding`).  Floating-point
        slots have no key: grouping normalizes -0.0/NaN while their
        rendered lexicals stay distinct.
        """
        tm = occ.tm if occ.lateral is None else occ.lateral.alts[0]
        pos, slot = occ.position, occ.slot
        if tm.template is None or tm.inferred_term_type(pos) != "IRI":
            return None
        prov = self._render_key(occ)
        if prov is None:
            return None
        cols = raw_columns(tm)
        raw_names = tuple(f"{name}__raw{i}" for i in range(len(cols)))
        by = dict(zip(cols, raw_names))
        types_by_name = {c: slot.types[c] for c in cols}
        compiler = self.compiler

        def render() -> tuple[str, str, str, str]:
            lex, dt, lang = compiler.term_columns(
                tm, pos, lambda c: sql_ident(by[c]), types_by_name)
            return lex, dt, lang, "CAST(NULL AS DOUBLE)"

        return (
            list(zip(raw_names, self._raw_cols(occ))),
            RawBinding(cols=raw_names, prov=prov, render=render),
        )

    def _fold(self, slot: Slot, alts: list[TermMap]) -> Occurrence:
        """Fold a pattern's object alternatives into its star's slot: one
        struct per alternative (its NULL guard and, under a common
        ``render_key``, its raw columns, else its render), unrolled per row
        by a lateral view."""
        keys = {render_key(tm, "O", slot.types) for tm in alts}
        key = keys.pop() if len(keys) == 1 else None
        prefix = f"__f{len(slot.laterals) + 1}_"
        fields = ["ok"] + ([f"raw{i}" for i in range(len(raw_columns(alts[0])))]
                           if key is not None else ["lex", "dt", "lang", "num"])
        structs = []
        for tm in alts:
            occ = Occurrence(tm=tm, slot=slot, position="O")
            values = [self._raw_null_guard(occ) or "true"]
            if key is not None:
                values += self._raw_cols(occ)
            else:
                lex, dt, lang = self._render(occ)
                values += [lex, dt, lang, self._num_col(occ, lex)]
            structs.append("struct(" + ", ".join(
                f"{v} AS {f}" for v, f in zip(values, fields)) + ")")
        view = (f"LATERAL VIEW inline(array({', '.join(structs)})) AS "
                + ", ".join(sql_ident(prefix + f) for f in fields))
        lateral = Lateral(prefix=prefix, alts=tuple(alts), key=key, view=view)
        slot.laterals.append(lateral)
        return Occurrence(tm=None, slot=slot, position="O", lateral=lateral)

    def compile(self, patterns: list, graph_term=None, dataset=None, *,
                stmt: Statement) -> tuple[str, set[str], dict]:
        """All consistent assignments as ONE query block of ``stmt``: their
        SELECTs UNION ALLed in the text, with the constants bound as the
        statement's named parameters.

        Returns (SQL text, var names, raw bindings).  Every arm projects the same
        columns in the same order: each variable's four term columns (a
        typed NULL where an arm does not bind it), followed by its raw
        shadows (see :class:`RawBinding`) when every arm binds it with the
        same provenance (render key) — the raw columns then line up and raw
        equality still implies lexical equality across arms.  With no
        consistent assignment the statement is the typed-NULL SELECT with
        ``WHERE false``."""
        names: list[str] = []
        for s, p, o in patterns:
            for t in (s, p, graph_term, o):
                name = _var_name(t)
                if name is not None and name not in names:
                    names.append(name)

        # every logical source of the mapping is built on the first query,
        # so later queries analyze only their own statement
        self.compiler.build_sources([tmap.source for tmap in self.tmaps])
        choice_lists = self.choices(patterns, graph_term, dataset)
        n_assignments = math.prod(max(len(c), 1) for c in choice_lists)
        if n_assignments > MAX_ASSIGNMENTS:
            raise SparqlNotImplemented(
                f"BGP has {n_assignments} arm assignments (> {MAX_ASSIGNMENTS})"
            )

        self._stmt = stmt
        arms: list[tuple[dict, str, dict]] = []
        for assignment in itertools.product(*choice_lists):
            if len(assignment) != len(patterns):
                continue
            assignment = self._statically_consistent(patterns, assignment)
            if assignment is None:
                continue  # pruned before any SQL text is built
            arm = self.compile_assignment(patterns, assignment, graph_term)
            if arm is not None:
                arms.append(arm)
        arms = arms or [({}, "WHERE false", {})]

        keep: dict[str, RawBinding] = {
            v: rb for v, rb in arms[0][2].items()
            if all(v in r and r[v].prov == rb.prov for _, _, r in arms[1:])
        }
        out: list[tuple[str, str]] = []  # (column, typed NULL)
        for v in names:
            out += [(v + s, f"CAST(NULL AS {'DOUBLE' if s == '__num' else 'STRING'})")
                    for s in SHADOWS]
            # every arm projects a kept raw column: it needs no NULL
            out += [(c, "") for c in (keep[v].cols if v in keep else ())]
        out = out or [("__one", "1")]
        text = " UNION ALL ".join(
            "SELECT " + ", ".join(f"{columns.get(c, null)} AS {sql_ident(c)}"
                                  for c, null in out) + " " + tail
            for columns, tail, _ in arms)
        return text, set(names), keep

"""Compile SPARQL basic graph patterns directly against the R2RML mapping.

This is the reference's core query algorithm (reference:
rdflib_r2r/sql_converter.py:291-329 ``queryBGP``: enumerate every consistent
assignment of triple patterns to triples-map arms, emit one SELECT per
assignment, UNION ALL them) re-expressed as DataFrame plans:

- **Predicate index**: a pattern with a constant predicate only ever touches
  the arms that can produce that predicate — no scan of the full dump.
- **Star merging**: all patterns sharing a subject term and assigned to the
  same triples-map read ONE scan of the logical source (the reference's
  same-alias merge, sql_converter.py:427-455); a referencing-object arm's
  parent slot merges with the star of the object variable when the parent
  map matches, so ``?n ex:inRegion ?r . ?r ex:name ?rn`` is a single
  child->parent join, not a three-way self-join.
- **Constant pushdown**: constant subjects/objects are inverted through the
  term-map template (reference: rdflib_r2r/sql_converter.py:148-161,
  conversion_utils.py:517-531) into typed filters on raw columns, so the
  parquet scan sees ``o_orderkey = 1317``, never a string-concat comparison.
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
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.compiler import SparkMappingCompiler
from rdflib_r2r_spark.mapping import TermMap, TriplesMap, xsd_for_spark_type
from rdflib_r2r_spark.sparql.ast_nodes import BNodeT, IRI, Lit, Var
from rdflib_r2r_spark.sparql.parser import RDF_TYPE, SparqlNotImplemented
from rdflib_r2r_spark.templates import (
    invert_template_py,
    may_collide,
    raw_columns,
    render_key,
)
from rdflib_r2r_spark.terms import iri_unsafe_py

MAX_ASSIGNMENTS = 5000

_NUMERIC_XSD = {
    terms.XSD_INTEGER, terms.XSD_DOUBLE, terms.XSD_DECIMAL,
    terms.XSD + "float", terms.XSD + "int", terms.XSD + "long",
}

_NUMERIC_SPARK = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


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
                        pred_tm=TermMap(constant=RDF_TYPE, term_type="IRI"),
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
class Slot:
    alias: str
    df: DataFrame
    types: dict  # column -> spark DataType

    def col(self, name: str) -> Column:
        return F.col(f"{self.alias}.{name}")


@dataclass
class Occurrence:
    """One rendering of a variable: a term map evaluated in a slot."""

    tm: TermMap
    slot: Slot
    position: str  # S/P/O/G


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
    ``render`` — list of raw Columns (in ``cols`` order) ->
                 (lex, dt, lang, num) Columns, byte-identical to the
                 BGP-boundary render of the same raws.
    """

    cols: tuple
    prov: tuple
    render: object  # Callable[[list[Column]], tuple[Column, Column, Column, Column]]


def _term_key(t) -> tuple:
    if isinstance(t, Var):
        return ("v", t.name)
    if isinstance(t, BNodeT):
        return ("v", "__bn_" + t.label)
    if isinstance(t, IRI):
        return ("c", t.value)
    return ("l", getattr(t, "value", str(t)), getattr(t, "datatype", None))


def _effective_dt(tm: TermMap, slot: Slot) -> str | None:
    if tm.datatype:
        return tm.datatype
    if tm.column is not None and tm.column in slot.types:
        return xsd_for_spark_type(slot.types[tm.column])
    return None


class BGPCompiler:
    """Compiles a list of (s, p_iri, o) patterns (constant predicates) into
    one DataFrame of variable bindings."""

    def __init__(self, spark: SparkSession, tmaps: list[TriplesMap],
                 compiler: SparkMappingCompiler):
        self.spark = spark
        self.tmaps = tmaps
        self.compiler = compiler
        self.arms = enumerate_arms(tmaps)
        self._alias_n = 0
        # one source DataFrame per logical source (sqlQuery sources parse
        # once, not once per slot); slots alias it
        self._source_cache: dict[str, DataFrame] = {}

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

    # -- one assignment -> DataFrame -------------------------------------------

    def _new_slot(self, source) -> Slot:
        self._alias_n += 1
        alias = f"bgp{self._alias_n}"
        key = source.key()
        if key not in self._source_cache:
            self._source_cache[key] = self.compiler.source_df(source)
        return Slot(alias=alias, df=self._source_cache[key].alias(alias),
                    types=self.compiler.source_types(source))

    def _typed_lit(self, value: str, col: str, slot: Slot) -> Column:
        dtype = slot.types.get(col)
        lit = F.lit(value)
        if dtype is not None:
            if isinstance(dtype, _NUMERIC_SPARK):
                try:
                    num = float(value) if "." in value or "e" in value.lower() else int(value)
                except ValueError:
                    # non-numeric lexical can never equal a numeric column
                    raise _Prune() from None
                return F.lit(num).cast(dtype)
            return lit.cast(dtype)
        return lit

    def _invert_filters(self, const: str, template: str, slot: Slot) -> list[Column]:
        binding = invert_template_py(const, template)
        if binding is None:
            raise _Prune()
        return [
            slot.col(c) == self._typed_lit(iri_unsafe_py(raw), c, slot)
            for c, raw in binding.items()
        ]

    def _const_conditions(self, term, tm: TermMap, slot: Slot, position: str) -> list[Column]:
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
                return self._invert_filters(term.value, tm.template, slot)
            if tm.column is not None:
                return [slot.col(tm.column).cast("string") == F.lit(term.value)]
            raise _Prune()
        if isinstance(term, Lit):
            if kind != "Literal":
                raise _Prune()
            if tm.constant is not None:
                if tm.constant != term.value:
                    raise _Prune()
                return []
            if tm.column is not None:
                return [slot.col(tm.column) == self._typed_lit(term.value, tm.column, slot)]
            if tm.template is not None:
                return self._invert_filters(term.value, tm.template, slot)
        raise _Prune()

    def _unify(self, a: Occurrence, b: Occurrence) -> list[Column]:
        """Equality conditions making two renderings of one variable agree:
        raw-column equality when both renders have the same
        ``render_key``, a pruned assignment when they can never collide,
        and rendered (lex, dt, lang) equality otherwise."""
        ta, tb = a.tm, b.tm
        if not may_collide(ta, a.position, a.slot.types,
                           tb, b.position, b.slot.types):
            raise _Prune()
        if ta.constant is not None and tb.constant is not None:
            return []
        if tb.constant is not None:
            a, b, ta, tb = b, a, tb, ta
        if ta.constant is not None:
            term = IRI if ta.inferred_term_type(a.position) == "IRI" else Lit
            return self._const_conditions(term(ta.constant), tb, b.slot, b.position)
        key = render_key(ta, a.position, a.slot.types)
        if key is not None and key == render_key(tb, b.position, b.slot.types):
            # a shared variable already unified to one physical column
            # needs no `x == x` condition
            return [
                a.slot.col(ca) == b.slot.col(cb)
                for ca, cb in zip(raw_columns(ta), raw_columns(tb))
                if (a.slot.alias, ca) != (b.slot.alias, cb)
            ]
        lex_a, dt_a, lang_a = self._render(a)
        lex_b, dt_b, lang_b = self._render(b)
        return [(lex_a == lex_b) & dt_a.eqNullSafe(dt_b)
                & lang_a.eqNullSafe(lang_b)]

    def _col_eq(self, sa: Slot, ca: str, sb: Slot, cb: str) -> Column | None:
        """Equality of an R2RML join condition's child and parent columns."""
        if sa.alias == sb.alias and ca == cb:
            # same-table referencing map: a trivially-true `x == x` filter
            # would be dead work (and Spark WARN spam)
            return None
        if type(sa.types.get(ca)) is type(sb.types.get(cb)):
            return sa.col(ca) == sb.col(cb)
        return sa.col(ca).cast("string") == sb.col(cb).cast("string")

    def _raw_null_guard(self, occ: Occurrence) -> Column | None:
        """IS NOT NULL condition on the raw inputs of one term map, or None
        when the term can never be NULL (constants)."""
        tm, cols = occ.tm, raw_columns(occ.tm)
        if cols:
            return _and_all([occ.slot.col(c).isNotNull() for c in cols])
        if tm.constant is not None or tm.template is not None:
            return None
        # exotic term maps: fall back to the rendered lexical
        return self._render(occ)[0].isNotNull()

    def _render(self, occ: Occurrence) -> tuple[Column, Column, Column]:
        # slots are SQL-addressable aliased scans, so hand term_columns the
        # sql_qualify fast path (template renders become one F.expr parse
        # instead of ~100 Py4J round trips — bi4's compile was 2.1s, ~1.5s
        # of it in these chains)
        alias = occ.slot.alias
        return self.compiler.term_columns(
            occ.tm, occ.position, lambda c: occ.slot.col(c), occ.slot.types,
            sql_qualify=lambda c: f"`{alias}`.`" + c.replace("`", "``") + "`",
        )

    def _num_col(self, occ: Occurrence, lex: Column) -> Column:
        tm = occ.tm
        if tm.column is not None and isinstance(occ.slot.types.get(tm.column), _NUMERIC_SPARK):
            return occ.slot.col(tm.column).cast("double")
        dt = _effective_dt(tm, occ.slot)
        if tm.inferred_term_type(occ.position) == "Literal" and (dt is None or dt in _NUMERIC_XSD):
            return lex.try_cast("double")
        return F.lit(None).cast("double")

    def _statically_consistent(self, patterns: list, assignment) -> bool:
        """Cheap metadata-only unification check so impossible assignments
        (the big product of the reference's queryBGP) never build slots or
        plans — the reference's try_match_templates pruning, done eagerly."""
        occs: dict[str, list[tuple]] = {}

        def add(term, tm: TermMap, position: str, tmap: TriplesMap) -> None:
            if isinstance(term, Var):
                occs.setdefault(term.name, []).append((tm, position, tmap.source))
            elif isinstance(term, BNodeT):
                occs.setdefault("__bn_" + term.label, []).append(
                    (tm, position, tmap.source))

        for (s, p, o), arm in zip(patterns, assignment):
            add(s, arm.tmap.subject_map, "S", arm.tmap)
            add(p, arm.pred_tm, "P", arm.tmap)
            if arm.parent is not None:
                add(o, arm.parent.subject_map, "S", arm.parent)
            else:
                add(o, arm.obj_tm, "O", arm.tmap)

        types = self.compiler.source_types
        return all(
            may_collide(ta, pa, types(sa), tb, pb, types(sb))
            for (ta, pa, sa), *others in occs.values()
            for tb, pb, sb in others
        )

    def compile_assignment(self, patterns: list, assignment: list[Arm],
                           graph_term) -> tuple[DataFrame, dict] | None:
        """One consistent assignment -> (joined/filtered DataFrame, raw
        bindings per variable), or None if statically inconsistent."""
        # slot keying merges stars AND parent slots with object-variable stars
        slots: dict[tuple, Slot] = {}
        occurrences: dict[str, list[Occurrence]] = {}
        conditions: list[tuple[Slot | None, Slot | None, Column]] = []
        null_guards: list[tuple[Occurrence]] = []

        def slot_for(term, tmap: TriplesMap) -> Slot:
            key = (_term_key(term), tmap.name, tmap.source.key())
            if key not in slots:
                slots[key] = self._new_slot(tmap.source)
            return slots[key]

        def add_occ(term, tm: TermMap, slot: Slot, position: str) -> None:
            occ = Occurrence(tm=tm, slot=slot, position=position)
            if isinstance(term, (Var, BNodeT)):
                name = term.name if isinstance(term, Var) else "__bn_" + term.label
                occurrences.setdefault(name, []).append(occ)
            else:
                for cond in self._const_conditions(term, tm, slot, position):
                    conditions.append((slot, slot, cond))
            null_guards.append((occ,))

        try:
            for (s, p, o), arm in zip(patterns, assignment):
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

        # fold slots along the condition graph (equality conds become join
        # conditions; single-slot conds become filters; disconnected slots
        # cross-join, which only happens for genuinely disconnected patterns)
        slot_list = list(slots.values())
        parent_of: dict[str, str] = {s.alias: s.alias for s in slot_list}

        def find(a: str) -> str:
            while parent_of[a] != a:
                parent_of[a] = parent_of[parent_of[a]]
                a = parent_of[a]
            return a

        frames: dict[str, DataFrame] = {s.alias: s.df for s in slot_list}
        pending = list(conditions)
        while True:
            # same-component conditions become filters (applied and dropped);
            # all conditions between the same two components become ONE join
            # with an ANDed condition
            by_pair: dict[tuple, list] = {}
            for sa, sb, cond in pending:
                ra, rb = find(sa.alias), find(sb.alias)
                if ra == rb:
                    frames[ra] = frames[ra].filter(cond)
                else:
                    by_pair.setdefault(tuple(sorted((ra, rb))), []).append((sa, sb, cond))
            if not by_pair:
                break
            # merge exactly one pair per round, then re-bucket (other pairs
            # may have become same-component and must turn into filters)
            (ra, rb), items = sorted(by_pair.items())[0]
            frames[ra] = frames[ra].join(
                frames[rb], on=_and_all([c for _, _, c in items]), how="inner"
            )
            parent_of[rb] = ra
            pending = [t for pair, its in by_pair.items() if pair != (ra, rb) for t in its]

        roots = {find(s.alias) for s in slot_list}
        if not roots:
            df = self.spark.range(1).select(F.lit(1).alias("__one"))
        else:
            it = iter(sorted(roots))
            df = frames[next(it)]
            for r in it:
                df = df.crossJoin(frames[r])

        # project variables (first occurrence; all are condition-equal)
        out_cols: list[Column] = []
        guards: list[Column] = []
        raws: dict[str, RawBinding] = {}
        for name, occs in occurrences.items():
            occ = occs[0]
            lex, dt, lang = self._render(occ)
            out_cols.extend(
                [
                    lex.alias(name),
                    dt.alias(f"{name}__dt"),
                    lang.alias(f"{name}__lang"),
                    self._num_col(occ, lex).alias(f"{name}__num"),
                ]
            )
            rb = self._raw_binding(name, occ)
            if rb is not None:
                raw_cols, binding = rb
                out_cols.extend(col.alias(rc) for rc, col in raw_cols)
                raws[name] = binding
        # R2RML NULL guard: every term of every matched triple is non-NULL.
        # Guard on the RAW source columns, not the rendered lexical — a
        # render is NULL iff some referenced column is NULL (cast/template
        # concat/canonicalization all propagate NULL), and guarding on the
        # raw input lets Catalyst PRUNE the rendered expression entirely when
        # a query never reads the lexical (e.g. aggregates over the numeric
        # shadow: the canonical-double render would otherwise be evaluated
        # per row just to feed this filter).
        for (occ,) in null_guards:
            g = self._raw_null_guard(occ)
            if g is not None:
                guards.append(g)
        if not out_cols:
            out_cols = [F.lit(1).alias("__one")]
        out = df
        for gcond in guards:
            out = out.filter(gcond)
        return out.select(*out_cols), raws

    def _raw_binding(
        self, name: str, occ: Occurrence
    ) -> tuple[list[tuple[str, Column]], RawBinding] | None:
        """Raw-key provenance for one variable occurrence, or None when the
        render is not provably injective from raw columns: an IRI template
        with a ``render_key`` (see :class:`RawBinding`).  Floating-point
        slots have no key: grouping normalizes -0.0/NaN while their
        rendered lexicals stay distinct.
        """
        tm, pos, slot = occ.tm, occ.position, occ.slot
        if tm.template is None or tm.inferred_term_type(pos) != "IRI":
            return None
        prov = render_key(tm, pos, slot.types)
        if prov is None:
            return None
        cols = raw_columns(tm)
        raw_names = tuple(f"{name}__raw{i}" for i in range(len(cols)))
        types_by_name = {c: slot.types[c] for c in cols}
        compiler = self.compiler

        def render(raw_cols: list) -> tuple[Column, Column, Column, Column]:
            by = dict(zip(cols, raw_cols))
            lex, dt, lang = compiler.term_columns(
                tm, pos, lambda c: by[c], types_by_name
            )
            return lex, dt, lang, F.lit(None).cast("double")

        return (
            [(rn, slot.col(c)) for rn, c in zip(raw_names, cols)],
            RawBinding(cols=raw_names, prov=prov, render=render),
        )

    def compile(self, patterns: list, graph_term=None,
                dataset=None) -> tuple[DataFrame, set[str], dict]:
        """All consistent assignments, UNION ALLed.

        Returns (df, var names, raw bindings).  Raw bindings (see
        :class:`RawBinding`) are only reported for a single-assignment BGP:
        across a union of arms the same variable can be rendered from
        different templates, so the raw columns would not be comparable."""
        var_names: set[str] = set()
        for s, p, o in patterns:
            for t in (s, p, o):
                if isinstance(t, Var):
                    var_names.add(t.name)
                elif isinstance(t, BNodeT):
                    var_names.add("__bn_" + t.label)
        if isinstance(graph_term, Var):
            var_names.add(graph_term.name)

        cand_lists = [self.candidates(s, p, o, graph_term, dataset)
                      for (s, p, o) in patterns]
        n_assignments = 1
        for c in cand_lists:
            n_assignments *= max(len(c), 1)
        if n_assignments > MAX_ASSIGNMENTS:
            raise SparqlNotImplemented(
                f"BGP has {n_assignments} arm assignments (> {MAX_ASSIGNMENTS})"
            )

        parts: list[tuple[DataFrame, dict]] = []
        for assignment in itertools.product(*cand_lists):
            if len(assignment) != len(patterns):
                continue
            if not self._statically_consistent(patterns, assignment):
                continue  # pruned before any DataFrame work
            res = self.compile_assignment(patterns, list(assignment), graph_term)
            if res is not None:
                parts.append(res)

        if not parts:
            return self._empty(var_names), var_names, {}
        if len(parts) == 1:
            df, raws = parts[0]
            return df, var_names, raws
        # multi-arm union: a variable keeps its raw shadows only when EVERY
        # arm binds it with the same provenance (render key) — the raw
        # columns then line up by name and raw equality still implies
        # lexical equality across arms; anything else drops
        first_raws = parts[0][1]
        keep: dict[str, RawBinding] = {
            v: rb for v, rb in first_raws.items()
            if all(v in r and r[v].prov == rb.prov for _, r in parts[1:])
        }
        dfs = []
        for df, raws in parts:
            raw_cols = [c for v, rb in raws.items() if v not in keep
                        for c in rb.cols]
            dfs.append(df.drop(*raw_cols) if raw_cols else df)
        out = dfs[0]
        for p in dfs[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out, var_names, keep

    def _empty(self, var_names: set[str]) -> DataFrame:
        fields = []
        for v in sorted(var_names):
            fields.extend(
                [
                    T.StructField(v, T.StringType()),
                    T.StructField(f"{v}__dt", T.StringType()),
                    T.StructField(f"{v}__lang", T.StringType()),
                    T.StructField(f"{v}__num", T.DoubleType()),
                ]
            )
        if not fields:
            fields = [T.StructField("__one", T.IntegerType())]
        return self.spark.createDataFrame([], T.StructType(fields))


def _and_all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out

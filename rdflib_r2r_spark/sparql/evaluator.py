"""Evaluate the SPARQL algebra over DataFrames.

Dispatch mirrors the reference's ``queryPart`` (reference:
rdflib_r2r/query_conversions.py:388-419: SelectQuery/Project/Extend/Filter/
Join/LeftJoin/Union/Minus/BGP/AggregateJoin/Group/OrderBy/Slice/Distinct/
values/ToMultiSet) with the same "raise on anything else" contract
(SURVEY.md §2 A14). BGPs compile against the mapping via
:mod:`rdflib_r2r_spark.sparql.bgp`; everything above the BGP is plain
DataFrame algebra, so Catalyst sees one declarative plan per query.  The
BGPs of one group (split by a FILTER, or written as adjacent ``{}``
groups) are merged into one before they compile: inner join is
associative and commutative, and ``Join(BGP1, BGP2)`` is ``BGP(P1 ∪ P2)``,
so the group is one statement whose static pruning sees every pattern.

Binding representation: each solution variable ``v`` is four columns —
``v`` (term-encoded lexical: ``<iri>``, ``_:b...``, or literal lexical),
``v__dt``, ``v__lang``, and ``v__num`` (double shadow for typed
filters/aggregates) — except expression-born variables, which are single
native-typed columns (count -> bigint etc.), matching what the reference's
SQL SELECT list produces.
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdflib_r2r_spark import paths as pathmod
from rdflib_r2r_spark import terms
from rdflib_r2r_spark.paths import transitive_closure
from rdflib_r2r_spark.sparql import ast_nodes as A
from rdflib_r2r_spark.sparql.ast_nodes import (
    AGGREGATES,
    BNodeT,
    Call,
    Closure,
    ExistsExpr,
    InExpr,
    IRI,
    Lit,
    Maybe,
    Op,
    Var,
)
from rdflib_r2r_spark.compiler import sql_ident
from rdflib_r2r_spark.sparql.bgp import MAX_ASSIGNMENTS, SHADOWS, BGPCompiler
from rdflib_r2r_spark.sparql.parser import SparqlNotImplemented


def _render_raws(df: DataFrame, raw_vars: dict) -> DataFrame:
    """Append each raw-keyed var's four term columns, rendered from its raw
    shadows (``RawBinding.render``), in one projection."""
    if not raw_vars:
        return df
    return df.selectExpr("*", *[
        f"{e} AS {sql_ident(v + s)}"
        for v, rb in raw_vars.items() for e, s in zip(rb.render(), SHADOWS)
    ])


def _term_columns(name: str, lex: Column, dt: Column | None = None,
                  lang: Column | None = None, num: Column | None = None
                  ) -> list[Column]:
    """Term variable ``name``'s four columns from its lexical, datatype,
    language and numeric shadow; a missing one is a typed NULL."""
    null = F.lit(None)
    return [c.alias(name + s) for c, s in zip(
        (lex,
         null.cast("string") if dt is None else dt,
         null.cast("string") if lang is None else lang,
         null.cast("double") if num is None else num),
        SHADOWS)]


def encode_term(t) -> tuple[str | None, str | None, str | None]:
    """(lex, dt, lang) of a constant AST term in the engine's encoding."""
    if isinstance(t, IRI):
        return f"<{t.value}>", None, None
    if isinstance(t, Lit):
        return t.value, t.datatype, t.language
    if t is None:
        return None, None, None
    raise SparqlNotImplemented(f"cannot encode {t!r}")


@dataclass
class BindingFrame:
    df: DataFrame
    term_vars: set[str]
    native_vars: dict[str, str] = dc_field(default_factory=dict)  # var -> kind
    # vars that MAY be unbound (NULL lex) in some solutions: produced by
    # OPTIONAL right sides, VALUES UNDEF, UNION padding, BIND errors.  Joins
    # apply SPARQL compatibility (unbound matches anything) ONLY for these,
    # keeping the common always-bound path a plain hash-joinable equi-join.
    maybe_null: set[str] = dc_field(default_factory=set)
    # var -> bgp.RawBinding: the var's lexical is an injective render of the
    # raw shadow columns listed there (present in df).  GROUP BY and inner
    # frame joins key on the raws (narrow, join-pushable) and re-render
    # after the exchange; every operator that cannot prove preservation
    # simply strips the raws (columns + metadata) — losing only the
    # optimization, never correctness.
    raw_vars: dict = dc_field(default_factory=dict)

    @property
    def all_vars(self) -> set[str]:
        return self.term_vars | set(self.native_vars)

    def columns_for(self, v: str) -> list[str]:
        if v in self.term_vars:
            return [v + s for s in SHADOWS]
        return [v]


# --------------------------------------------------------------------------
# expression values
# --------------------------------------------------------------------------

@dataclass
class EV:
    """A compiled expression: lazy views over one value."""

    lex: Column | None = None       # encoded lexical
    num: Column | None = None       # double view
    dt: Column | None = None
    lang: Column | None = None
    boolean: Column | None = None
    native: Column | None = None    # preferred typed output
    kind: str = "term"              # term|num|str|bool
    # round 7: "never" marks operands whose numeric view is STATICALLY
    # NULL (string literals that do not parse as a number, IRI
    # constants).  Catalyst does not fold the dead numeric arm of the
    # numeric-or-lexical CASE (measured: it leaves a per-row try_cast
    # string->double parse in the plan — 3.5s/arm on bsbm_bi3's date
    # filters), so _cmp/_eq prune it at compile time instead.  The
    # result is identical: with one side's num always NULL, the CASE
    # condition is always false and the lexical branch always runs.
    static_num: str = "maybe"       # maybe|never
    # raw-keyed term var (BindingFrame.raw_vars): equality against another
    # EV with the SAME raw_prov compares the raw shadow columns instead of
    # rendering both lexicals per row (raw eq <=> lex eq, injective render)
    raw_cols: tuple | None = None
    raw_prov: tuple | None = None

    def as_num(self) -> Column:
        if self.num is not None:
            return self.num
        if self.native is not None:
            return self.native.cast("double")
        assert self.lex is not None
        return self.lex.try_cast("double")

    def as_str(self) -> Column:
        """SPARQL STR(): IRIs lose brackets, literals keep lexical."""
        if self.kind == "str" and self.native is not None:
            return self.native
        if self.native is not None:
            return self.native.cast("string")
        lex = self.lex
        assert lex is not None
        return F.when(
            lex.startswith("<") & lex.endswith(">"),
            lex.substr(F.lit(2), F.length(lex) - 2),
        ).otherwise(lex)

    def as_bool(self) -> Column:
        """SPARQL effective boolean value."""
        if self.boolean is not None:
            return self.boolean
        if self.kind == "num":
            n = self.as_num()
            return n.isNotNull() & (n != 0)
        if self.native is not None and self.kind == "bool":
            return self.native
        lex = self.lex
        assert lex is not None
        n = self.as_num()
        is_bool_dt = (
            self.dt.eqNullSafe(F.lit(terms.XSD_BOOLEAN))
            if self.dt is not None
            else F.lit(False)
        )
        return (
            F.when(is_bool_dt, lex == "true")
            .when(n.isNotNull(), n != 0)
            .otherwise(lex.isNotNull() & (F.length(lex) > 0))
        )

    def as_lex(self) -> Column:
        if self.lex is not None:
            return self.lex
        assert self.native is not None
        return self.native.cast("string")

    def dt_col(self) -> Column:
        if self.dt is not None:
            return self.dt
        return F.lit(None).cast("string")

    def lang_col(self) -> Column:
        if self.lang is not None:
            return self.lang
        return F.lit(None).cast("string")

    def out_col(self) -> Column:
        """Column for a projected/ordered expression result."""
        if self.native is not None:
            return self.native
        assert self.lex is not None
        return self.lex


# superset of every lexical form Spark's non-ANSI string->double cast
# accepts (Java Double.parseDouble incl. hex floats and f/d suffixes, plus
# Spark's special inf/nan spellings).  A literal that does NOT match can
# never take the numeric branch of a comparison — used to set
# EV.static_num="never" conservatively (false "maybe" keeps the old plan;
# false "never" is impossible by construction of the superset).
_MAYBE_NUMERIC_RE = re.compile(
    r"""\s*[+-]?(
        (?i:nan|inf(inity)?) |
        ((\d+\.?\d*|\.\d+)([eE][+-]?\d+)?[fFdD]?) |
        (0[xX][0-9a-fA-F]*\.?[0-9a-fA-F]*([pP][+-]?\d+)?[fFdD]?)
    )\s*$""",
    re.VERBOSE,
)


def _never_numeric_value(value: str) -> bool:
    return _MAYBE_NUMERIC_RE.fullmatch(value) is None


def ev_num(c: Column) -> EV:
    return EV(num=c.cast("double"), native=c, kind="num")


def ev_bool(c: Column) -> EV:
    return EV(boolean=c, native=c, kind="bool")


def ev_str(c: Column) -> EV:
    return EV(lex=c, native=c, kind="str")


# --------------------------------------------------------------------------
# evaluator
# --------------------------------------------------------------------------

class Evaluator:
    def __init__(self, spark: SparkSession, bgp_compiler: BGPCompiler,
                 dump_provider):
        self.spark = spark
        self.bgp = bgp_compiler
        self._dump_provider = dump_provider  # () -> DataFrame (6-col dump)
        self._marker_n = 0
        self._fresh_n = 0
        self.dataset = None  # FROM / FROM NAMED (SPARQL 1.1 13.2)

    # -- entry points ---------------------------------------------------------

    def eval_select(self, q: A.SelectQuery) -> DataFrame:
        self.dataset = q.dataset
        bf = self._eval_select_bf(q)
        # final projection: plain columns only
        cols = []
        for v in sorted(bf.all_vars):
            cols.append(F.col(v))
        return bf.df.select(*cols)

    def eval_ask(self, q: A.AskQuery) -> DataFrame:
        self.dataset = q.dataset
        bf = self.eval_pattern(q.where)
        return bf.df.limit(1).agg((F.count(F.lit(1)) > 0).alias("found"))

    def eval_describe(self, q: A.DescribeQuery) -> DataFrame:
        """DESCRIBE: all triples whose subject is a described node (simple
        subject-oriented description). Constants filter the dump directly;
        variables come from the WHERE solutions via a semi-join.  Under a
        dataset clause the description triples come from the restricted
        default graph (13.2: the query's default graph)."""
        self.dataset = q.dataset
        dump = self._default_graph_df()
        consts = [t for t in q.terms if isinstance(t, IRI)]
        vars_ = [t for t in q.terms if isinstance(t, Var)]
        parts = []
        if consts:
            lexes = [f"<{c.value}>" for c in consts]
            parts.append(dump.filter(F.col("subj").isin(lexes)))
        if q.where is not None:
            bf = self.eval_pattern(q.where)
            if q.terms:
                # explicit DESCRIBE terms: describe exactly those (constants
                # were handled above; variables resolve via WHERE solutions)
                names = [v.name for v in vars_ if v.name in bf.all_vars]
            else:
                # DESCRIBE * — every variable the WHERE clause binds
                names = sorted(v for v in bf.term_vars if not v.startswith("__"))
            for name in names:
                nodes = bf.df.select(F.col(name).alias("__n")).distinct()
                parts.append(
                    dump.join(nodes, dump["subj"] == nodes["__n"], "left_semi")
                )
        if not parts:
            return dump.limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def eval_construct(self, q: A.ConstructQuery) -> DataFrame:
        self.dataset = q.dataset
        bf = self.eval_pattern(q.where)
        if not q.template:  # legal: CONSTRUCT { } WHERE { ... } -> empty graph
            return self._dump_df().limit(0)
        parts = []
        for s, p, o in q.template:
            if isinstance(p, pathmod.Pred):
                p = IRI(p.iri)
            cols = [
                self._tmpl_col(bf, s, "subj"),
                self._tmpl_col(bf, p, "pred"),
                self._tmpl_col(bf, o, "obj"),
                self._tmpl_shadow(bf, o, "__dt").alias("obj_dt"),
                self._tmpl_shadow(bf, o, "__lang").alias("obj_lang"),
                F.lit(None).cast("string").alias("graph"),
            ]
            parts.append(bf.df.select(*cols).filter(
                F.col("subj").isNotNull() & F.col("pred").isNotNull() & F.col("obj").isNotNull()
            ))
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        out = out.distinct()
        if q.offset:
            out = out.offset(q.offset)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

    def _tmpl_col(self, bf: BindingFrame, t, alias: str) -> Column:
        if isinstance(t, Var):
            if t.name in bf.term_vars:
                return F.col(t.name).alias(alias)
            return F.col(t.name).cast("string").alias(alias)
        if isinstance(t, BNodeT):
            raise SparqlNotImplemented("bnodes in CONSTRUCT templates")
        lex, _, _ = encode_term(t)
        return F.lit(lex).alias(alias)

    def _tmpl_shadow(self, bf: BindingFrame, t, shadow: str) -> Column:
        if isinstance(t, Var) and t.name in bf.term_vars:
            return F.col(t.name + shadow)
        if isinstance(t, Lit):
            v = t.datatype if shadow == "__dt" else t.language
            return F.lit(v).cast("string")
        return F.lit(None).cast("string")

    # -- SELECT with modifiers ---------------------------------------------------

    def _eval_select_bf(self, q: A.SelectQuery) -> BindingFrame:
        bf = self.eval_pattern(q.where)

        # implicit/explicit grouping
        has_agg = any(
            self._contains_aggregate(e)
            for e in ([p[0] for p in q.projection if isinstance(p, tuple)]
                      + list(q.having)
                      + [e for e, _ in q.order_by])
        )
        if q.group_by or has_agg or q.having:
            bf = self._eval_group(bf, q)
        else:
            # non-aggregate projection expressions = Extend
            for p in q.projection:
                if isinstance(p, tuple):
                    e, v = p
                    bf = self._extend(bf, v.name, e)

        # projection
        proj_names = []
        for p in q.projection:
            proj_names.append(p[1].name if isinstance(p, tuple) else p.name)
        if not proj_names:  # SELECT *
            proj_names = sorted(v for v in bf.all_vars if not v.startswith("__"))

        def sort_frame(frame: BindingFrame) -> BindingFrame:
            sort_cols: list[Column] = []
            for e, asc in q.order_by:
                ev = self.compile_expr(e, frame)
                if ev.kind == "term":
                    # numeric view first (numeric terms order numerically,
                    # NULL for non-numerics), lexical as tiebreak/fallback
                    num, lex = ev.as_num(), ev.as_lex()
                    sort_cols.append(num.asc() if asc else num.desc())
                    sort_cols.append(lex.asc() if asc else lex.desc())
                else:
                    c = ev.out_col()
                    sort_cols.append(c.asc() if asc else c.desc())
            if not sort_cols:
                return frame
            return BindingFrame(frame.df.orderBy(*sort_cols), frame.term_vars,
                                frame.native_vars, frame.maybe_null,
                                frame.raw_vars)

        if not (q.distinct or q.reduced):
            # ORDER BY may reference non-projected vars: sort BEFORE
            # narrowing; Catalyst fuses Limit(Project(Sort)) into
            # TakeOrderedAndProject
            bf = sort_frame(bf)

        keep: list[str] = []
        for name in proj_names:
            if name in bf.term_vars:
                keep.extend(name + s for s in SHADOWS)
                if name in bf.raw_vars:
                    keep.extend(bf.raw_vars[name].cols)
            elif name in bf.native_vars:
                keep.append(name)
            else:
                # projected but never bound: NULL column
                bf.df = bf.df.withColumn(name, F.lit(None).cast("string"))
                bf.native_vars[name] = "str"
                keep.append(name)
        df = bf.df.select(*[F.col(c) for c in keep])
        out = BindingFrame(
            df,
            {v for v in proj_names if v in bf.term_vars},
            {v: k for v, k in bf.native_vars.items() if v in proj_names},
            {v for v in proj_names if v in bf.maybe_null or v not in bf.all_vars},
            {v: rb for v, rb in bf.raw_vars.items() if v in proj_names},
        )

        if q.distinct or q.reduced:
            # SPARQL 18.2.5: Distinct applies to the projected multiset,
            # ORDER/Slice run over the distinct solutions.  For raw-keyed
            # vars the term shadows are exact functions of the raws
            # (injective render, static dt/lang), so deduplicating on the
            # raws + remaining columns yields the same multiset — the
            # distinct exchange then carries bigints and the pre-distinct
            # render is pruned; shadows are re-rendered per distinct row.
            if out.raw_vars:
                drop_cols = [v + s for v in out.raw_vars for s in SHADOWS]
                ddf = _render_raws(out.df.drop(*drop_cols).distinct(),
                                   out.raw_vars)
                out = BindingFrame(ddf, out.term_vars, out.native_vars,
                                   out.maybe_null, out.raw_vars)
            else:
                out = BindingFrame(out.df.distinct(), out.term_vars,
                                   out.native_vars, out.maybe_null)
            out = sort_frame(out)
        if q.offset:
            out = BindingFrame(out.df.offset(q.offset), out.term_vars,
                               out.native_vars, out.maybe_null, out.raw_vars)
        if q.limit is not None:
            out = BindingFrame(out.df.limit(q.limit), out.term_vars,
                               out.native_vars, out.maybe_null, out.raw_vars)
        return out

    # -- grouping / aggregation ---------------------------------------------------

    def _contains_aggregate(self, e) -> bool:
        if isinstance(e, Call) and e.name in AGGREGATES:
            return True
        if isinstance(e, Op):
            return any(self._contains_aggregate(a) for a in e.args)
        if isinstance(e, Call):
            return any(self._contains_aggregate(a) for a in e.args if a != "*")
        if isinstance(e, InExpr):
            return self._contains_aggregate(e.expr)
        return False

    def _eval_group(self, bf: BindingFrame, q: A.SelectQuery) -> BindingFrame:
        # group keys
        key_vars: list[str] = []
        for g in q.group_by:
            if isinstance(g, Var):
                key_vars.append(g.name)
            elif isinstance(g, tuple):
                e, v = g
                bf = self._extend(bf, v.name, e)
                key_vars.append(v.name)
            else:
                raise SparqlNotImplemented("GROUP BY expressions need AS")

        # collect aggregate calls from projection + having + order by
        aggs: dict[Call, str] = {}

        def collect(e):
            if isinstance(e, Call) and e.name in AGGREGATES:
                if e not in aggs:
                    aggs[e] = f"__agg{len(aggs)}"
                return
            if isinstance(e, Op):
                for a in e.args:
                    collect(a)
            elif isinstance(e, Call):
                for a in e.args:
                    if a != "*":
                        collect(a)
            elif isinstance(e, InExpr):
                collect(e.expr)

        for p in q.projection:
            if isinstance(p, tuple):
                collect(p[0])
        for h in q.having:
            collect(h)
        for e, _ in q.order_by:
            collect(e)

        agg_cols = [self._compile_aggregate(c, bf).alias(n) for c, n in aggs.items()]
        key_cols: list[str] = []
        # raw-keyed group vars: group on the narrow raw shadows (the lexical
        # is an injective function of them, so the groups are identical) and
        # re-render the term columns AFTER the aggregate — Catalyst prunes
        # the per-row render and the exchange carries bigints, not IRIs
        raw_keyed = [v for v in key_vars if v in bf.term_vars and v in bf.raw_vars]
        for v in key_vars:
            if v in raw_keyed:
                key_cols.extend(bf.raw_vars[v].cols)
            else:
                key_cols.extend(bf.columns_for(v))
        if key_cols:
            gdf = bf.df.groupBy(*[F.col(c) for c in key_cols]).agg(*agg_cols)
        else:
            gdf = bf.df.agg(*agg_cols) if agg_cols else bf.df.limit(1)
        gdf = _render_raws(gdf, {v: bf.raw_vars[v] for v in raw_keyed})

        out = BindingFrame(
            gdf,
            {v for v in key_vars if v in bf.term_vars},
            {v: k for v, k in bf.native_vars.items() if v in key_vars},
            # null keys group together; aggregates over empty/all-null input
            # (e.g. SUM of an OPTIONAL var) can come back NULL
            {v for v in key_vars if v in bf.maybe_null} | set(aggs.values()),
            {v: bf.raw_vars[v] for v in raw_keyed},
        )
        for c, n in aggs.items():
            if c.name == "GROUP_CONCAT":
                out.native_vars[n] = "str"
            elif c.name in ("MIN", "MAX") and self._agg_arg_kind(c, bf) == "term":
                # unpack the term struct back into term-var shadow columns
                out.df = out.df.withColumns({
                    f"{n}__dt": F.col(n)["dt"],
                    f"{n}__lang": F.col(n)["lang"],
                    f"{n}__num": F.col(n)["num"],
                    n: F.col(n)["lex"],
                })
                out.term_vars.add(n)
            elif c.name == "SAMPLE" and self._agg_arg_kind(c, bf) == "term":
                out.native_vars[n] = "str"
            else:
                out.native_vars[n] = "num"

        # rewrite outer expressions: aggregate calls -> synthetic vars
        def rewrite(e):
            if isinstance(e, Call) and e.name in AGGREGATES:
                return Var(aggs[e])
            if isinstance(e, Op):
                return Op(e.op, tuple(rewrite(a) for a in e.args))
            if isinstance(e, Call):
                return Call(e.name, tuple(a if a == "*" else rewrite(a) for a in e.args),
                            e.distinct, e.separator)
            if isinstance(e, InExpr):
                return InExpr(rewrite(e.expr), e.options, e.negated)
            return e

        # projection exprs over the grouped frame
        for p in q.projection:
            if isinstance(p, tuple):
                e, v = p
                out = self._extend(out, v.name, rewrite(e))
        for h in q.having:
            hv = self.compile_expr(rewrite(h), out)
            out = BindingFrame(out.df.filter(hv.as_bool()), out.term_vars,
                               out.native_vars, raw_vars=out.raw_vars)
        q.order_by = [(rewrite(e), asc) for e, asc in q.order_by]
        # drop synthetic agg vars from the frame's visible set (they remain
        # as columns for ORDER BY)
        return out

    def _agg_arg_kind(self, c: Call, bf: BindingFrame) -> str:
        if not c.args or c.args[0] == "*":
            return "num"
        return self.compile_expr(c.args[0], bf).kind

    def _compile_aggregate(self, c: Call, bf: BindingFrame) -> Column:
        name = c.name
        if name == "COUNT":
            if not c.args or c.args[0] == "*":
                return F.count(F.lit(1))
            # raw-keyed var: the lexical is null iff a raw shadow is null and
            # distinct raws <=> distinct lexicals (injective render), so the
            # count never needs the rendered IRI at all
            if isinstance(c.args[0], Var) and c.args[0].name in bf.raw_vars:
                rcols = [F.col(rc) for rc in bf.raw_vars[c.args[0].name].cols]
                if c.distinct:
                    return F.count_distinct(*rcols)
                if len(rcols) == 1:
                    return F.count(rcols[0])
                nn = rcols[0].isNotNull()
                for rc in rcols[1:]:
                    nn = nn & rc.isNotNull()
                return F.count(F.when(nn, F.lit(1)))
            ev = self.compile_expr(c.args[0], bf)
            col = ev.out_col()
            return F.countDistinct(col) if c.distinct else F.count(col)
        ev = self.compile_expr(c.args[0], bf)
        if name in ("SUM", "AVG"):
            # exact decimal sums -> engine-order-independent doubles
            n = ev.as_num().cast("decimal(28,6)")
            if c.distinct:
                s = F.sum_distinct(n)
            else:
                s = F.sum(n)
            if name == "SUM":
                return s.cast("double")
            cnt = (F.count_distinct(ev.as_num()) if c.distinct
                   else F.count(ev.as_num()))
            # divide as doubles: decimal division rounds at the result scale
            # (half-up in Spark, different in other engines) and breaks
            # cross-engine parity on .5-at-scale boundaries
            return s.cast("double") / cnt
        if name in ("MIN", "MAX"):
            fn = F.min if name == "MIN" else F.max
            if ev.kind == "term":
                # aggregate the TERM: an orderable struct whose leading flag
                # prefers numeric values (SPARQL MIN/MAX order numerics
                # numerically; all-string groups fall back to lexical order)
                flag = ev.as_num().isNull() if name == "MIN" else ev.as_num().isNotNull()
                s = F.struct(
                    flag.alias("nn"),
                    ev.as_num().alias("num"),
                    ev.as_lex().alias("lex"),
                    ev.dt_col().alias("dt"),
                    ev.lang_col().alias("lang"),
                )
                return fn(s)
            return fn(ev.as_num()).cast("double") if ev.kind == "num" else fn(ev.out_col())
        if name == "SAMPLE":
            return F.min(ev.out_col())
        if name == "GROUP_CONCAT":
            sep = c.separator if c.separator is not None else " "
            lst = F.collect_set(ev.as_str()) if c.distinct else F.collect_list(ev.as_str())
            return F.concat_ws(sep, F.array_sort(lst))
        raise SparqlNotImplemented(f"aggregate {name}")

    # -- pattern dispatch -----------------------------------------------------------

    def eval_pattern(self, p) -> BindingFrame:
        if isinstance(p, A.BGP):
            return self.eval_bgp(p)
        if isinstance(p, A.Join):
            # flatten the (left-deep, textual-order) inner-join tree and
            # reorder greedily by shared variables: SPARQL inner join is
            # associative+commutative, and the textual order can put two
            # DISCONNECTED group patterns adjacent (BSBM bi5's first two
            # sub-selects) — joined as written that is a CartesianProduct
            # that a later pattern then filters; connected-first ordering
            # turns it into plain hash joins
            conjuncts: list = []

            def flat(x):
                if isinstance(x, A.Join):
                    flat(x.left)
                    flat(x.right)
                else:
                    conjuncts.append(x)

            flat(p)
            frames = [self.eval_pattern(c) for c in self._merge_bgps(conjuncts)]
            acc = frames[0]
            rest = frames[1:]
            bound = set(acc.all_vars)
            while rest:
                i = next(
                    (k for k, f in enumerate(rest) if f.all_vars & bound), 0
                )
                nxt = rest.pop(i)
                acc = self._join(acc, nxt)
                bound |= nxt.all_vars
            return acc
        if isinstance(p, A.LeftJoin):
            return self._left_join(self.eval_pattern(p.left), self.eval_pattern(p.right), p.expr)
        if isinstance(p, A.Union):
            return self._union(self.eval_pattern(p.left), self.eval_pattern(p.right))
        if isinstance(p, A.Minus):
            return self._minus(self.eval_pattern(p.left), self.eval_pattern(p.right))
        if isinstance(p, A.Filter):
            return self._filter(self.eval_pattern(p.pattern), p.expr)
        if isinstance(p, A.Extend):
            return self._extend(self.eval_pattern(p.pattern), p.var.name, p.expr)
        if isinstance(p, A.ValuesPat):
            return self._values(p)
        if isinstance(p, A.SubSelect):
            return self._eval_select_bf(p.query)
        raise SparqlNotImplemented(f"pattern {type(p).__name__}")

    # -- BGP (mapping-compiled + special relations) ----------------------------------

    def _fresh_var(self) -> str:
        self._fresh_n += 1
        return f"__pv{self._fresh_n}"

    def _merge_bgps(self, conjuncts: list) -> list:
        """The inner-join conjuncts with the BGPs of one graph concatenated
        into the first of them.  A merge that would give the BGP compiler
        more than ``MAX_ASSIGNMENTS`` assignments leaves the BGPs apart."""
        out: list = []
        at: dict = {}  # graph term -> index in ``out`` of its merged BGP
        for c in conjuncts:
            if isinstance(c, A.BGP):
                i = at.get(c.graph)
                if i is not None:
                    both = A.BGP(out[i].triples + c.triples, graph=c.graph)
                    if max(self.bgp.assignment_count(plain, both.graph, self.dataset)
                           for plain, _ in self._resolve(both)) <= MAX_ASSIGNMENTS:
                        out[i] = both
                        continue
                at[c.graph] = len(out)
            out.append(c)
        return out

    def _resolve(self, p: A.BGP):
        """Per path-free alternative of the BGP: its plain patterns and its
        special (dump, closure, negated-set) ones.  Path variables are
        fresh for the whole query, so two BGPs never share one."""
        for alt in pathmod.resolve_paths(p.triples, lambda: Var(self._fresh_var())):
            plain: list = []
            special: list = []
            for s, pred, o in alt:
                if isinstance(pred, str):
                    plain.append((s, IRI(pred), o))
                elif isinstance(pred, Var):
                    special.append(("dump", s, pred, o))
                elif isinstance(pred, (Closure, Maybe)):
                    special.append(("closure", s, pred, o))
                elif isinstance(pred, pathmod.NegSet):
                    special.append(("negset", s, pred, o))
                elif isinstance(pred, pathmod.Pred):
                    plain.append((s, IRI(pred.iri), o))
                else:
                    raise SparqlNotImplemented(f"path {pred!r}")
            yield plain, special

    def eval_bgp(self, p: A.BGP) -> BindingFrame:
        if not p.triples:
            return BindingFrame(self.spark.range(1).select(F.lit(1).alias("__one")), set())
        parts: list[BindingFrame] = []
        for plain, special in self._resolve(p):
            bfs: list[BindingFrame] = []
            if plain:
                df, var_names, raws = self.bgp.compile(plain, p.graph,
                                                       dataset=self.dataset)
                bfs.append(BindingFrame(df, var_names, raw_vars=raws))
            for kind, s, pred, o in special:
                if kind == "dump":
                    bfs.append(self._dump_pattern(s, pred, o, p.graph))
                elif kind == "negset":
                    bfs.append(self._negset_pattern(s, pred, o, p.graph))
                else:
                    bfs.append(self._closure_pattern(s, pred, o, p.graph))
            bf = bfs[0]
            for other in bfs[1:]:
                bf = self._join(bf, other)
            parts.append(bf)
        out = parts[0]
        for other in parts[1:]:
            out = self._union(out, other)
        return out

    def _dump_df(self) -> DataFrame:
        return self._dump_provider()

    def _default_graph_df(self) -> DataFrame:
        """The query's default graph as a triple DataFrame (honors FROM)."""
        dump = self._dump_df()
        ds = self.dataset
        if ds is None:
            return dump
        if ds.default:
            return dump.filter(F.col("graph").isin([f"<{g}>" for g in ds.default]))
        return dump.filter(F.lit(False))

    def _dump_pattern(self, s, pred, o, graph) -> BindingFrame:
        """Variable-predicate pattern: scan the (virtual) dump."""
        df = self._dump_df()
        ds = self.dataset
        if graph is None:
            if ds is None:
                df = df.filter(F.col("graph").isNull())
            elif ds.default:
                # FROM: the default graph is EXACTLY the merge of the listed
                # graphs; store-default (graph-less) triples are excluded
                df = df.filter(
                    F.col("graph").isin([f"<{g}>" for g in ds.default])
                )
            else:
                df = df.filter(F.lit(False))
        elif isinstance(graph, IRI):
            if ds is not None and graph.value not in ds.named:
                df = df.filter(F.lit(False))
            else:
                df = df.filter(F.col("graph") == f"<{graph.value}>")
        term_vars: set[str] = set()
        cols: list[Column] = []

        def bind(term, lex_col, dt_col, lang_col):
            nonlocal df
            if isinstance(term, (Var, BNodeT)):
                name = term.name if isinstance(term, Var) else "__bn_" + term.label
                term_vars.add(name)
                cols.extend(_term_columns(
                    name, F.col(lex_col), dt_col and F.col(dt_col),
                    lang_col and F.col(lang_col), F.col(lex_col).try_cast("double")))
            else:
                lex, dt, lang = encode_term(term)
                df = df.filter(F.col(lex_col) == lex)
                if dt_col:
                    df = df.filter(F.col(dt_col).eqNullSafe(F.lit(dt)))

        bind(s, "subj", None, None)
        bind(pred, "pred", None, None)
        bind(o, "obj", "obj_dt", "obj_lang")
        if isinstance(graph, Var):
            term_vars.add(graph.name)
            cols.extend(_term_columns(graph.name, F.col("graph")))
            if ds is None:
                df = df.filter(F.col("graph").isNotNull())
            elif ds.named:
                df = df.filter(
                    F.col("graph").isin([f"<{g}>" for g in ds.named])
                )
            else:
                df = df.filter(F.lit(False))
        return BindingFrame(df.select(*cols) if cols else df.select(F.lit(1).alias("__one")),
                            term_vars)

    def _negset_pattern(self, s, pred, o, graph) -> BindingFrame:
        """Negated property set ``!(:p|^:q)`` — SPARQL 1.1 §18.2.2.3:
        ``!(F|^I)`` is the (multiset) union of NPS over the forward members
        and the inverse of NPS over the ``^`` members; an all-inverse set has
        no forward branch.  Each branch is the variable-predicate dump
        pattern with ``pred NOT IN excluded`` — every dump arm carries a
        CONSTANT predicate literal, so Catalyst folds the filter per arm and
        prunes excluded arms' scans at plan time (same mechanism as static
        arm pruning for constant predicates).  Multiplicities are preserved
        (NPS is a filtered triple pattern, not a distinct path closure)."""
        specs = []
        if pred.forward or not pred.inverse:
            specs.append((pred.forward, s, o))
        if pred.inverse:
            specs.append((pred.inverse, o, s))
        parts: list[BindingFrame] = []
        for excluded, st, ot in specs:
            pv = Var(self._fresh_var())
            bf = self._dump_pattern(st, pv, ot, graph)
            df = bf.df
            if excluded:
                df = df.filter(
                    ~F.col(pv.name).isin([f"<{i}>" for i in excluded])
                )
            drop = {pv.name, f"{pv.name}__dt", f"{pv.name}__lang", f"{pv.name}__num"}
            parts.append(BindingFrame(
                df.select(*[c for c in df.columns if c not in drop]),
                bf.term_vars - {pv.name},
                maybe_null=bf.maybe_null - {pv.name},
            ))
        out = parts[0]
        for other in parts[1:]:
            out = self._union(out, other)
        return out

    def _closure_pattern(self, s, pred, o, graph) -> BindingFrame:
        """Transitive-path pattern (+ / * / ?) — the closure support the
        reference lacks (reference: plan.md:22 "some day: recursive CTEs")."""
        inner = pred.part
        min0 = isinstance(pred, Maybe) or (isinstance(pred, Closure) and pred.min0)
        sv, ov = Var(self._fresh_var()), Var(self._fresh_var())
        base = self.eval_bgp(A.BGP([(sv, inner, ov)], graph=graph))
        pairs = base.df.select(F.col(sv.name).alias("s"), F.col(ov.name).alias("o"))
        if isinstance(pred, Closure):
            pairs = transitive_closure(pairs, "s", "o")
        if min0:
            nodes = pairs.select("s").union(pairs.select(F.col("o"))).distinct()
            pairs = pairs.unionByName(
                nodes.select(F.col("s"), F.col("s").alias("o"))
            ).distinct()

        term_vars: set[str] = set()
        cols: list[Column] = []
        df = pairs

        def bind(term, col):
            nonlocal df
            if isinstance(term, (Var, BNodeT)):
                name = term.name if isinstance(term, Var) else "__bn_" + term.label
                term_vars.add(name)
                cols.extend(_term_columns(name, F.col(col),
                                          num=F.col(col).try_cast("double")))
            else:
                lex, _, _ = encode_term(term)
                df = df.filter(F.col(col) == lex)

        bind(s, "s")
        bind(o, "o")
        return BindingFrame(df.select(*cols) if cols else df.select(F.lit(1).alias("__one")),
                            term_vars)

    # -- binary operators ------------------------------------------------------------

    def _strip_raw(self, bf: BindingFrame, only: set | None = None) -> BindingFrame:
        """Drop raw shadow columns + metadata (all vars, or just ``only``)."""
        victims = set(bf.raw_vars) if only is None else set(bf.raw_vars) & only
        if not victims:
            return bf
        cols = [c for v in victims for c in bf.raw_vars[v].cols]
        return BindingFrame(
            bf.df.drop(*cols), bf.term_vars, bf.native_vars, bf.maybe_null,
            {v: rb for v, rb in bf.raw_vars.items() if v not in victims},
        )

    @staticmethod
    def _var_eq(v: str, a: BindingFrame, b: BindingFrame,
                sfx: str) -> tuple[Column, list[str]]:
        """Equality of the RDF terms ``v`` binds in a row of ``a`` (columns
        as named) and a row of ``b`` (columns renamed with ``sfx``), and the
        ``b`` columns it reads.  The one rule of JOIN, MINUS and EXISTS;
        each keeps its own handling of unbound vars.

        Raw shadows of equal provenance compare componentwise (raw equality
        <=> term equality); two term vars compare (lex, dt, lang), so
        ``"1"^^xsd:integer`` is not ``"1"``; two native vars compare values;
        a term against a native var compares lexicals."""
        ra, rb = a.raw_vars.get(v), b.raw_vars.get(v)
        if ra is not None and rb is not None and ra.prov == rb.prov:
            eq = F.lit(True)
            for ca, cb in zip(ra.cols, rb.cols):
                eq = eq & (F.col(ca) == F.col(cb + sfx))
            return eq, list(rb.cols)
        if v in a.term_vars and v in b.term_vars:
            dt, lang = v + "__dt", v + "__lang"
            eq = ((F.col(v) == F.col(v + sfx))
                  & F.col(dt).eqNullSafe(F.col(dt + sfx))
                  & F.col(lang).eqNullSafe(F.col(lang + sfx)))
            return eq, [v, dt, lang]
        if v in a.native_vars and v in b.native_vars:
            return F.col(v) == F.col(v + sfx), [v]
        return F.col(v).cast("string") == F.col(v + sfx).cast("string"), [v]

    def _join(self, a: BindingFrame, b: BindingFrame, how: str = "inner",
              filter_expr=None) -> BindingFrame:
        shared = a.all_vars & b.all_vars
        # SPARQL compatibility: an UNBOUND shared var matches anything.  Only
        # vars that can actually be unbound (maybe_null) get the relaxed
        # condition — everything else stays a plain equi-join (hash-joinable).
        compat = {v for v in shared if v in a.maybe_null or v in b.maybe_null}
        shared = sorted(shared)
        # raw shadows survive only the plain inner equi-join path; outer
        # joins and compat vars pick sides per row, which raws do not model
        if how != "inner":
            a, b = self._strip_raw(a), self._strip_raw(b)
        elif compat:
            a, b = self._strip_raw(a, compat), self._strip_raw(b, compat)
        for v in sorted(compat):
            # normalize kind so both sides carry the 4-column term encoding
            if (v in a.term_vars) != (v in b.term_vars):
                a = self._coerce_to_term(a, v)
                b = self._coerce_to_term(b, v)
        # rename ALL b columns (raw shadows included) to avoid ambiguity
        bdf = b.df.withColumnsRenamed({
            c: c + "__rj"
            for v in sorted(b.all_vars)
            for c in b.columns_for(v) + list(b.raw_vars[v].cols if v in b.raw_vars else ())
        })
        cond = F.lit(True)
        for v in shared:
            eq, _ = self._var_eq(v, a, b, "__rj")
            if v in compat:
                eq = F.col(v).isNull() | F.col(v + "__rj").isNull() | eq
            cond = cond & eq

        if filter_expr is not None:
            # LeftJoin ON expression: compile over the merged namespace where
            # right-only vars read from the renamed columns
            merged = self._merged_frame_for_expr(a, b)
            cond = cond & self.compile_expr(filter_expr, merged, rj_suffix_for=b.all_vars - a.all_vars).as_bool()

        joined = a.df.join(bdf, on=cond, how=how)
        # keep a's columns for shared vars (merged solutions adopt the bound
        # side for compat vars); adopt b's for b-only vars
        out_cols = []
        for v in sorted(a.all_vars):
            if v in compat:
                # the merged binding takes whichever side is bound; shadow
                # columns must follow the lex column's side
                pick_a = F.col(v).isNotNull()
                for c in a.columns_for(v):
                    out_cols.append(
                        F.when(pick_a, F.col(c)).otherwise(F.col(c + "__rj")).alias(c)
                    )
            else:
                out_cols.extend(F.col(c) for c in a.columns_for(v))
        for v, rb in a.raw_vars.items():
            out_cols.extend(F.col(c) for c in rb.cols)
        for v in sorted(b.all_vars - a.all_vars):
            for c in b.columns_for(v):
                out_cols.append(F.col(c + "__rj").alias(c))
            if v in b.raw_vars:
                for c in b.raw_vars[v].cols:
                    out_cols.append(F.col(c + "__rj").alias(c))
        df = joined.select(*out_cols)
        out_raws = dict(a.raw_vars)
        for v, rb in b.raw_vars.items():
            if v not in a.all_vars:
                out_raws[v] = rb
        out_null = set()
        for v in a.all_vars | b.all_vars:
            if v in shared:
                if how == "inner":
                    if v in a.maybe_null and v in b.maybe_null:
                        out_null.add(v)
                elif v in a.maybe_null:  # left_outer keeps a's (possibly null)
                    out_null.add(v)
            elif v in a.all_vars:
                if v in a.maybe_null:
                    out_null.add(v)
            else:  # b-only
                if how != "inner" or v in b.maybe_null:
                    out_null.add(v)
        return BindingFrame(
            df,
            a.term_vars | b.term_vars,
            {**b.native_vars, **a.native_vars},
            out_null,
            out_raws,
        )

    def _merged_frame_for_expr(self, a: BindingFrame, b: BindingFrame) -> BindingFrame:
        return BindingFrame(a.df, a.term_vars | b.term_vars, {**b.native_vars, **a.native_vars})

    def _left_join(self, a: BindingFrame, b: BindingFrame, expr) -> BindingFrame:
        return self._join(a, b, how="left_outer", filter_expr=expr)

    def _union(self, a: BindingFrame, b: BindingFrame) -> BindingFrame:
        # raw shadows are not comparable across union branches
        a, b = self._strip_raw(a), self._strip_raw(b)
        # coerce kind mismatches to term columns
        for v in sorted(a.all_vars & b.all_vars):
            if (v in a.term_vars) != (v in b.term_vars):
                a = self._coerce_to_term(a, v)
                b = self._coerce_to_term(b, v)
        # both sides in one column order, each padding the other's vars with
        # NULL (a term shadow typed by its suffix, a native var by the union)
        names = sorted(a.all_vars | b.all_vars)

        def padded(f: BindingFrame, other: BindingFrame) -> DataFrame:
            exprs: list[str] = []
            for v in names:
                if v in f.all_vars:
                    exprs += [sql_ident(c) for c in f.columns_for(v)]
                elif v in other.term_vars:
                    exprs += [f"CAST(NULL AS {'DOUBLE' if s == '__num' else 'STRING'})"
                              f" AS {sql_ident(v + s)}" for s in SHADOWS]
                else:
                    exprs.append(f"NULL AS {sql_ident(v)}")
            return f.df.selectExpr(*exprs)

        return BindingFrame(
            padded(a, b).union(padded(b, a)),
            a.term_vars | b.term_vars,
            {**a.native_vars, **{k: v for k, v in b.native_vars.items()
                                 if k not in a.term_vars}},
            # padded vars are NULL on the branch that lacks them
            a.maybe_null | b.maybe_null | (a.all_vars ^ b.all_vars),
        )

    def _coerce_to_term(self, bf: BindingFrame, v: str) -> BindingFrame:
        if v in bf.term_vars:
            return bf
        kind = bf.native_vars.pop(v)
        df = bf.df.withColumns({
            f"{v}__num": F.col(v).try_cast("double"),
            f"{v}__dt": F.lit(terms.XSD_DOUBLE if kind == "num" else None).cast("string"),
            f"{v}__lang": F.lit(None).cast("string"),
            v: F.col(v).cast("string"),
        })
        bf.term_vars.add(v)
        return BindingFrame(df, bf.term_vars, bf.native_vars, bf.maybe_null,
                            bf.raw_vars)

    def _minus(self, a: BindingFrame, b: BindingFrame) -> BindingFrame:
        shared = a.all_vars & b.all_vars
        if not shared:
            return a  # disjoint domains: nothing is compatible, remove nothing
        nullable = {v for v in shared if v in a.maybe_null or v in b.maybe_null}
        # an unbound var has no raws to compare
        b = self._strip_raw(b, nullable)
        cond, bcols = F.lit(True), []
        for v in sorted(shared):
            eq, cols = self._var_eq(v, a, b, "__rj")
            if v in nullable:
                eq = F.col(v).isNull() | F.col(v + "__rj").isNull() | eq
            cond = cond & eq
            bcols += cols
        if nullable == shared:
            # MINUS removes μ1 only if a compatible μ2 shares ≥1 BOUND var
            # (always so when a shared var is never unbound)
            dom = F.lit(False)
            for v in sorted(shared):
                dom = dom | (F.col(v).isNotNull() & F.col(v + "__rj").isNotNull())
            cond = cond & dom
        bdf = b.df.select(*[F.col(c).alias(c + "__rj") for c in bcols]).distinct()
        out = a.df.join(bdf, on=cond, how="left_anti")
        return BindingFrame(out, a.term_vars, a.native_vars, a.maybe_null,
                            a.raw_vars)

    def _values(self, p: A.ValuesPat) -> BindingFrame:
        fields, term_vars = [], set()
        for v in p.vars:
            term_vars.add(v.name)
            fields.extend([
                T.StructField(v.name, T.StringType()),
                T.StructField(f"{v.name}__dt", T.StringType()),
                T.StructField(f"{v.name}__lang", T.StringType()),
                T.StructField(f"{v.name}__num", T.DoubleType()),
            ])
        rows = []
        undef_vars: set[str] = set()
        for row in p.rows:
            out = []
            for v, t in zip(p.vars, row):
                lex, dt, lang = encode_term(t)
                if lex is None:  # UNDEF: unbound wildcard, matches anything
                    undef_vars.add(v.name)
                num = None
                if isinstance(t, Lit) and (t.datatype in terms.NUMERIC_XSD):
                    num = float(t.value)
                out.extend([lex, dt, lang, num])
            rows.append(tuple(out))
        return BindingFrame(
            self.spark.createDataFrame(rows, T.StructType(fields)), term_vars,
            maybe_null=undef_vars,
        )

    # -- filter / extend -------------------------------------------------------------

    def _filter(self, bf: BindingFrame, expr) -> BindingFrame:
        bf, expr = self._materialize_exists(bf, expr)
        ev = self.compile_expr(expr, bf)
        out = bf.df.filter(ev.as_bool())
        return self._drop_markers(
            BindingFrame(out, bf.term_vars, bf.native_vars, bf.maybe_null,
                         bf.raw_vars)
        )

    def _drop_markers(self, bf: BindingFrame) -> BindingFrame:
        markers = [c for c in bf.df.columns if c.startswith("__ex_")]
        if not markers:
            return bf
        return BindingFrame(
            bf.df.drop(*markers),
            bf.term_vars,
            {k: v for k, v in bf.native_vars.items() if k not in set(markers)},
            bf.maybe_null,
            bf.raw_vars,
        )

    def _materialize_exists(self, bf: BindingFrame, expr):
        """Replace EXISTS/NOT EXISTS subexpressions with marker columns via
        left-outer marker joins (general boolean composition)."""

        def walk(e):
            nonlocal bf
            if isinstance(e, ExistsExpr):
                self._marker_n += 1
                marker = f"__ex_{self._marker_n}"
                inner = self.eval_pattern(e.pattern)
                shared = sorted(bf.all_vars & inner.all_vars)
                if not shared:
                    # uncorrelated EXISTS: constant marker
                    flag = not inner.df.isEmpty()
                    bf = BindingFrame(bf.df.withColumn(marker, F.lit(flag)),
                                      bf.term_vars, {**bf.native_vars, marker: "bool"},
                                      bf.maybe_null, bf.raw_vars)
                else:
                    # SPARQL compatibility: an UNBOUND shared var on EITHER
                    # side is compatible with any binding of the other —
                    # outer vars can be null after OPTIONAL/UNION upstream,
                    # inner vars after OPTIONAL/UNION inside the EXISTS body
                    nullable = [
                        v for v in shared
                        if v in bf.maybe_null or v in inner.maybe_null
                    ]
                    # never-null shared vars with equal raw provenance on
                    # both sides match on the raw shadows — the inner
                    # side's per-row IRI render is then pruned entirely
                    inner = self._strip_raw(inner, set(nullable))
                    cond, icols = F.lit(True), []
                    for v in shared:
                        eq, cols = self._var_eq(v, bf, inner, "__exr")
                        if v in bf.maybe_null:
                            eq = F.col(v).isNull() | eq
                        if v in inner.maybe_null:
                            eq = F.col(v + "__exr").isNull() | eq
                        cond = cond & eq
                        icols += cols
                    exr_cols = [c + "__exr" for c in icols]
                    idf = (inner.df.select(*[F.col(c).alias(c + "__exr") for c in icols])
                           .distinct().withColumn(marker, F.lit(True)))
                    if not nullable:
                        joined = (
                            bf.df.join(idf, on=cond, how="left_outer")
                            .drop(*exr_cols)
                            .withColumn(marker, F.coalesce(F.col(marker), F.lit(False)))
                        )
                    else:
                        # a NULL outer var can match several distinct inner
                        # rows; collapse back to one row per outer solution
                        rid = f"__ex_rid_{self._marker_n}"
                        src = bf.df.withColumn(rid, F.monotonically_increasing_id())
                        j = src.join(idf, on=cond, how="left_outer")
                        keep = [c for c in bf.df.columns]
                        joined = (
                            j.groupBy(rid)
                            .agg(
                                *[F.first(c, ignorenulls=False).alias(c) for c in keep],
                                F.max(F.coalesce(F.col(marker), F.lit(False))).alias(marker),
                            )
                            .drop(rid)
                        )
                    bf = BindingFrame(
                        joined,
                        bf.term_vars, {**bf.native_vars, marker: "bool"},
                        bf.maybe_null, bf.raw_vars,
                    )
                flag_col = Var(marker)
                return Op("!", (flag_col,)) if e.negated else flag_col
            if isinstance(e, Op):
                return Op(e.op, tuple(walk(a) for a in e.args))
            if isinstance(e, Call):
                return Call(e.name, tuple(a if a == "*" else walk(a) for a in e.args),
                            e.distinct, e.separator)
            if isinstance(e, InExpr):
                return InExpr(walk(e.expr), e.options, e.negated)
            return e

        return_expr = walk(expr)
        return bf, return_expr

    def _extend(self, bf: BindingFrame, name: str, expr) -> BindingFrame:
        bf, expr = self._materialize_exists(bf, expr)
        ev = self.compile_expr(expr, bf)
        if ev.kind == "term":
            df = bf.df.withColumns({
                name: ev.as_lex(),
                f"{name}__dt": ev.dt_col(),
                f"{name}__lang": ev.lang_col(),
                f"{name}__num": ev.as_num(),
            })
            tv = set(bf.term_vars)
            tv.add(name)
            # a BIND whose expression errors leaves the var unbound (NULL)
            return self._drop_markers(
                BindingFrame(df, tv, bf.native_vars, bf.maybe_null | {name},
                             bf.raw_vars)
            )
        df = bf.df.withColumn(name, ev.out_col())
        nv = dict(bf.native_vars)
        nv[name] = ev.kind
        return self._drop_markers(
            BindingFrame(df, bf.term_vars, nv, bf.maybe_null | {name},
                         bf.raw_vars)
        )

    # -- expression compiler ------------------------------------------------------------

    def compile_expr(self, e, bf: BindingFrame, rj_suffix_for: set | None = None) -> EV:
        rj = rj_suffix_for or set()

        def col_of(v: str, shadow: str = "") -> Column:
            c = v + shadow
            return F.col(c + "__rj") if v in rj else F.col(c)

        if isinstance(e, Var):
            v = e.name
            if v in bf.native_vars:
                kind = bf.native_vars[v]
                c = col_of(v)
                if kind == "num":
                    return EV(num=c.cast("double"), native=c, kind="num",
                              lex=c.cast("string"))
                if kind == "bool":
                    return EV(boolean=c, native=c, kind="bool", lex=c.cast("string"))
                return EV(lex=c.cast("string"), native=c, kind="str")
            if v in bf.term_vars:
                ev = EV(
                    lex=col_of(v),
                    num=col_of(v, "__num"),
                    dt=col_of(v, "__dt"),
                    lang=col_of(v, "__lang"),
                    kind="term",
                )
                if v in bf.raw_vars and v not in rj:
                    rb = bf.raw_vars[v]
                    ev.raw_cols = tuple(F.col(c) for c in rb.cols)
                    ev.raw_prov = rb.prov
                return ev
            # never-bound variable: NULL term (BOUND() -> false)
            null_s = F.lit(None).cast("string")
            return EV(lex=null_s, num=F.lit(None).cast("double"),
                      dt=null_s, lang=null_s, kind="term")
        if isinstance(e, Lit):
            if e.datatype in terms.NUMERIC_XSD:
                val = float(e.value)
                return EV(num=F.lit(val), native=F.lit(int(val) if val.is_integer() and e.datatype == terms.XSD_INTEGER else val),
                          lex=F.lit(e.value), kind="num")
            if e.datatype == terms.XSD_BOOLEAN:
                return ev_bool(F.lit(e.value == "true"))
            return EV(lex=F.lit(e.value), dt=F.lit(e.datatype).cast("string"),
                      lang=F.lit(e.language).cast("string"),
                      native=F.lit(e.value), kind="str",
                      static_num=("never" if _never_numeric_value(e.value)
                                  else "maybe"))
        if isinstance(e, IRI):
            return EV(lex=F.lit(f"<{e.value}>"), kind="term",
                      num=F.lit(None).cast("double"), static_num="never")
        if isinstance(e, Op):
            return self._compile_op(e, bf, rj)
        if isinstance(e, Call):
            return self._compile_call(e, bf, rj)
        if isinstance(e, InExpr):
            sub = self.compile_expr(e.expr, bf, rj)
            opts = [self.compile_expr(o, bf, rj) for o in e.options]
            conds = [self._eq(sub, o) for o in opts]
            c = conds[0]
            for extra in conds[1:]:
                c = c | extra
            return ev_bool(~c if e.negated else c)
        if isinstance(e, ExistsExpr):
            raise SparqlNotImplemented("EXISTS outside FILTER/BIND")
        raise SparqlNotImplemented(f"expression {e!r}")

    @staticmethod
    def _never_numeric(*evs: EV) -> bool:
        # one statically-non-numeric side makes the numeric-or-lexical
        # CASE's condition constant-false — the lexical branch IS the
        # value (see EV.static_num)
        return any(e.static_num == "never" for e in evs)

    @staticmethod
    def _raw_eq(acols: tuple, bcols: tuple) -> Column:
        """Componentwise raw equality with the lexical path's exact NULL
        semantics: any NULL input makes the result NULL (a partially-null
        raw tuple renders a NULL lexical, and NULL = x is NULL, never
        false — plain AND-folding could yield false instead)."""
        eq = None
        for ca, cb in zip(acols, bcols):
            e = ca == cb
            eq = e if eq is None else eq & e
        if len(acols) == 1:
            return eq
        nn = None
        for c in list(acols) + list(bcols):
            n = c.isNotNull()
            nn = n if nn is None else nn & n
        return F.when(nn, eq).otherwise(F.lit(None).cast("boolean"))

    def _eq(self, a: EV, b: EV) -> Column:
        if a.raw_prov is not None and a.raw_prov == b.raw_prov:
            return self._raw_eq(a.raw_cols, b.raw_cols)
        if a.kind == "num" or b.kind == "num":
            return a.as_num() == b.as_num()
        if self._never_numeric(a, b):
            return a.as_lex() == b.as_lex()
        if a.kind == "term" and b.kind == "term":
            an, bn = a.as_num(), b.as_num()
            return F.when(an.isNotNull() & bn.isNotNull(), an == bn).otherwise(
                a.as_lex() == b.as_lex()
            )
        return a.as_lex() == b.as_lex()

    def _cmp(self, op: str, a: EV, b: EV) -> Column:
        import operator

        ops = {"<": operator.lt, ">": operator.gt, "<=": operator.le, ">=": operator.ge}
        f = ops[op]
        if a.kind == "num" or b.kind == "num":
            return f(a.as_num(), b.as_num())
        if self._never_numeric(a, b):
            return f(a.as_lex(), b.as_lex())
        an, bn = a.as_num(), b.as_num()
        return F.when(an.isNotNull() & bn.isNotNull(), f(an, bn)).otherwise(
            f(a.as_lex(), b.as_lex())
        )

    def _compile_op(self, e: Op, bf: BindingFrame, rj: set) -> EV:
        args = [self.compile_expr(a, bf, rj) for a in e.args]
        op = e.op
        if op == "||":
            return ev_bool(args[0].as_bool() | args[1].as_bool())
        if op == "&&":
            return ev_bool(args[0].as_bool() & args[1].as_bool())
        if op == "!":
            return ev_bool(~args[0].as_bool())
        if op == "=":
            return ev_bool(self._eq(args[0], args[1]))
        if op == "!=":
            return ev_bool(~self._eq(args[0], args[1]))
        if op in ("<", ">", "<=", ">="):
            return ev_bool(self._cmp(op, args[0], args[1]))
        if op in ("+", "-", "*", "/"):
            x, y = args[0].as_num(), args[1].as_num()
            out = {"+": x + y, "-": x - y, "*": x * y, "/": x / y}[op]
            return ev_num(out)
        if op == "neg":
            return ev_num(-args[0].as_num())
        raise SparqlNotImplemented(f"operator {op}")

    def _compile_call(self, e: Call, bf: BindingFrame, rj: set) -> EV:
        name = e.name
        if name in AGGREGATES:
            raise SparqlNotImplemented(f"aggregate {name} outside GROUP context")
        args = [self.compile_expr(a, bf, rj) for a in e.args if a != "*"]
        if name == "STR":
            return ev_str(args[0].as_str())
        if name == "LANG":
            return ev_str(F.coalesce(args[0].lang_col(), F.lit("")))
        if name == "LANGMATCHES":
            return ev_bool(
                (F.lower(args[1].as_str()) == "*") & (F.length(args[0].as_str()) > 0)
                | (F.lower(args[0].as_str()) == F.lower(args[1].as_str()))
            )
        if name == "DATATYPE":
            return ev_str(F.coalesce(args[0].dt_col(), F.lit(terms.XSD_STRING)))
        if name == "BOUND":
            return ev_bool(args[0].as_lex().isNotNull())
        if name in ("IRI", "URI"):
            return EV(lex=F.concat(F.lit("<"), args[0].as_str(), F.lit(">")),
                      num=F.lit(None).cast("double"), kind="term")
        if name == "STRLEN":
            return ev_num(F.length(args[0].as_str()).cast("bigint"))
        if name == "UCASE":
            return ev_str(F.upper(args[0].as_str()))
        if name == "LCASE":
            return ev_str(F.lower(args[0].as_str()))
        if name == "CONCAT":
            return ev_str(F.concat(*[a.as_str() for a in args]))
        if name == "CONTAINS":
            return ev_bool(F.contains(args[0].as_str(), args[1].as_str()))
        if name == "STRSTARTS":
            return ev_bool(F.startswith(args[0].as_str(), args[1].as_str()))
        if name == "STRENDS":
            return ev_bool(F.endswith(args[0].as_str(), args[1].as_str()))
        if name == "STRBEFORE":
            s, t = args[0].as_str(), args[1].as_str()
            pos = F.instr(s, t)
            return ev_str(F.when(pos > 0, F.substring(s, 1, pos - 1)).otherwise(F.lit("")))
        if name == "STRAFTER":
            s, t = args[0].as_str(), args[1].as_str()
            pos = F.instr(s, t)
            return ev_str(
                F.when(pos > 0, s.substr(pos + F.length(t), F.length(s))).otherwise(F.lit(""))
            )
        if name == "REPLACE":
            return ev_str(F.regexp_replace(args[0].as_str(), args[1].as_str(), args[2].as_str()))
        if name == "SUBSTR":
            s = args[0].as_str()
            start = args[1].as_num().cast("int")
            if len(args) > 2:
                return ev_str(s.substr(start, args[2].as_num().cast("int")))
            return ev_str(s.substr(start, F.length(s)))
        if name == "REGEX":
            pat = e.args[1]
            flags = ""
            if len(e.args) > 2 and isinstance(e.args[2], Lit):
                flags = e.args[2].value
            if isinstance(pat, Lit):
                p = ("(?i)" if "i" in flags else "") + pat.value
                return ev_bool(args[0].as_str().rlike(p))
            return ev_bool(args[0].as_str().rlike(args[1].as_str()))
        if name == "ABS":
            return ev_num(F.abs(args[0].as_num()))
        if name == "CEIL":
            return ev_num(F.ceil(args[0].as_num()).cast("double"))
        if name == "FLOOR":
            return ev_num(F.floor(args[0].as_num()).cast("double"))
        if name == "ROUND":
            if len(args) > 1:
                return ev_num(F.round(args[0].as_num(), 0))
            return ev_num(F.round(args[0].as_num(), 0))
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            ts = args[0].as_str().try_cast("timestamp")
            fn = {"YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
                  "HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second}[name]
            return ev_num(fn(ts))
        if name == "MD5":
            return ev_str(F.md5(args[0].as_str()))
        if name == "SHA256":
            return ev_str(F.sha2(args[0].as_str(), 256))
        if name == "IF":
            c = args[0].as_bool()
            a, b = args[1], args[2]
            if a.kind == "num" or b.kind == "num":
                return ev_num(F.when(c, a.as_num()).otherwise(b.as_num()))
            if a.kind == "term" and b.kind == "term":
                return EV(
                    lex=F.when(c, a.as_lex()).otherwise(b.as_lex()),
                    num=F.when(c, a.as_num()).otherwise(b.as_num()),
                    dt=F.when(c, a.dt_col()).otherwise(b.dt_col()),
                    lang=F.when(c, a.lang_col()).otherwise(b.lang_col()),
                    kind="term",
                )
            return ev_str(F.when(c, a.as_str()).otherwise(b.as_str()))
        if name == "COALESCE":
            if all(a.kind == "num" for a in args):
                return ev_num(F.coalesce(*[a.as_num() for a in args]))
            return ev_str(F.coalesce(*[a.as_str() for a in args]))
        if name == "SAMETERM":
            a, b = args
            return ev_bool(
                a.as_lex().eqNullSafe(b.as_lex())
                & a.dt_col().eqNullSafe(b.dt_col())
                & a.lang_col().eqNullSafe(b.lang_col())
            )
        if name in ("ISIRI", "ISURI"):
            lx = args[0].as_lex()
            return ev_bool(lx.startswith("<"))
        if name == "ISBLANK":
            return ev_bool(args[0].as_lex().startswith("_:"))
        if name == "ISLITERAL":
            lx = args[0].as_lex()
            return ev_bool(lx.isNotNull() & ~lx.startswith("<") & ~lx.startswith("_:"))
        if name == "ISNUMERIC":
            return ev_bool(args[0].as_num().isNotNull())
        if name == "ENCODE_FOR_URI":
            return ev_str(terms.iri_safe_col(args[0].as_str()))
        if name == "STRDT":
            return EV(lex=args[0].as_str(), dt=args[1].as_str(), kind="term",
                      num=args[0].as_str().try_cast("double"))
        if name == "STRLANG":
            return EV(lex=args[0].as_str(), lang=args[1].as_str(), kind="term",
                      num=F.lit(None).cast("double"))
        if name == "BNODE":
            raise SparqlNotImplemented("BNODE()")
        if name.startswith("IRI_FUNC:"):
            # arbitrary function by IRI — the reference's sqlf: escape hatch
            # (reference: rdflib_r2r/conversion_utils.py SQL_FUNC namespace):
            # the local name is the engine function name
            fname = name.rsplit("/", 1)[-1].rsplit("#", 1)[-1]
            c = F.call_function(fname, *[a.out_col() for a in args])
            return EV(native=c, lex=c.cast("string"),
                      num=c.cast("string").try_cast("double"), kind="str")
        raise SparqlNotImplemented(f"function {name}")

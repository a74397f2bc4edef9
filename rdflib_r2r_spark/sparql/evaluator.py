"""Evaluate the SPARQL algebra as one Spark SQL statement.

Dispatch mirrors the reference's ``queryPart`` (reference:
rdflib_r2r/query_conversions.py:388-419: SelectQuery/Project/Extend/Filter/
Join/LeftJoin/Union/Minus/BGP/AggregateJoin/Group/OrderBy/Slice/Distinct/
values/ToMultiSet) with the same "raise on anything else" contract
(SURVEY.md §2 A14), and like the reference it rewrites the whole query
into one SQL query: each BGP compiles against the mapping via
:mod:`rdflib_r2r_spark.sparql.bgp` into a query block of the query's
:class:`~rdflib_r2r_spark.sparql.statement.Statement`, every operator above
it is one more block over its operands' blocks (as derived tables), and
expressions compile to SQL text.  Spark analyzes the query once, in one
``spark.sql`` call.  The BGPs of one group (split by a FILTER, or written
as adjacent ``{}`` groups) are merged into one before they compile: inner
join is associative and commutative, and ``Join(BGP1, BGP2)`` is
``BGP(P1 ∪ P2)``, so the group is one query block whose static pruning
sees every pattern.  A FILTER's (NOT) EXISTS is an ``EXISTS`` subquery,
which Catalyst plans as a semi or anti join (a marker join under OR).

Binding representation: each solution variable ``v`` is four columns —
``v`` (term-encoded lexical: ``<iri>``, ``_:b...``, or literal lexical),
``v__dt``, ``v__lang``, and ``v__num`` (double shadow for typed
filters/aggregates) — except expression-born variables, which are single
native-typed columns (count -> bigint etc.), matching what the reference's
SQL SELECT list produces.  :class:`BindingFrame` describes the columns of
one query block at compile time.
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field as dc_field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
from rdflib_r2r_spark.sparql.bgp import (
    MAX_ASSIGNMENTS,
    SHADOWS,
    BGPCompiler,
    Excluding,
    numeric_shadow,
)
from rdflib_r2r_spark.sparql.parser import SparqlNotImplemented
from rdflib_r2r_spark.sparql.statement import Statement

NULL_S = "CAST(NULL AS STRING)"
NULL_D = "CAST(NULL AS DOUBLE)"


def _q(alias: str, col: str) -> str:
    """SQL text of column ``col`` of the relation aliased ``alias``."""
    return f"{alias}.{sql_ident(col)}"


def _block(body: str) -> str:
    """A query block as a derived table: referenced once, it needs no name."""
    return f"({body})"


def _select_list(items: list[str]) -> str:
    # a frame without variables still has a row per solution
    return ", ".join(items) or "1 AS `__one`"


def _renders(raw_vars: dict) -> list[str]:
    """Each raw-keyed var's four term columns, rendered from its raw
    shadows (``RawBinding.render``)."""
    return [f"{e} AS {sql_ident(v + s)}"
            for v, rb in raw_vars.items() for e, s in zip(rb.render(), SHADOWS)]


def _str_sql(value: str | None) -> str:
    """An engine constant (a datatype IRI, a fixed text) as SQL text."""
    return NULL_S if value is None else terms.spark_str_sql(value)


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
    rel: str  # the query block holding the solutions, as a derived table
    term_vars: set[str]
    native_vars: dict[str, str] = dc_field(default_factory=dict)  # var -> kind
    # vars that MAY be unbound (NULL lex) in some solutions: produced by
    # OPTIONAL right sides, VALUES UNDEF, UNION padding, BIND errors.  Joins
    # apply SPARQL compatibility (unbound matches anything) ONLY for these,
    # keeping the common always-bound path a plain hash-joinable equi-join.
    maybe_null: set[str] = dc_field(default_factory=set)
    # var -> bgp.RawBinding: the var's lexical is an injective render of the
    # raw shadow columns listed there (present in the relation).  GROUP BY
    # and inner frame joins key on the raws (narrow, join-pushable) and
    # re-render after the exchange; every operator that cannot prove
    # preservation simply drops the raws from the frame — losing only the
    # optimization, never correctness.
    raw_vars: dict = dc_field(default_factory=dict)

    @property
    def all_vars(self) -> set[str]:
        return self.term_vars | set(self.native_vars)

    def columns_for(self, v: str) -> list[str]:
        if v in self.term_vars:
            return [v + s for s in SHADOWS]
        return [v]

    def columns(self) -> list[str]:
        """Every column the frame reads from its relation."""
        out: list[str] = []
        for v in sorted(self.all_vars):
            out += self.columns_for(v)
            if v in self.raw_vars:
                out += self.raw_vars[v].cols
        return out

    def select(self, alias: str = "t", skip=()) -> list[str]:
        return [_q(alias, c) for c in self.columns() if c not in skip]


# --------------------------------------------------------------------------
# expression values
# --------------------------------------------------------------------------

@dataclass
class EV:
    """A compiled expression: lazy views over one value, as SQL texts."""

    lex: str | None = None       # encoded lexical
    num: str | None = None       # double view
    dt: str | None = None
    lang: str | None = None
    boolean: str | None = None
    native: str | None = None    # preferred typed output
    kind: str = "term"           # term|num|str|bool
    # round 7: "never" marks operands whose numeric view is STATICALLY
    # NULL (string literals that do not parse as a number, IRI
    # constants).  Catalyst does not fold the dead numeric arm of the
    # numeric-or-lexical CASE (measured: it leaves a per-row try_cast
    # string->double parse in the plan — 3.5s/arm on bsbm_bi3's date
    # filters), so _cmp/_eq prune it at compile time instead.  The
    # result is identical: with one side's num always NULL, the CASE
    # condition is always false and the lexical branch always runs.
    static_num: str = "maybe"    # maybe|never
    # raw-keyed term var (BindingFrame.raw_vars): equality against another
    # EV with the SAME raw_prov compares the raw shadow columns instead of
    # rendering both lexicals per row (raw eq <=> lex eq, injective render)
    raw_cols: tuple | None = None
    raw_prov: tuple | None = None

    def as_num(self) -> str:
        if self.num is not None:
            return self.num
        if self.native is not None:
            return f"CAST({self.native} AS DOUBLE)"
        assert self.lex is not None
        return f"try_cast({self.lex} AS DOUBLE)"

    def as_str(self) -> str:
        """SPARQL STR(): IRIs lose brackets, literals keep lexical."""
        if self.kind == "str" and self.native is not None:
            return self.native
        if self.native is not None:
            return f"CAST({self.native} AS STRING)"
        lex = self.lex
        assert lex is not None
        return (f"CASE WHEN startswith({lex}, '<') AND endswith({lex}, '>') "
                f"THEN substr({lex}, 2, length({lex}) - 2) ELSE {lex} END")

    def as_bool(self) -> str:
        """SPARQL effective boolean value."""
        if self.boolean is not None:
            return self.boolean
        if self.kind == "num":
            n = self.as_num()
            return f"({n} IS NOT NULL AND {n} != 0)"
        if self.native is not None and self.kind == "bool":
            return self.native
        lex = self.lex
        assert lex is not None
        n = self.as_num()
        is_bool_dt = (f"{self.dt} <=> {_str_sql(terms.XSD_BOOLEAN)}"
                      if self.dt is not None else "false")
        return (f"CASE WHEN {is_bool_dt} THEN {lex} = 'true' "
                f"WHEN {n} IS NOT NULL THEN {n} != 0 "
                f"ELSE {lex} IS NOT NULL AND length({lex}) > 0 END")

    def as_lex(self) -> str:
        if self.lex is not None:
            return self.lex
        assert self.native is not None
        return f"CAST({self.native} AS STRING)"

    def dt_col(self) -> str:
        return self.dt if self.dt is not None else NULL_S

    def lang_col(self) -> str:
        return self.lang if self.lang is not None else NULL_S

    def out_col(self) -> str:
        """SQL text of a projected/ordered expression result."""
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


def ev_num(c: str) -> EV:
    return EV(num=f"CAST({c} AS DOUBLE)", native=c, kind="num")


def ev_bool(c: str) -> EV:
    return EV(boolean=c, native=c, kind="bool")


def ev_str(c: str) -> EV:
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
        self.stmt = Statement(spark, bgp_compiler.compiler)
        self._fresh_n = 0
        self.dataset = None  # FROM / FROM NAMED (SPARQL 1.1 13.2)

    def _derive(self, bf: BindingFrame, body: str, **changes) -> BindingFrame:
        """``bf`` with ``changes`` over the new query block ``body``."""
        return replace(bf, rel=_block(body), **changes)

    def _result(self, bf: BindingFrame) -> DataFrame:
        """The statement, selecting every column of ``bf``."""
        return self.stmt.run(f"SELECT {_select_list(bf.select())} FROM {bf.rel} AS t")

    # -- entry points ---------------------------------------------------------

    def eval_select(self, q: A.SelectQuery) -> DataFrame:
        self.dataset = q.dataset
        bf = self._eval_select_bf(q)
        # final projection: plain columns only
        names = sorted(bf.all_vars)
        df = self.stmt.run(
            f"SELECT {_select_list([_q('t', v) for v in names])} FROM {bf.rel} AS t")
        return df if names else df.select()

    def select_frame(self, q: A.SelectQuery) -> tuple[DataFrame, BindingFrame]:
        """A SELECT's solutions with every term column, and their frame."""
        self.dataset = q.dataset
        bf = self._eval_select_bf(q)
        return self._result(bf), bf

    def eval_ask(self, q: A.AskQuery) -> DataFrame:
        self.dataset = q.dataset
        bf = self.eval_pattern(q.where)
        one = _block(f"SELECT * FROM {bf.rel} AS t LIMIT 1")
        return self.stmt.run(f"SELECT count(1) > 0 AS found FROM {one} AS t")

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
            where = self._result(bf) if names else None
            for name in names:
                nodes = where.select(F.col(name).alias("__n")).distinct()
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
        if not q.template:  # legal: CONSTRUCT { } WHERE { ... } -> empty graph
            return self._dump_df().limit(0)
        bf = self.eval_pattern(q.where)
        where = self._result(bf)
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
            parts.append(where.select(*cols).filter(
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

    def _tmpl_col(self, bf: BindingFrame, t, alias: str):
        if isinstance(t, Var):
            if t.name in bf.term_vars:
                return F.col(t.name).alias(alias)
            return F.col(t.name).cast("string").alias(alias)
        if isinstance(t, BNodeT):
            raise SparqlNotImplemented("bnodes in CONSTRUCT templates")
        lex, _, _ = encode_term(t)
        return F.lit(lex).alias(alias)

    def _tmpl_shadow(self, bf: BindingFrame, t, shadow: str):
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
            keys: list[str] = []
            for e, asc in q.order_by:
                ev = self.compile_expr(e, frame)
                way = "ASC" if asc else "DESC"
                if ev.kind == "term":
                    # numeric view first (numeric terms order numerically,
                    # NULL for non-numerics), lexical as tiebreak/fallback
                    keys += [f"{ev.as_num()} {way}", f"{ev.as_lex()} {way}"]
                else:
                    keys.append(f"{ev.out_col()} {way}")
            if not keys:
                return frame
            return self._derive(frame, f"SELECT * FROM {frame.rel} AS t "
                                       f"ORDER BY {', '.join(keys)}")

        if not (q.distinct or q.reduced):
            # ORDER BY may reference non-projected vars: sort BEFORE
            # narrowing; Catalyst fuses Limit(Project(Sort)) into
            # TakeOrderedAndProject
            bf = sort_frame(bf)

        keep: list[str] = []
        native = {v: k for v, k in bf.native_vars.items() if v in proj_names}
        for name in proj_names:
            if name in bf.term_vars:
                keep += [_q("t", name + s) for s in SHADOWS]
                if name in bf.raw_vars:
                    keep += [_q("t", c) for c in bf.raw_vars[name].cols]
            elif name in bf.native_vars:
                keep.append(_q("t", name))
            else:
                # projected but never bound: NULL column
                keep.append(f"{NULL_S} AS {sql_ident(name)}")
                native[name] = "str"
        out = BindingFrame(
            _block(f"SELECT {_select_list(keep)} FROM {bf.rel} AS t"),
            {v for v in proj_names if v in bf.term_vars},
            native,
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
            drop = {v + s for v in out.raw_vars for s in SHADOWS}
            distinct = _block(
                f"SELECT DISTINCT {_select_list(out.select(skip=drop))} FROM {out.rel} AS t")
            if out.raw_vars:
                distinct = _block(f"SELECT *, {', '.join(_renders(out.raw_vars))} "
                                  f"FROM {distinct} AS t")
            out = sort_frame(replace(out, rel=distinct))
        if q.offset:
            out = self._derive(out, f"SELECT * FROM {out.rel} AS t OFFSET {int(q.offset)}")
        if q.limit is not None:
            out = self._derive(out, f"SELECT * FROM {out.rel} AS t LIMIT {int(q.limit)}")
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

        agg_cols = [f"{self._compile_aggregate(c, bf)} AS {sql_ident(n)}"
                    for c, n in aggs.items()]
        # raw-keyed group vars: group on the narrow raw shadows (the lexical
        # is an injective function of them, so the groups are identical) and
        # re-render the term columns AFTER the aggregate — Catalyst prunes
        # the per-row render and the exchange carries bigints, not IRIs
        raw_keyed = {v: bf.raw_vars[v] for v in key_vars
                     if v in bf.term_vars and v in bf.raw_vars}
        key_cols: list[str] = []
        for v in key_vars:
            key_cols += raw_keyed[v].cols if v in raw_keyed else bf.columns_for(v)
        keys = [_q("t", c) for c in key_cols]
        if keys:
            body = (f"SELECT {', '.join(keys + agg_cols)} FROM {bf.rel} AS t "
                    f"GROUP BY {', '.join(keys)}")
        elif agg_cols:
            body = f"SELECT {', '.join(agg_cols)} FROM {bf.rel} AS t"
        else:
            body = f"SELECT 1 AS `__one` FROM {bf.rel} AS t LIMIT 1"
        grouped = _block(body)

        term_vars = {v for v in key_vars if v in bf.term_vars}
        native_vars = {v: k for v, k in bf.native_vars.items() if v in key_vars}
        cols = [_q("g", c) for c in key_cols] + _renders(raw_keyed)
        for c, n in aggs.items():
            if c.name in ("MIN", "MAX") and self._agg_arg_kind(c, bf) == "term":
                # unpack the term struct back into term-var shadow columns
                cols += [f"{_q('g', n)}.{f} AS {sql_ident(n + s)}"
                         for f, s in zip(("lex", "dt", "lang", "num"), SHADOWS)]
                term_vars.add(n)
                continue
            cols.append(_q("g", n))
            if c.name == "GROUP_CONCAT" or (
                    c.name == "SAMPLE" and self._agg_arg_kind(c, bf) == "term"):
                native_vars[n] = "str"
            else:
                native_vars[n] = "num"
        out = BindingFrame(
            _block(f"SELECT {_select_list(cols)} FROM {grouped} AS g"),
            term_vars,
            native_vars,
            # null keys group together; aggregates over empty/all-null input
            # (e.g. SUM of an OPTIONAL var) can come back NULL
            {v for v in key_vars if v in bf.maybe_null} | set(aggs.values()),
            raw_keyed,
        )

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
            out = self._filter(out, rewrite(h))
        q.order_by = [(rewrite(e), asc) for e, asc in q.order_by]
        # the synthetic agg vars stay in the frame for ORDER BY; the
        # projection drops them
        return out

    def _agg_arg_kind(self, c: Call, bf: BindingFrame) -> str:
        if not c.args or c.args[0] == "*":
            return "num"
        return self.compile_expr(c.args[0], bf).kind

    def _compile_aggregate(self, c: Call, bf: BindingFrame) -> str:
        name = c.name
        if name == "COUNT":
            if not c.args or c.args[0] == "*":
                return "count(1)"
            # raw-keyed var: the lexical is null iff a raw shadow is null and
            # distinct raws <=> distinct lexicals (injective render), so the
            # count never needs the rendered IRI at all
            if isinstance(c.args[0], Var) and c.args[0].name in bf.raw_vars:
                rcols = [_q("t", rc) for rc in bf.raw_vars[c.args[0].name].cols]
                if c.distinct:
                    return f"count(DISTINCT {', '.join(rcols)})"
                if len(rcols) == 1:
                    return f"count({rcols[0]})"
                nn = " AND ".join(f"{rc} IS NOT NULL" for rc in rcols)
                return f"count(CASE WHEN {nn} THEN 1 END)"
            col = self.compile_expr(c.args[0], bf).out_col()
            return f"count(DISTINCT {col})" if c.distinct else f"count({col})"
        ev = self.compile_expr(c.args[0], bf)
        distinct = "DISTINCT " if c.distinct else ""
        if name in ("SUM", "AVG"):
            # exact decimal sums -> engine-order-independent doubles
            s = f"CAST(sum({distinct}CAST({ev.as_num()} AS DECIMAL(28,6))) AS DOUBLE)"
            if name == "SUM":
                return s
            # divide as doubles: decimal division rounds at the result scale
            # (half-up in Spark, different in other engines) and breaks
            # cross-engine parity on .5-at-scale boundaries
            return f"({s} / count({distinct}{ev.as_num()}))"
        if name in ("MIN", "MAX"):
            fn = name.lower()
            if ev.kind == "term":
                # aggregate the TERM: an orderable struct whose leading flag
                # prefers numeric values (SPARQL MIN/MAX order numerics
                # numerically; all-string groups fall back to lexical order)
                flag = f"{ev.as_num()} IS {'' if name == 'MIN' else 'NOT '}NULL"
                return (f"{fn}(named_struct('nn', {flag}, 'num', {ev.as_num()}, "
                        f"'lex', {ev.as_lex()}, 'dt', {ev.dt_col()}, "
                        f"'lang', {ev.lang_col()}))")
            if ev.kind == "num":
                return f"CAST({fn}({ev.as_num()}) AS DOUBLE)"
            return f"{fn}({ev.out_col()})"
        if name == "SAMPLE":
            return f"min({ev.out_col()})"
        if name == "GROUP_CONCAT":
            sep = self.stmt.param(c.separator if c.separator is not None else " ")
            lst = "collect_set" if c.distinct else "collect_list"
            return f"concat_ws({sep}, array_sort({lst}({ev.as_str()})))"
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
            return self._join(self.eval_pattern(p.left), self.eval_pattern(p.right),
                              outer=True, filter_expr=p.expr)
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
        special (own block, closure, negated-set) ones.  A variable-predicate
        pattern is plain while the plain patterns' assignment count stays
        within ``MAX_ASSIGNMENTS`` (the bound ``_merge_bgps`` applies), else
        a block of its own.  Path variables are fresh for the whole query,
        so two BGPs never share one."""
        for alt in pathmod.resolve_paths(p.triples, lambda: Var(self._fresh_var())):
            plain: list = []
            special: list = []
            var_pred: list = []
            for s, pred, o in alt:
                if isinstance(pred, str):
                    plain.append((s, IRI(pred), o))
                elif isinstance(pred, Var):
                    var_pred.append((s, pred, o))
                elif isinstance(pred, (Closure, Maybe)):
                    special.append(("closure", s, pred, o))
                elif isinstance(pred, pathmod.NegSet):
                    special.append(("negset", s, pred, o))
                elif isinstance(pred, pathmod.Pred):
                    plain.append((s, IRI(pred.iri), o))
                else:
                    raise SparqlNotImplemented(f"path {pred!r}")
            for t in var_pred:
                if self.bgp.assignment_count(plain + [t], p.graph,
                                             self.dataset) <= MAX_ASSIGNMENTS:
                    plain.append(t)
                else:
                    special.append(("block", *t))
            yield plain, special

    def eval_bgp(self, p: A.BGP) -> BindingFrame:
        if not p.triples:
            return BindingFrame(_block("SELECT 1 AS `__one`"), set())
        parts: list[BindingFrame] = []
        for plain, special in self._resolve(p):
            bfs: list[BindingFrame] = []
            if plain:
                bfs.append(self._bgp_frame(plain, p.graph))
            for kind, s, pred, o in special:
                if kind == "block":
                    bfs.append(self._bgp_frame([(s, pred, o)], p.graph))
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

    def _bgp_frame(self, patterns: list, graph) -> BindingFrame:
        """The patterns compiled by the BGP compiler as one query block."""
        text, var_names, raws = self.bgp.compile(
            patterns, graph, dataset=self.dataset, stmt=self.stmt)
        return BindingFrame(_block(text), var_names, raw_vars=raws)

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

    def _negset_pattern(self, s, pred, o, graph) -> BindingFrame:
        """Negated property set ``!(:p|^:q)`` — SPARQL 1.1 §18.2.2.3:
        ``!(F|^I)`` is the (multiset) union of NPS over the forward members
        and the inverse of NPS over the ``^`` members; an all-inverse set has
        no forward branch.  Each branch is the pattern's own block, its
        predicate a variable ``Excluding`` the members: the BGP compiler
        drops the arms of an excluded constant predicate and filters the
        others per row.  Multiplicities are preserved (NPS is a filtered
        triple pattern, not a distinct path closure)."""
        specs = []
        if pred.forward or not pred.inverse:
            specs.append((pred.forward, s, o))
        if pred.inverse:
            specs.append((pred.inverse, o, s))
        parts: list[BindingFrame] = []
        for excluded, st, ot in specs:
            pv = Excluding(self._fresh_var(), tuple(excluded))
            bf = self._strip_raw(self._bgp_frame([(st, pv, ot)], graph), {pv.name})
            parts.append(replace(bf, term_vars=bf.term_vars - {pv.name}))
        out = parts[0]
        for other in parts[1:]:
            out = self._union(out, other)
        return out

    def _closure_pattern(self, s, pred, o, graph) -> BindingFrame:
        """Transitive-path pattern (+ / * / ?) — the closure support the
        reference lacks (reference: plan.md:22 "some day: recursive CTEs").
        The closure is a fixpoint of Spark jobs over the path's base
        relation, its own statement; this statement reads the result.  A
        node is its whole RDF term, (lexical, datatype, language) as one
        JSON text, so an endpoint keeps its datatype and language.  The
        zero-length pairs of ``*`` and ``?`` pair each node of the path's
        own pairs, and each constant endpoint, with itself: SPARQL 1.1
        §18.4 pairs every node of the graph, so ``?s p* ?o`` leaves out a
        node that only other predicates touch."""
        inner = pred.part
        min0 = isinstance(pred, Maybe) or (isinstance(pred, Closure) and pred.min0)
        sv, ov = Var(self._fresh_var()), Var(self._fresh_var())
        sub = Evaluator(self.spark, self.bgp, self._dump_provider)
        sub.dataset, sub._fresh_n = self.dataset, self._fresh_n
        base = sub.eval_bgp(A.BGP([(sv, inner, ov)], graph=graph))
        self._fresh_n = sub._fresh_n
        pairs = sub.stmt.run("SELECT " + ", ".join(
            f"to_json(named_struct('lex', {_q('t', v)}, 'dt', {_q('t', v + '__dt')}, "
            f"'lang', {_q('t', v + '__lang')})) AS {side}"
            for side, v in (("s", sv.name), ("o", ov.name))) + f" FROM {base.rel} AS t")
        if isinstance(pred, Closure):
            pairs = transitive_closure(pairs, "s", "o")
        rel = self.stmt.view(pairs)
        if min0:
            zero = [f"SELECT s, s FROM {rel}", f"SELECT o, o FROM {rel}"]
            for term in (s, o):
                if not isinstance(term, (Var, BNodeT)):
                    node = "to_json(named_struct(" + ", ".join(
                        f"'{f}', {NULL_S if v is None else self.stmt.param(v)}"
                        for f, v in zip(("lex", "dt", "lang"), encode_term(term))) + "))"
                    zero.append(f"SELECT {node}, {node}")
            rel = _block(f"SELECT s, o FROM {rel} UNION " + " UNION ".join(zero))
        node = "'lex STRING, dt STRING, lang STRING'"
        rel = _block(f"SELECT from_json(s, {node}) AS s, from_json(o, {node}) AS o FROM {rel}")

        term_vars: set[str] = set()
        cols: list[str] = []
        where: list[str] = []
        for term, side in ((s, "s"), (o, "o")):
            lex, dt, lang = (f"p.{side}.{f}" for f in ("lex", "dt", "lang"))
            if isinstance(term, (Var, BNodeT)):
                name = term.name if isinstance(term, Var) else "__bn_" + term.label
                term_vars.add(name)
                cols += [f"{e} AS {sql_ident(name + sfx)}" for e, sfx in zip(
                    (lex, dt, lang, numeric_shadow(lex, dt)), SHADOWS)]
            else:
                where.append(f"{lex} = {self.stmt.param(encode_term(term)[0])}")
        body = f"SELECT {_select_list(cols)} FROM {rel} AS p"
        if where:
            body += " WHERE " + " AND ".join(where)
        return BindingFrame(_block(body), term_vars)

    # -- binary operators ------------------------------------------------------------

    @staticmethod
    def _strip_raw(bf: BindingFrame, only: set | None = None) -> BindingFrame:
        """Forget the raw shadows of all vars, or just of ``only``."""
        victims = set(bf.raw_vars) if only is None else set(bf.raw_vars) & only
        if not victims:
            return bf
        return replace(bf, raw_vars={v: rb for v, rb in bf.raw_vars.items()
                                     if v not in victims})

    @staticmethod
    def _var_eq(v: str, a: BindingFrame, b: BindingFrame,
                la: str, lb: str) -> tuple[str, list[str]]:
        """Equality of the RDF terms ``v`` binds in a row of ``a`` (aliased
        ``la``) and a row of ``b`` (aliased ``lb``), and the ``b`` columns
        it reads.  The one rule of JOIN, MINUS and EXISTS; each keeps its
        own handling of unbound vars.

        Raw shadows of equal provenance compare componentwise (raw equality
        <=> term equality); two term vars compare (lex, dt, lang), so
        ``"1"^^xsd:integer`` is not ``"1"``; two native vars compare values;
        a term against a native var compares lexicals."""
        ra, rb = a.raw_vars.get(v), b.raw_vars.get(v)
        if ra is not None and rb is not None and ra.prov == rb.prov:
            return (" AND ".join(f"{_q(la, ca)} = {_q(lb, cb)}"
                                 for ca, cb in zip(ra.cols, rb.cols)), list(rb.cols))
        if v in a.term_vars and v in b.term_vars:
            dt, lang = v + "__dt", v + "__lang"
            return (f"{_q(la, v)} = {_q(lb, v)} AND {_q(la, dt)} <=> {_q(lb, dt)} "
                    f"AND {_q(la, lang)} <=> {_q(lb, lang)}", [v, dt, lang])
        if v in a.native_vars and v in b.native_vars:
            return f"{_q(la, v)} = {_q(lb, v)}", [v]
        return f"CAST({_q(la, v)} AS STRING) = CAST({_q(lb, v)} AS STRING)", [v]

    def _join(self, a: BindingFrame, b: BindingFrame, outer: bool = False,
              filter_expr=None) -> BindingFrame:
        shared = a.all_vars & b.all_vars
        # SPARQL compatibility: an UNBOUND shared var matches anything.  Only
        # vars that can actually be unbound (maybe_null) get the relaxed
        # condition — everything else stays a plain equi-join (hash-joinable).
        compat = {v for v in shared if v in a.maybe_null or v in b.maybe_null}
        shared = sorted(shared)
        # raw shadows survive only the plain inner equi-join path; outer
        # joins and compat vars pick sides per row, which raws do not model
        if outer:
            a, b = self._strip_raw(a), self._strip_raw(b)
        elif compat:
            a, b = self._strip_raw(a, compat), self._strip_raw(b, compat)
        for v in sorted(compat):
            # normalize kind so both sides carry the 4-column term encoding
            if (v in a.term_vars) != (v in b.term_vars):
                a = self._coerce_to_term(a, v)
                b = self._coerce_to_term(b, v)
        conds = []
        for v in shared:
            eq, _ = self._var_eq(v, a, b, "l", "r")
            if v in compat:
                eq = f"{_q('l', v)} IS NULL OR {_q('r', v)} IS NULL OR {eq}"
            conds.append(f"({eq})")
        if filter_expr is not None:
            # LeftJoin ON expression: compiled over the merged namespace,
            # where right-only vars read from the right side
            merged = BindingFrame(a.rel, a.term_vars | b.term_vars,
                                  {**b.native_vars, **a.native_vars})
            conds.append(self.compile_expr(filter_expr, merged,
                                           rj=b.all_vars - a.all_vars).as_bool())

        # keep a's columns for shared vars (merged solutions adopt the bound
        # side for compat vars); adopt b's for b-only vars
        cols = []
        for v in sorted(a.all_vars):
            if v in compat:
                # the merged binding takes whichever side is bound; shadow
                # columns must follow the lex column's side
                cols += [f"CASE WHEN {_q('l', v)} IS NOT NULL THEN {_q('l', c)} "
                         f"ELSE {_q('r', c)} END AS {sql_ident(c)}"
                         for c in a.columns_for(v)]
            else:
                cols += [_q("l", c) for c in a.columns_for(v)]
        for rb in a.raw_vars.values():
            cols += [_q("l", c) for c in rb.cols]
        for v in sorted(b.all_vars - a.all_vars):
            cols += [_q("r", c) for c in b.columns_for(v)]
            if v in b.raw_vars:
                cols += [_q("r", c) for c in b.raw_vars[v].cols]
        join = "LEFT OUTER JOIN" if outer else "JOIN"
        rel = _block(f"SELECT {_select_list(cols)} FROM {a.rel} AS l {join} "
                            f"{b.rel} AS r ON {' AND '.join(conds) or 'true'}")
        out_raws = dict(a.raw_vars)
        for v, rb in b.raw_vars.items():
            if v not in a.all_vars:
                out_raws[v] = rb
        out_null = set()
        for v in a.all_vars | b.all_vars:
            if v in shared:
                if not outer:
                    if v in a.maybe_null and v in b.maybe_null:
                        out_null.add(v)
                elif v in a.maybe_null:  # left_outer keeps a's (possibly null)
                    out_null.add(v)
            elif v in a.all_vars:
                if v in a.maybe_null:
                    out_null.add(v)
            else:  # b-only
                if outer or v in b.maybe_null:
                    out_null.add(v)
        return BindingFrame(
            rel,
            a.term_vars | b.term_vars,
            {**b.native_vars, **a.native_vars},
            out_null,
            out_raws,
        )

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

        def padded(f: BindingFrame, other: BindingFrame) -> str:
            exprs: list[str] = []
            for v in names:
                if v in f.all_vars:
                    exprs += [sql_ident(c) for c in f.columns_for(v)]
                elif v in other.term_vars:
                    exprs += [f"{NULL_D if s == '__num' else NULL_S} AS {sql_ident(v + s)}"
                              for s in SHADOWS]
                else:
                    exprs.append(f"NULL AS {sql_ident(v)}")
            return f"SELECT {_select_list(exprs)} FROM {f.rel} AS t"

        return BindingFrame(
            _block(f"{padded(a, b)} UNION ALL {padded(b, a)}"),
            a.term_vars | b.term_vars,
            {**a.native_vars, **{k: v for k, v in b.native_vars.items()
                                 if k not in a.term_vars}},
            # padded vars are NULL on the branch that lacks them
            a.maybe_null | b.maybe_null | (a.all_vars ^ b.all_vars),
        )

    def _coerce_to_term(self, bf: BindingFrame, v: str) -> BindingFrame:
        if v in bf.term_vars:
            return bf
        kind = bf.native_vars[v]
        c = _q("t", v)
        cols = bf.select(skip={v}) + [
            f"CAST({c} AS STRING) AS {sql_ident(v)}",
            f"{_str_sql(terms.XSD_DOUBLE if kind == 'num' else None)} AS {sql_ident(v + '__dt')}",
            f"{NULL_S} AS {sql_ident(v + '__lang')}",
            f"try_cast({c} AS DOUBLE) AS {sql_ident(v + '__num')}",
        ]
        return self._derive(
            bf, f"SELECT {', '.join(cols)} FROM {bf.rel} AS t",
            term_vars=bf.term_vars | {v},
            native_vars={k: x for k, x in bf.native_vars.items() if k != v})

    def _minus(self, a: BindingFrame, b: BindingFrame) -> BindingFrame:
        shared = a.all_vars & b.all_vars
        if not shared:
            return a  # disjoint domains: nothing is compatible, remove nothing
        nullable = {v for v in shared if v in a.maybe_null or v in b.maybe_null}
        # an unbound var has no raws to compare
        b = self._strip_raw(b, nullable)
        conds, bcols = [], []
        for v in sorted(shared):
            eq, cols = self._var_eq(v, a, b, "l", "r")
            if v in nullable:
                eq = f"{_q('l', v)} IS NULL OR {_q('r', v)} IS NULL OR {eq}"
            conds.append(f"({eq})")
            bcols += cols
        if nullable == shared:
            # MINUS removes μ1 only if a compatible μ2 shares ≥1 BOUND var
            # (always so when a shared var is never unbound)
            conds.append("(" + " OR ".join(
                f"{_q('l', v)} IS NOT NULL AND {_q('r', v)} IS NOT NULL"
                for v in sorted(shared)) + ")")
        inner = f"SELECT DISTINCT {', '.join(sql_ident(c) for c in bcols)} FROM {b.rel} AS t"
        return self._derive(a, f"SELECT {_select_list(a.select('l'))} FROM {a.rel} AS l "
                               f"LEFT ANTI JOIN ({inner}) AS r ON {' AND '.join(conds)}")

    def _values(self, p: A.ValuesPat) -> BindingFrame:
        def typed(value, sql_type: str) -> str:
            return (f"CAST(NULL AS {sql_type})" if value is None
                    else f"CAST({self.stmt.param(value)} AS {sql_type})")

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
                out += [typed(lex, "STRING"), typed(dt, "STRING"),
                        typed(lang, "STRING"), typed(num, "DOUBLE")]
            rows.append(f"({', '.join(out) or '1'})")
        names = [sql_ident(v.name + s) for v in p.vars for s in SHADOWS] or ["`__one`"]
        if rows:
            body = f"SELECT * FROM VALUES {', '.join(rows)} AS v({', '.join(names)})"
        else:
            body = "SELECT " + ", ".join(
                f"{NULL_D if n.endswith('__num`') else NULL_S} AS {n}" for n in names
            ) + " WHERE false"
        return BindingFrame(_block(body), {v.name for v in p.vars},
                            maybe_null=undef_vars)

    # -- filter / extend -------------------------------------------------------------

    def _filter(self, bf: BindingFrame, expr) -> BindingFrame:
        cond = self.compile_expr(expr, bf).as_bool()
        return self._derive(bf, f"SELECT * FROM {bf.rel} AS t WHERE {cond}")

    def _extend(self, bf: BindingFrame, name: str, expr) -> BindingFrame:
        ev = self.compile_expr(expr, bf)
        if ev.kind == "term":
            new = dict(zip((name + s for s in SHADOWS),
                           (ev.as_lex(), ev.dt_col(), ev.lang_col(), ev.as_num())))
            term_vars = bf.term_vars | {name}
            native_vars = {k: x for k, x in bf.native_vars.items() if k != name}
        else:
            new = {name: ev.out_col()}
            term_vars = bf.term_vars - {name}
            native_vars = {**bf.native_vars, name: ev.kind}
        cols = bf.select(skip=set(new)) + [f"{e} AS {sql_ident(c)}" for c, e in new.items()]
        # a BIND whose expression errors leaves the var unbound (NULL)
        return self._derive(bf, f"SELECT {', '.join(cols)} FROM {bf.rel} AS t",
                            term_vars=term_vars, native_vars=native_vars,
                            maybe_null=bf.maybe_null | {name},
                            raw_vars={k: rb for k, rb in bf.raw_vars.items() if k != name})

    def _exists(self, e: ExistsExpr, bf: BindingFrame) -> EV:
        """(NOT) EXISTS as a correlated ``EXISTS`` subquery over the pattern's
        block.  In a FILTER's conjunction Catalyst plans it as a LEFT SEMI
        (LEFT ANTI) join, under OR, NOT or in a BIND as a marker
        (existence) join, and without shared variables as a scalar
        subquery run with the query, not while it compiles."""
        inner = self.eval_pattern(e.pattern)
        shared = sorted(bf.all_vars & inner.all_vars)
        # SPARQL compatibility: an UNBOUND shared var on EITHER side is
        # compatible with any binding of the other — outer vars can be null
        # after OPTIONAL/UNION upstream, inner vars after OPTIONAL/UNION
        # inside the EXISTS body.  Never-null shared vars with equal raw
        # provenance on both sides match on the raw shadows — the inner
        # side's per-row IRI render is then pruned entirely.
        inner = self._strip_raw(inner, {v for v in shared if v in bf.maybe_null
                                        or v in inner.maybe_null})
        conds = []
        for v in shared:
            eq, _ = self._var_eq(v, bf, inner, "t", "x")
            if v in bf.maybe_null:
                eq = f"{_q('t', v)} IS NULL OR {eq}"
            if v in inner.maybe_null:
                eq = f"{_q('x', v)} IS NULL OR {eq}"
            conds.append(f"({eq})")
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        sub = f"EXISTS (SELECT 1 FROM {inner.rel} AS x{where})"
        return ev_bool(f"(NOT {sub})" if e.negated else f"({sub})")

    # -- expression compiler ------------------------------------------------------------

    def compile_expr(self, e, bf: BindingFrame, rj: set | None = None) -> EV:
        """SQL text of ``e`` over a row of ``bf`` aliased ``t``; in a join's
        ON clause (``rj`` given) over ``l``, and ``r`` for the vars in
        ``rj``."""

        def col_of(v: str, shadow: str = "") -> str:
            if rj is None:
                return _q("t", v + shadow)
            return _q("r" if v in rj else "l", v + shadow)

        if isinstance(e, Var):
            v = e.name
            if v in bf.native_vars:
                kind = bf.native_vars[v]
                c = col_of(v)
                if kind == "num":
                    return EV(num=f"CAST({c} AS DOUBLE)", native=c, kind="num",
                              lex=f"CAST({c} AS STRING)")
                if kind == "bool":
                    return EV(boolean=c, native=c, kind="bool",
                              lex=f"CAST({c} AS STRING)")
                return EV(lex=f"CAST({c} AS STRING)", native=c, kind="str")
            if v in bf.term_vars:
                ev = EV(
                    lex=col_of(v),
                    num=col_of(v, "__num"),
                    dt=col_of(v, "__dt"),
                    lang=col_of(v, "__lang"),
                    kind="term",
                )
                if v in bf.raw_vars and not (rj and v in rj):
                    rb = bf.raw_vars[v]
                    ev.raw_cols = tuple(col_of(c) for c in rb.cols)
                    ev.raw_prov = rb.prov
                return ev
            # never-bound variable: NULL term (BOUND() -> false)
            return EV(lex=NULL_S, num=NULL_D, dt=NULL_S, lang=NULL_S, kind="term")
        if isinstance(e, Lit):
            param = self.stmt.param
            if e.datatype in terms.NUMERIC_XSD:
                val = float(e.value)
                native = (int(val) if val.is_integer() and e.datatype == terms.XSD_INTEGER
                          else val)
                return EV(num=param(val), native=param(native),
                          lex=param(e.value), kind="num")
            if e.datatype == terms.XSD_BOOLEAN:
                return ev_bool("true" if e.value == "true" else "false")
            return EV(lex=param(e.value),
                      dt=NULL_S if e.datatype is None else f"CAST({param(e.datatype)} AS STRING)",
                      lang=NULL_S if e.language is None else f"CAST({param(e.language)} AS STRING)",
                      native=param(e.value), kind="str",
                      static_num=("never" if _never_numeric_value(e.value)
                                  else "maybe"))
        if isinstance(e, IRI):
            return EV(lex=self.stmt.param(f"<{e.value}>"), kind="term",
                      num=NULL_D, static_num="never")
        if isinstance(e, Op):
            return self._compile_op(e, bf, rj)
        if isinstance(e, Call):
            return self._compile_call(e, bf, rj)
        if isinstance(e, InExpr):
            sub = self.compile_expr(e.expr, bf, rj)
            c = " OR ".join(self._eq(sub, self.compile_expr(o, bf, rj))
                            for o in e.options)
            return ev_bool(f"(NOT ({c}))" if e.negated else f"({c})")
        if isinstance(e, ExistsExpr):
            if rj is not None:
                raise SparqlNotImplemented("EXISTS in an OPTIONAL's filter")
            return self._exists(e, bf)
        raise SparqlNotImplemented(f"expression {e!r}")

    @staticmethod
    def _never_numeric(*evs: EV) -> bool:
        # one statically-non-numeric side makes the numeric-or-lexical
        # CASE's condition constant-false — the lexical branch IS the
        # value (see EV.static_num)
        return any(e.static_num == "never" for e in evs)

    @staticmethod
    def _raw_eq(acols: tuple, bcols: tuple) -> str:
        """Componentwise raw equality with the lexical path's exact NULL
        semantics: any NULL input makes the result NULL (a partially-null
        raw tuple renders a NULL lexical, and NULL = x is NULL, never
        false — plain AND-folding could yield false instead)."""
        eq = " AND ".join(f"{ca} = {cb}" for ca, cb in zip(acols, bcols))
        if len(acols) == 1:
            return f"({eq})"
        nn = " AND ".join(f"{c} IS NOT NULL" for c in list(acols) + list(bcols))
        return f"CASE WHEN {nn} THEN {eq} ELSE CAST(NULL AS BOOLEAN) END"

    def _eq(self, a: EV, b: EV) -> str:
        if a.raw_prov is not None and a.raw_prov == b.raw_prov:
            return self._raw_eq(a.raw_cols, b.raw_cols)
        if a.kind == "num" or b.kind == "num":
            return f"({a.as_num()} = {b.as_num()})"
        if self._never_numeric(a, b):
            return f"({a.as_lex()} = {b.as_lex()})"
        if a.kind == "term" and b.kind == "term":
            an, bn = a.as_num(), b.as_num()
            return (f"CASE WHEN {an} IS NOT NULL AND {bn} IS NOT NULL THEN {an} = {bn} "
                    f"ELSE {a.as_lex()} = {b.as_lex()} END")
        return f"({a.as_lex()} = {b.as_lex()})"

    def _cmp(self, op: str, a: EV, b: EV) -> str:
        if a.kind == "num" or b.kind == "num":
            return f"({a.as_num()} {op} {b.as_num()})"
        if self._never_numeric(a, b):
            return f"({a.as_lex()} {op} {b.as_lex()})"
        an, bn = a.as_num(), b.as_num()
        return (f"CASE WHEN {an} IS NOT NULL AND {bn} IS NOT NULL THEN {an} {op} {bn} "
                f"ELSE {a.as_lex()} {op} {b.as_lex()} END")

    def _compile_op(self, e: Op, bf: BindingFrame, rj: set | None) -> EV:
        args = [self.compile_expr(a, bf, rj) for a in e.args]
        op = e.op
        if op == "||":
            return ev_bool(f"({args[0].as_bool()} OR {args[1].as_bool()})")
        if op == "&&":
            return ev_bool(f"({args[0].as_bool()} AND {args[1].as_bool()})")
        if op == "!":
            return ev_bool(f"(NOT {args[0].as_bool()})")
        if op == "=":
            return ev_bool(self._eq(args[0], args[1]))
        if op == "!=":
            return ev_bool(f"(NOT {self._eq(args[0], args[1])})")
        if op in ("<", ">", "<=", ">="):
            return ev_bool(self._cmp(op, args[0], args[1]))
        if op in ("+", "-", "*", "/"):
            return ev_num(f"({args[0].as_num()} {op} {args[1].as_num()})")
        if op == "neg":
            return ev_num(f"(- {args[0].as_num()})")
        raise SparqlNotImplemented(f"operator {op}")

    def _compile_call(self, e: Call, bf: BindingFrame, rj: set | None) -> EV:
        name = e.name
        if name in AGGREGATES:
            raise SparqlNotImplemented(f"aggregate {name} outside GROUP context")
        args = [self.compile_expr(a, bf, rj) for a in e.args if a != "*"]
        if name == "STR":
            return ev_str(args[0].as_str())
        if name == "LANG":
            return ev_str(f"coalesce({args[0].lang_col()}, '')")
        if name == "LANGMATCHES":
            tag, rng = args[0].as_str(), args[1].as_str()
            return ev_bool(f"((lower({rng}) = '*' AND length({tag}) > 0) "
                           f"OR lower({tag}) = lower({rng}))")
        if name == "DATATYPE":
            return ev_str(f"coalesce({args[0].dt_col()}, {_str_sql(terms.XSD_STRING)})")
        if name == "BOUND":
            return ev_bool(f"({args[0].as_lex()} IS NOT NULL)")
        if name in ("IRI", "URI"):
            return EV(lex=f"concat('<', {args[0].as_str()}, '>')", num=NULL_D, kind="term")
        if name == "STRLEN":
            return ev_num(f"CAST(length({args[0].as_str()}) AS BIGINT)")
        if name == "UCASE":
            return ev_str(f"upper({args[0].as_str()})")
        if name == "LCASE":
            return ev_str(f"lower({args[0].as_str()})")
        if name == "CONCAT":
            return ev_str(f"concat({', '.join(a.as_str() for a in args)})")
        if name in ("CONTAINS", "STRSTARTS", "STRENDS"):
            fn = {"CONTAINS": "contains", "STRSTARTS": "startswith",
                  "STRENDS": "endswith"}[name]
            return ev_bool(f"{fn}({args[0].as_str()}, {args[1].as_str()})")
        if name == "STRBEFORE":
            s, t = args[0].as_str(), args[1].as_str()
            return ev_str(f"CASE WHEN instr({s}, {t}) > 0 "
                          f"THEN substring({s}, 1, instr({s}, {t}) - 1) ELSE '' END")
        if name == "STRAFTER":
            s, t = args[0].as_str(), args[1].as_str()
            return ev_str(f"CASE WHEN instr({s}, {t}) > 0 "
                          f"THEN substr({s}, instr({s}, {t}) + length({t}), length({s})) "
                          f"ELSE '' END")
        if name == "REPLACE":
            return ev_str(f"regexp_replace({args[0].as_str()}, {args[1].as_str()}, "
                          f"{args[2].as_str()})")
        if name == "SUBSTR":
            s = args[0].as_str()
            start = f"CAST({args[1].as_num()} AS INT)"
            n = f"CAST({args[2].as_num()} AS INT)" if len(args) > 2 else f"length({s})"
            return ev_str(f"substr({s}, {start}, {n})")
        if name == "REGEX":
            pat = e.args[1]
            flags = ""
            if len(e.args) > 2 and isinstance(e.args[2], Lit):
                flags = e.args[2].value
            if isinstance(pat, Lit):
                p = self.stmt.param(("(?i)" if "i" in flags else "") + pat.value)
                return ev_bool(f"({args[0].as_str()} RLIKE {p})")
            return ev_bool(f"({args[0].as_str()} RLIKE {args[1].as_str()})")
        if name == "ABS":
            return ev_num(f"abs({args[0].as_num()})")
        if name in ("CEIL", "FLOOR"):
            return ev_num(f"CAST({name.lower()}({args[0].as_num()}) AS DOUBLE)")
        if name == "ROUND":
            return ev_num(f"round({args[0].as_num()}, 0)")
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            fn = {"YEAR": "year", "MONTH": "month", "DAY": "dayofmonth",
                  "HOURS": "hour", "MINUTES": "minute", "SECONDS": "second"}[name]
            return ev_num(f"{fn}(try_cast({args[0].as_str()} AS TIMESTAMP))")
        if name == "MD5":
            return ev_str(f"md5({args[0].as_str()})")
        if name == "SHA256":
            return ev_str(f"sha2({args[0].as_str()}, 256)")
        if name == "IF":
            c = args[0].as_bool()
            a, b = args[1], args[2]

            def pick(x: str, y: str) -> str:
                return f"CASE WHEN {c} THEN {x} ELSE {y} END"

            if a.kind == "num" or b.kind == "num":
                return ev_num(pick(a.as_num(), b.as_num()))
            if a.kind == "term" and b.kind == "term":
                return EV(
                    lex=pick(a.as_lex(), b.as_lex()),
                    num=pick(a.as_num(), b.as_num()),
                    dt=pick(a.dt_col(), b.dt_col()),
                    lang=pick(a.lang_col(), b.lang_col()),
                    kind="term",
                )
            return ev_str(pick(a.as_str(), b.as_str()))
        if name == "COALESCE":
            if all(a.kind == "num" for a in args):
                return ev_num(f"coalesce({', '.join(a.as_num() for a in args)})")
            return ev_str(f"coalesce({', '.join(a.as_str() for a in args)})")
        if name == "SAMETERM":
            a, b = args
            return ev_bool(f"({a.as_lex()} <=> {b.as_lex()} AND {a.dt_col()} <=> {b.dt_col()} "
                           f"AND {a.lang_col()} <=> {b.lang_col()})")
        if name in ("ISIRI", "ISURI"):
            return ev_bool(f"startswith({args[0].as_lex()}, '<')")
        if name == "ISBLANK":
            return ev_bool(f"startswith({args[0].as_lex()}, '_:')")
        if name == "ISLITERAL":
            lx = args[0].as_lex()
            return ev_bool(f"({lx} IS NOT NULL AND NOT startswith({lx}, '<') "
                           f"AND NOT startswith({lx}, '_:'))")
        if name == "ISNUMERIC":
            return ev_bool(f"({args[0].as_num()} IS NOT NULL)")
        if name == "ENCODE_FOR_URI":
            return ev_str(terms.iri_safe_sql_spark(args[0].as_str()))
        if name == "STRDT":
            s = args[0].as_str()
            return EV(lex=s, dt=args[1].as_str(), kind="term", num=f"try_cast({s} AS DOUBLE)")
        if name == "STRLANG":
            return EV(lex=args[0].as_str(), lang=args[1].as_str(), kind="term", num=NULL_D)
        if name == "BNODE":
            raise SparqlNotImplemented("BNODE()")
        if name.startswith("IRI_FUNC:"):
            # arbitrary function by IRI — the reference's sqlf: escape hatch
            # (reference: rdflib_r2r/conversion_utils.py SQL_FUNC namespace):
            # the local name is the engine function name
            fname = name.rsplit("/", 1)[-1].rsplit("#", 1)[-1]
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", fname):
                raise SparqlNotImplemented(f"function {fname!r}")
            c = f"{fname}({', '.join(a.out_col() for a in args)})"
            return EV(native=c, lex=f"CAST({c} AS STRING)",
                      num=f"try_cast(CAST({c} AS STRING) AS DOUBLE)", kind="str")
        raise SparqlNotImplemented(f"function {name}")

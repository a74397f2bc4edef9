"""SPARQL 1.1 text parser (SELECT / ASK / CONSTRUCT subset) — tokenizer +
recursive descent, no external dependencies.

The reference delegates parsing to rdflib's ``parseQuery``/``translateQuery``
(reference: rdflib_r2r/sql_converter.py:269-274 ``parse_sparql_query``);
rdflib is not available here, so this module implements the grammar subset
the reference's query layer consumes (reference:
rdflib_r2r/query_conversions.py:388-419 dispatches on SelectQuery / Project /
Extend / Filter / Join / LeftJoin / Union / Minus / BGP / Group / Aggregate*
/ OrderBy / Slice / Distinct / values / paths), plus the property-path forms
of rdflib.paths that ``resolve_paths_in_triples`` handles (SequencePath,
AlternativePath, InvPath) and the ``+``/``*``/``?`` closures the reference
lacks.

Grammar follows SPARQL 1.1 §19.8 productions, trimmed to the supported set.
Unsupported constructs raise :class:`SparqlNotImplemented` — the explicit
not-implemented dispatch of the reference (SURVEY.md §2 A14).
"""

from __future__ import annotations

import re

from rdflib_r2r_spark.paths import Alt, Inv, NegSet, Pred, Seq
from rdflib_r2r_spark.sparql.ast_nodes import (
    AGGREGATES,
    AskQuery,
    BGP,
    BNodeT,
    Call,
    Closure,
    ConstructQuery,
    DescribeQuery,
    ExistsExpr,
    Extend,
    Filter,
    InExpr,
    IRI,
    Join,
    LeftJoin,
    Lit,
    Maybe,
    Minus,
    Op,
    SelectQuery,
    SubSelect,
    Union,
    ValuesPat,
    Var,
)
from rdflib_r2r_spark.terms import RDF_TYPE, XSD



class SparqlSyntaxError(ValueError):
    pass


class SparqlNotImplemented(NotImplementedError):
    """Explicit dispatch for constructs outside the supported subset."""


# --------------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
  | (?P<VAR>[?$][A-Za-z_][A-Za-z_0-9]*)
  | (?P<STRING>'''(?:[^'\\]|\\.|'(?!''))*'''|\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"|'(?:[^'\\\n]|\\.)*'|"(?:[^"\\\n]|\\.)*")
  | (?P<NUM>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<DTSEP>\^\^)
  | (?P<BNODE>_:[A-Za-z_0-9]+)
  | (?P<PNAME>[A-Za-z_][A-Za-z_0-9.-]*?:[A-Za-z_0-9][A-Za-z_0-9.%-]*|[A-Za-z_][A-Za-z_0-9.-]*?:)
  | (?P<KWORD>[A-Za-z_][A-Za-z_0-9]*)
  | (?P<OP>&&|\|\||!=|<=|>=|[{}().,;=<>+\-*/|^?!\[\]])
    """,
    re.VERBOSE,
)

_STR_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape(s: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n in _STR_ESCAPES:
                out.append(_STR_ESCAPES[n])
                i += 2
                continue
            if n in ("u", "U"):
                width = 4 if n == "u" else 8
                out.append(chr(int(s[i + 2 : i + 2 + width], 16)))
                i += 2 + width
                continue
        out.append(c)
        i += 1
    return "".join(out)


class Tok:
    __slots__ = ("kind", "text", "pos")

    def __init__(self, kind: str, text: str, pos: int):
        self.kind = kind
        self.text = text
        self.pos = pos

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Tok({self.kind},{self.text!r})"


def tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    pos = 0
    n = len(text)
    while pos < n:
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise SparqlSyntaxError(f"cannot tokenize at {pos}: {text[pos:pos+20]!r}")
        kind = m.lastgroup or ""
        if kind != "WS":
            toks.append(Tok(kind, m.group(), pos))
        pos = m.end()
    toks.append(Tok("EOF", "", pos))
    return toks


# --------------------------------------------------------------------------
# parser
# --------------------------------------------------------------------------

_NUM_INT_RE = re.compile(r"^[+-]?\d+$")
_NUM_DEC_RE = re.compile(r"^[+-]?(?:\d+\.\d*|\.\d+)$")

BUILTINS = {
    "STR", "LANG", "LANGMATCHES", "DATATYPE", "BOUND", "IRI", "URI", "BNODE",
    "ABS", "CEIL", "FLOOR", "ROUND", "CONCAT", "STRLEN", "UCASE", "LCASE",
    "ENCODE_FOR_URI", "CONTAINS", "STRSTARTS", "STRENDS", "STRBEFORE",
    "STRAFTER", "REPLACE", "SUBSTR", "REGEX", "YEAR", "MONTH", "DAY",
    "HOURS", "MINUTES", "SECONDS", "MD5", "SHA256", "IF", "COALESCE",
    "SAMETERM", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC",
    "STRDT", "STRLANG",
} | AGGREGATES


class Parser:
    def __init__(self, text: str, init_ns: dict[str, str] | None = None,
                 base: str | None = None):
        self.toks = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = dict(init_ns or {})
        self.base = base
        self._bnode_n = 0

    # -- token helpers ------------------------------------------------------

    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_kw(self, *words: str) -> bool:
        t = self.peek()
        return t.kind == "KWORD" and t.text.upper() in words

    def eat_kw(self, *words: str) -> str:
        if not self.at_kw(*words):
            raise SparqlSyntaxError(f"expected {words}, got {self.peek().text!r}")
        return self.next().text.upper()

    def at_op(self, *ops: str) -> bool:
        t = self.peek()
        return t.kind == "OP" and t.text in ops

    def eat_op(self, op: str) -> None:
        if not self.at_op(op):
            raise SparqlSyntaxError(f"expected {op!r}, got {self.peek().text!r} at {self.peek().pos}")
        self.next()

    # -- prologue -----------------------------------------------------------

    def parse_prologue(self) -> None:
        while True:
            if self.at_kw("PREFIX"):
                self.next()
                pname = self.next()
                if pname.kind != "PNAME" or not pname.text.endswith(":"):
                    raise SparqlSyntaxError(f"bad PREFIX name {pname.text!r}")
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SparqlSyntaxError("PREFIX needs IRIREF")
                self.prefixes[pname.text[:-1]] = iri.text[1:-1]
            elif self.at_kw("BASE"):
                self.next()
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SparqlSyntaxError("BASE needs IRIREF")
                self.base = iri.text[1:-1]
            else:
                return

    # -- terms ----------------------------------------------------------------

    def _expand_pname(self, text: str) -> str:
        pfx, _, local = text.partition(":")
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(f"unknown prefix {pfx!r}:")
        return self.prefixes[pfx] + local.replace("\\", "")

    def _resolve_iriref(self, text: str) -> str:
        v = text[1:-1]
        if self.base and "://" not in v:
            return self.base + v
        return v

    def parse_iri(self) -> IRI:
        t = self.peek()
        if t.kind == "IRIREF":
            self.next()
            return IRI(self._resolve_iriref(t.text))
        if t.kind == "PNAME":
            self.next()
            return IRI(self._expand_pname(t.text))
        raise SparqlSyntaxError(f"expected IRI, got {t.text!r}")

    def parse_literal(self) -> Lit:
        t = self.next()
        raw = t.text
        if raw.startswith(("'''", '"""')):
            value = _unescape(raw[3:-3])
        else:
            value = _unescape(raw[1:-1])
        nxt = self.peek()
        if nxt.kind == "LANGTAG":
            self.next()
            return Lit(value, language=nxt.text[1:])
        if nxt.kind == "DTSEP":
            self.next()
            return Lit(value, datatype=self.parse_iri().value)
        return Lit(value)

    def parse_numeric(self) -> Lit:
        t = self.next()
        if _NUM_INT_RE.match(t.text):
            return Lit(t.text, datatype=XSD + "integer")
        if _NUM_DEC_RE.match(t.text):
            return Lit(t.text, datatype=XSD + "decimal")
        return Lit(t.text, datatype=XSD + "double")

    def parse_var(self) -> Var:
        t = self.next()
        if t.kind != "VAR":
            raise SparqlSyntaxError(f"expected variable, got {t.text!r}")
        return Var(t.text[1:])

    def parse_graph_term(self):
        """VarOrTerm for triple patterns."""
        t = self.peek()
        if t.kind == "VAR":
            return self.parse_var()
        if t.kind in ("IRIREF", "PNAME"):
            return self.parse_iri()
        if t.kind == "STRING":
            return self.parse_literal()
        if t.kind == "NUM":
            return self.parse_numeric()
        if t.kind == "BNODE":
            self.next()
            return BNodeT(t.text[2:])
        if t.kind == "OP" and t.text == "[":
            self.next()
            self.eat_op("]")
            self._bnode_n += 1
            return BNodeT(f"__anon{self._bnode_n}")
        if self.at_kw("TRUE"):
            self.next()
            return Lit("true", datatype=XSD + "boolean")
        if self.at_kw("FALSE"):
            self.next()
            return Lit("false", datatype=XSD + "boolean")
        if self.at_kw("UNDEF"):
            self.next()
            return None
        raise SparqlSyntaxError(f"expected term, got {t.text!r} at {t.pos}")

    # -- property paths -------------------------------------------------------

    def parse_path(self):
        return self._path_alt()

    def _path_alt(self):
        parts = [self._path_seq()]
        while self.at_op("|"):
            self.next()
            parts.append(self._path_seq())
        return parts[0] if len(parts) == 1 else Alt(tuple(parts))

    def _path_seq(self):
        parts = [self._path_elt()]
        while self.at_op("/"):
            self.next()
            parts.append(self._path_elt())
        return parts[0] if len(parts) == 1 else Seq(tuple(parts))

    def _path_elt(self):
        if self.at_op("^"):
            self.next()
            return Inv(self._path_primary_mod())
        return self._path_primary_mod()

    def _path_primary_mod(self):
        p = self._path_primary()
        if self.at_op("+"):
            self.next()
            return Closure(p, min0=False)
        if self.at_op("*"):
            self.next()
            return Closure(p, min0=True)
        if self.at_op("?"):
            # only treat as modifier when not followed by a var name
            # (tokenizer emits VAR for ?name, so a bare OP '?' is the modifier)
            self.next()
            return Maybe(p)
        return p

    def _path_primary(self):
        t = self.peek()
        if t.kind == "KWORD" and t.text == "a":
            self.next()
            return Pred(RDF_TYPE)
        if t.kind in ("IRIREF", "PNAME"):
            return Pred(self.parse_iri().value)
        if self.at_op("!"):
            self.next()
            return self._path_negated_set()
        if self.at_op("("):
            self.next()
            p = self.parse_path()
            self.eat_op(")")
            return p
        raise SparqlSyntaxError(f"expected path, got {t.text!r}")

    def _path_negated_set(self):
        """PathNegatedPropertySet (SPARQL 1.1 [77]): a single
        PathOneInPropertySet or a '('-grouped '|'-list of them."""
        forward: list[str] = []
        inverse: list[str] = []

        def one():
            target = forward
            if self.at_op("^"):
                self.next()
                target = inverse
            t = self.peek()
            if t.kind == "KWORD" and t.text == "a":
                self.next()
                target.append(RDF_TYPE)
            elif t.kind in ("IRIREF", "PNAME"):
                target.append(self.parse_iri().value)
            else:
                raise SparqlSyntaxError(
                    f"expected iri or ^iri in negated property set, got {t.text!r}"
                )

        if self.at_op("("):
            self.next()
            if not self.at_op(")"):
                one()
                while self.at_op("|"):
                    self.next()
                    one()
            self.eat_op(")")
        else:
            one()
        return NegSet(tuple(forward), tuple(inverse))

    # -- triples block ----------------------------------------------------------

    def parse_triples_block(self, acc: list) -> None:
        while True:
            s = self.parse_graph_term()
            self._parse_property_list(s, acc)
            if self.at_op("."):
                self.next()
                t = self.peek()
                if (
                    t.kind in ("VAR", "IRIREF", "PNAME", "STRING", "NUM", "BNODE")
                    or (t.kind == "OP" and t.text == "[")
                ):
                    continue
            return

    def _parse_property_list(self, s, acc: list) -> None:
        while True:
            # Verb := VarOrIri | 'a' | Path (variable predicates are plain
            # verbs, never path elements — SPARQL 1.1 §19.8 [78])
            p = self.parse_var() if self.peek().kind == "VAR" else self.parse_path()
            while True:
                o = self.parse_graph_term()
                acc.append((s, p, o))
                if self.at_op(","):
                    self.next()
                    continue
                break
            if self.at_op(";"):
                self.next()
                t = self.peek()
                # dangling ';' before '.' or '}'
                if self.at_op(".", "}") or t.kind == "EOF":
                    return
                continue
            return

    # -- group graph pattern -------------------------------------------------

    def parse_group(self):
        """GroupGraphPattern -> algebra (SPARQL 1.1 §18.2.2)."""
        self.eat_op("{")
        # sub-select
        if self.at_kw("SELECT"):
            q = self.parse_select_query()
            self.eat_op("}")
            return SubSelect(q)

        g = None  # running pattern
        filters: list = []

        def join_in(pat):
            nonlocal g
            if g is None:
                g = pat
            else:
                g = Join(g, pat)

        while not self.at_op("}"):
            if self.at_kw("FILTER"):
                self.next()
                filters.append(self._parse_constraint())
            elif self.at_kw("OPTIONAL"):
                self.next()
                right = self.parse_group()
                expr = None
                if isinstance(right, Filter):
                    right, expr = right.pattern, right.expr
                g = LeftJoin(g if g is not None else BGP([]), right, expr)
            elif self.at_kw("MINUS"):
                self.next()
                right = self.parse_group()
                g = Minus(g if g is not None else BGP([]), right)
            elif self.at_kw("BIND"):
                self.next()
                self.eat_op("(")
                expr = self.parse_expr()
                self.eat_kw("AS")
                var = self.parse_var()
                self.eat_op(")")
                g = Extend(g if g is not None else BGP([]), var, expr)
            elif self.at_kw("VALUES"):
                self.next()
                join_in(self._parse_values())
            elif self.at_kw("GRAPH"):
                self.next()
                t = self.peek()
                gterm = self.parse_var() if t.kind == "VAR" else self.parse_iri()
                sub = self.parse_group()
                self._mark_graph(sub, gterm)
                join_in(sub)
            elif self.at_op("{"):
                left = self.parse_group()
                while self.at_kw("UNION"):
                    self.next()
                    left = Union(left, self.parse_group())
                join_in(left)
            else:
                triples: list = []
                self.parse_triples_block(triples)
                join_in(BGP(triples))
            if self.at_op("."):
                self.next()
        self.eat_op("}")
        if g is None:
            g = BGP([])
        for f in filters:
            g = Filter(f, g)
        return g

    def _mark_graph(self, pat, gterm) -> None:
        """Push a GRAPH term down onto every BGP of a subpattern."""
        if isinstance(pat, BGP):
            pat.graph = gterm
        for attr in ("left", "right", "pattern"):
            sub = getattr(pat, attr, None)
            if sub is not None and not isinstance(sub, (Var, IRI)):
                self._mark_graph(sub, gterm)
        if isinstance(pat, SubSelect):
            self._mark_graph(pat.query.where, gterm)

    def _parse_values(self) -> ValuesPat:
        if self.peek().kind == "VAR":
            v = self.parse_var()
            self.eat_op("{")
            rows = []
            while not self.at_op("}"):
                rows.append([self.parse_graph_term()])
            self.eat_op("}")
            return ValuesPat([v], rows)
        self.eat_op("(")
        vars_: list[Var] = []
        while not self.at_op(")"):
            vars_.append(self.parse_var())
        self.eat_op(")")
        self.eat_op("{")
        rows = []
        while not self.at_op("}"):
            self.eat_op("(")
            row = []
            while not self.at_op(")"):
                row.append(self.parse_graph_term())
            self.eat_op(")")
            if len(row) != len(vars_):
                raise SparqlSyntaxError("VALUES row arity mismatch")
            rows.append(row)
        self.eat_op("}")
        return ValuesPat(vars_, rows)

    def _parse_constraint(self):
        if self.at_op("("):
            self.next()
            e = self.parse_expr()
            self.eat_op(")")
            return e
        return self._parse_primary_expr()

    # -- expressions -----------------------------------------------------------

    def parse_expr(self):
        return self._or_expr()

    def _or_expr(self):
        e = self._and_expr()
        while self.at_op("||"):
            self.next()
            e = Op("||", (e, self._and_expr()))
        return e

    def _and_expr(self):
        e = self._rel_expr()
        while self.at_op("&&"):
            self.next()
            e = Op("&&", (e, self._rel_expr()))
        return e

    def _rel_expr(self):
        e = self._add_expr()
        if self.at_op("=", "!=", "<", ">", "<=", ">="):
            op = self.next().text
            return Op(op, (e, self._add_expr()))
        if self.at_kw("IN"):
            self.next()
            return InExpr(e, tuple(self._parse_expr_list()))
        if self.at_kw("NOT") and self.peek(1).kind == "KWORD" and self.peek(1).text.upper() == "IN":
            self.next()
            self.next()
            return InExpr(e, tuple(self._parse_expr_list()), negated=True)
        return e

    def _add_expr(self):
        e = self._mul_expr()
        while self.at_op("+", "-"):
            op = self.next().text
            e = Op(op, (e, self._mul_expr()))
        return e

    def _mul_expr(self):
        e = self._unary_expr()
        while self.at_op("*", "/"):
            op = self.next().text
            e = Op(op, (e, self._unary_expr()))
        return e

    def _unary_expr(self):
        if self.at_op("!"):
            self.next()
            return Op("!", (self._unary_expr(),))
        if self.at_op("-"):
            self.next()
            return Op("neg", (self._unary_expr(),))
        if self.at_op("+"):
            self.next()
            return self._unary_expr()
        return self._parse_primary_expr()

    def _parse_expr_list(self) -> list:
        self.eat_op("(")
        out = []
        if not self.at_op(")"):
            out.append(self.parse_expr())
            while self.at_op(","):
                self.next()
                out.append(self.parse_expr())
        self.eat_op(")")
        return out

    def _parse_primary_expr(self):
        t = self.peek()
        if self.at_op("("):
            self.next()
            e = self.parse_expr()
            self.eat_op(")")
            return e
        if t.kind == "VAR":
            return self.parse_var()
        if t.kind == "STRING":
            return self.parse_literal()
        if t.kind == "NUM":
            return self.parse_numeric()
        if self.at_kw("TRUE"):
            self.next()
            return Lit("true", datatype=XSD + "boolean")
        if self.at_kw("FALSE"):
            self.next()
            return Lit("false", datatype=XSD + "boolean")
        if self.at_kw("EXISTS"):
            self.next()
            return ExistsExpr(self.parse_group())
        if self.at_kw("NOT"):
            self.next()
            self.eat_kw("EXISTS")
            return ExistsExpr(self.parse_group(), negated=True)
        if t.kind == "KWORD" and t.text.upper() in BUILTINS:
            return self._parse_call()
        if t.kind in ("IRIREF", "PNAME"):
            iri = self.parse_iri()
            if self.at_op("("):
                # custom function call by IRI, e.g. the reference's sqlf:
                # escape hatch (reference: rdflib_r2r/conversion_utils.py
                # SQL_FUNC namespace)
                args = self._parse_expr_list()
                return Call("IRI_FUNC:" + iri.value, tuple(args))
            return iri
        raise SparqlSyntaxError(f"unexpected token in expression: {t.text!r} at {t.pos}")

    def _parse_call(self) -> Call:
        name = self.next().text.upper()
        self.eat_op("(")
        distinct = False
        if self.at_kw("DISTINCT"):
            self.next()
            distinct = True
        args: list = []
        separator = None
        if self.at_op("*"):
            self.next()
            args.append("*")
        elif not self.at_op(")"):
            args.append(self.parse_expr())
            while self.at_op(","):
                self.next()
                args.append(self.parse_expr())
            while self.at_op(";"):
                self.next()
                kw = self.eat_kw("SEPARATOR")
                self.eat_op("=")
                if kw == "SEPARATOR":
                    separator = self.parse_literal().value
        self.eat_op(")")
        return Call(name, tuple(args), distinct=distinct, separator=separator)

    # -- query forms -------------------------------------------------------------

    def parse_select_query(self) -> SelectQuery:
        self.eat_kw("SELECT")
        distinct = reduced = False
        if self.at_kw("DISTINCT"):
            self.next()
            distinct = True
        elif self.at_kw("REDUCED"):
            self.next()
            reduced = True
        projection: list = []
        if self.at_op("*"):
            self.next()
        else:
            while True:
                if self.peek().kind == "VAR":
                    projection.append(self.parse_var())
                elif self.at_op("("):
                    self.next()
                    e = self.parse_expr()
                    self.eat_kw("AS")
                    v = self.parse_var()
                    self.eat_op(")")
                    projection.append((e, v))
                else:
                    break
            if not projection:
                raise SparqlSyntaxError("SELECT needs projection or *")
        dataset = self._parse_dataset()
        if self.at_kw("WHERE"):
            self.next()
        where = self.parse_group()
        q = SelectQuery(projection=projection, where=where, dataset=dataset,
                        distinct=distinct, reduced=reduced)
        self._parse_solution_modifiers(q)
        return q

    def _parse_dataset(self):
        """DatasetClause* (SPARQL 1.1 [13]): FROM iri | FROM NAMED iri.
        Returns a Dataset or None when no clause is present."""
        default: list = []
        named: list = []
        seen = False
        while self.at_kw("FROM"):
            seen = True
            self.next()
            if self.at_kw("NAMED"):
                self.next()
                named.append(self.parse_iri().value)
            else:
                default.append(self.parse_iri().value)
        from rdflib_r2r_spark.sparql.ast_nodes import Dataset

        return Dataset(tuple(default), tuple(named)) if seen else None

    def _parse_solution_modifiers(self, q) -> None:
        while True:
            if self.at_kw("GROUP"):
                self.next()
                self.eat_kw("BY")
                conds = []
                while True:
                    t = self.peek()
                    if t.kind == "VAR":
                        conds.append(self.parse_var())
                    elif self.at_op("("):
                        self.next()
                        e = self.parse_expr()
                        if self.at_kw("AS"):
                            self.next()
                            v = self.parse_var()
                            e = (e, v)
                        self.eat_op(")")
                        conds.append(e)
                    else:
                        break
                q.group_by = conds
            elif self.at_kw("HAVING"):
                self.next()
                having = []
                while self.at_op("(") or (
                    self.peek().kind == "KWORD" and self.peek().text.upper() in BUILTINS
                ):
                    having.append(self._parse_constraint())
                q.having = having
            elif self.at_kw("ORDER"):
                self.next()
                self.eat_kw("BY")
                conds = []
                while True:
                    if self.at_kw("ASC", "DESC"):
                        asc = self.next().text.upper() == "ASC"
                        self.eat_op("(")
                        e = self.parse_expr()
                        self.eat_op(")")
                        conds.append((e, asc))
                    elif self.peek().kind == "VAR":
                        conds.append((self.parse_var(), True))
                    elif self.at_op("(") or (
                        self.peek().kind == "KWORD" and self.peek().text.upper() in BUILTINS
                    ):
                        conds.append((self._parse_constraint(), True))
                    else:
                        break
                q.order_by = conds
            elif self.at_kw("LIMIT"):
                self.next()
                q.limit = int(self.next().text)
            elif self.at_kw("OFFSET"):
                self.next()
                q.offset = int(self.next().text)
            elif self.at_kw("VALUES"):
                # trailing VALUES clause: join onto WHERE
                self.next()
                q.where = Join(q.where, self._parse_values())
            else:
                return

    def parse_query(self):
        self.parse_prologue()
        if self.at_kw("SELECT"):
            q = self.parse_select_query()
        elif self.at_kw("ASK"):
            self.next()
            dataset = self._parse_dataset()
            if self.at_kw("WHERE"):
                self.next()
            q = AskQuery(self.parse_group(), dataset=dataset)
        elif self.at_kw("CONSTRUCT"):
            self.next()
            template: list = []
            if self.at_kw("FROM") or self.at_kw("WHERE"):
                # CONSTRUCT WHERE { triples } shorthand (SPARQL 1.1
                # 10.2.2): grammar is CONSTRUCT DatasetClause* WHERE
                # TriplesTemplate — the template IS the pattern: triples
                # only (parse_triples_block rejects FILTER/OPTIONAL/...),
                # and predicates must be plain verbs (IRI or variable),
                # never property paths
                dataset = self._parse_dataset()
                self.eat_kw("WHERE")
                self.eat_op("{")
                if not self.at_op("}"):
                    self.parse_triples_block(template)
                self.eat_op("}")
                for _s, p, _o in template:
                    if not isinstance(p, (Pred, IRI, Var)):
                        raise SparqlSyntaxError(
                            "CONSTRUCT WHERE template forbids property "
                            f"paths as predicates, got {p!r}"
                        )
                from rdflib_r2r_spark.sparql.ast_nodes import BGP

                where = BGP(list(template))
            else:
                # full form: CONSTRUCT ConstructTemplate DatasetClause*
                # WHERE GroupGraphPattern — dataset clauses only AFTER
                # the template (the grammar has no pre-template position)
                self.eat_op("{")
                if not self.at_op("}"):
                    self.parse_triples_block(template)
                self.eat_op("}")
                dataset = self._parse_dataset()
                if self.at_kw("WHERE"):
                    self.next()
                where = self.parse_group()
            q = ConstructQuery(template=template, where=where, dataset=dataset)
            mods = SelectQuery(projection=[], where=None)
            self._parse_solution_modifiers(mods)
            q.limit, q.offset = mods.limit, mods.offset
        elif self.at_kw("DESCRIBE"):
            # the reference lacks DESCRIBE (tests/test_sql_converter.py:642-649
            # xfail); this engine supports the common forms
            self.next()
            terms: list = []
            if self.at_op("*"):
                self.next()
            else:
                while True:
                    t = self.peek()
                    if t.kind == "VAR":
                        terms.append(self.parse_var())
                    elif t.kind in ("IRIREF", "PNAME"):
                        terms.append(self.parse_iri())
                    else:
                        break
            dataset = self._parse_dataset()
            where = None
            if self.at_kw("WHERE") or self.at_op("{"):
                if self.at_kw("WHERE"):
                    self.next()
                where = self.parse_group()
            q = DescribeQuery(terms=terms, where=where, dataset=dataset)
        else:
            raise SparqlSyntaxError(f"expected query form, got {self.peek().text!r}")
        if self.peek().kind != "EOF":
            raise SparqlSyntaxError(f"trailing input at {self.peek().pos}: {self.peek().text!r}")
        return q


def parse_query(text: str, init_ns: dict[str, str] | None = None,
                base: str | None = None):
    """Parse SPARQL text into the algebra AST (SelectQuery / AskQuery /
    ConstructQuery)."""
    return Parser(text, init_ns=init_ns, base=base).parse_query()

"""Minimal Turtle-subset parser + R2RML mapping-graph interpreter.

Covers the Turtle constructs that real R2RML mapping files use (the
reference parses them with rdflib: prefixes, IRIs, prefixed names, literals
with ^^datatype/@lang, blank-node property lists, ';'/',' lists) and
interprets the rr: vocabulary exactly as the reference's readers do
(reference: rdflib_r2r/r2r_mapping.py:28-40, sql_converter.py:49-176,
246-267). Not a general Turtle parser — mapping files only.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from rdflib_r2r_spark.mapping import (
    JoinCondition,
    LogicalSource,
    PredicateObjectMap,
    SubjectMap,
    TermMap,
    TriplesMap,
)

RR = "http://www.w3.org/ns/r2rml#"

_TOKEN_RE = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^>]*>)
  | (?P<literal3>"{3}(?:[^"\\]|\\.|"(?!"{2}))*"{3})
  | (?P<literal>"(?:[^"\\]|\\.)*")
  | (?P<dtype>\^\^)
  | (?P<keyword2>@prefix|@base)
  | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<bnode>_:[A-Za-z0-9_]+)
  | (?P<pname>[A-Za-z_][\w.-]*)?:(?P<local>[\w.%-]*)
  | (?P<keyword>@prefix|@base|a\b)
  | (?P<num>[+-]?\d+(?:\.\d+)?)
  | (?P<punct>[\[\];,.()])
  | (?P<ws>\s+)
    """,
    re.VERBOSE,
)


@dataclass
class _Term:
    kind: str  # 'iri' | 'literal' | 'bnode'
    value: str
    datatype: str | None = None
    language: str | None = None


@dataclass
class _Parser:
    text: str
    pos: int = 0
    prefixes: dict[str, str] = field(default_factory=dict)
    triples: list[tuple] = field(default_factory=list)
    base: str | None = None
    _bnode_n: int = 0

    def _tokens(self):
        toks = []
        pos = 0
        while pos < len(self.text):
            m = _TOKEN_RE.match(self.text, pos)
            if not m:
                raise ValueError(f"ttl parse error at {self.text[pos:pos+40]!r}")
            pos = m.end()
            kind = m.lastgroup
            if kind in ("ws", "comment"):
                continue
            if kind == "keyword2":
                toks.append(("keyword", m.group(0)))
            elif m.group("local") is not None and m.group("iri") is None and kind in ("pname", "local"):
                toks.append(("pname", (m.group("pname") or "", m.group("local"))))
            elif kind == "keyword" and m.group(0) == "a":
                toks.append(("a", "a"))
            else:
                toks.append((kind, m.group(0)))
        return toks

    def parse(self) -> list[tuple]:
        self.toks = self._tokens()
        self.i = 0
        while self.i < len(self.toks):
            kind, val = self.toks[self.i]
            if kind == "keyword" and val == "@prefix":
                self.i += 1
                pk, pv = self.toks[self.i]
                assert pk == "pname"
                self.i += 1
                ik, iv = self.toks[self.i]
                assert ik == "iri"
                self.prefixes[pv[0]] = iv[1:-1]
                self.i += 1
                self._expect(".")
            elif kind == "keyword" and val == "@base":
                self.i += 1
                bk, bv = self.toks[self.i]
                assert bk == "iri"
                self.base = bv[1:-1]
                self.i += 1
                self._expect(".")
            else:
                self._statement()
        return self.triples

    def _expect(self, punct: str):
        kind, val = self.toks[self.i]
        if not (kind == "punct" and val == punct):
            raise ValueError(f"expected {punct!r}, got {val!r}")
        self.i += 1

    def _peek_punct(self, punct: str) -> bool:
        if self.i >= len(self.toks):
            return False
        kind, val = self.toks[self.i]
        return kind == "punct" and val == punct

    def _fresh_bnode(self) -> _Term:
        self._bnode_n += 1
        return _Term("bnode", f"_:anon{self._bnode_n}")

    def _term(self) -> _Term:
        kind, val = self.toks[self.i]
        if kind == "iri":
            self.i += 1
            return _Term("iri", val[1:-1])
        if kind == "pname":
            self.i += 1
            pre, local = val
            if pre not in self.prefixes:
                raise ValueError(f"unknown prefix {pre!r}")
            return _Term("iri", self.prefixes[pre] + local)
        if kind == "bnode":
            self.i += 1
            return _Term("bnode", val)
        if kind in ("literal", "literal3"):
            self.i += 1
            raw = val[3:-3] if kind == "literal3" else val[1:-1]
            lex = raw.encode().decode("unicode_escape")
            dt = lang = None
            if self.i < len(self.toks) and self.toks[self.i][0] == "dtype":
                self.i += 1
                t = self._term()
                dt = t.value
            elif self.i < len(self.toks) and self.toks[self.i][0] == "lang":
                lang = self.toks[self.i][1][1:]
                self.i += 1
            return _Term("literal", lex, dt, lang)
        if kind == "num":
            self.i += 1
            return _Term("literal", val)
        if kind == "punct" and val == "[":
            self.i += 1
            node = self._fresh_bnode()
            if not self._peek_punct("]"):
                self._polist(node)
            self._expect("]")
            return node
        if kind == "a":
            self.i += 1
            return _Term("iri", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
        raise ValueError(f"unexpected token {val!r}")

    def _polist(self, subj: _Term):
        while True:
            pred = self._term()
            while True:
                obj = self._term()
                self.triples.append((subj, pred, obj))
                if self._peek_punct(","):
                    self.i += 1
                    continue
                break
            if self._peek_punct(";"):
                self.i += 1
                if self._peek_punct("]") or self._peek_punct("."):
                    break
                continue
            break

    def _statement(self):
        subj = self._term()
        self._polist(subj)
        self._expect(".")


def parse_ttl_with_base(text: str) -> tuple[list[tuple], dict[str, str], str | None]:
    p = _Parser(text)
    return p.parse(), p.prefixes, p.base


# ---------------------------------------------------------------------------
# rr: graph interpretation
# ---------------------------------------------------------------------------

class _G:
    """Tiny triple index with the access patterns the interpreters need."""

    def __init__(self, triples: list[tuple]):
        self.spo: dict[tuple[str, str], list[_Term]] = {}
        for s, p, o in triples:
            self.spo.setdefault((s.value, p.value), []).append(o)

    def objs(self, s: _Term | str, p: str) -> list[_Term]:
        sv = s if isinstance(s, str) else s.value
        return self.spo.get((sv, RR + p), [])

    def obj(self, s, p: str) -> _Term | None:
        v = self.objs(s, p)
        return v[0] if v else None


def _term_map(g: _G, node: _Term, const_shortcut: _Term | None = None) -> TermMap:
    if const_shortcut is not None:
        if const_shortcut.kind == "iri":
            return TermMap(constant=const_shortcut.value, term_type="IRI")
        return TermMap(constant=const_shortcut.value, term_type="Literal",
                       datatype=const_shortcut.datatype, language=const_shortcut.language)
    const = g.obj(node, "constant")
    ttype_t = g.obj(node, "termType")
    ttype = None
    if ttype_t is not None:
        ttype = {RR + "IRI": "IRI", RR + "BlankNode": "BlankNode", RR + "Literal": "Literal"}[
            ttype_t.value
        ]
    dt = g.obj(node, "datatype")
    lang = g.obj(node, "language")
    parent = g.obj(node, "parentTriplesMap")
    # Quoted-identifier style (rr:child "\"ENAME\"") is normalized the same
    # way rr:tableName is — Spark schemas hold unquoted names.
    jcs = tuple(
        JoinCondition(
            child=g.obj(jc, "child").value.strip('"'),
            parent=g.obj(jc, "parent").value.strip('"'),
        )
        for jc in g.objs(node, "joinCondition")
    )
    if const is not None:
        if ttype is None:
            ttype = "IRI" if const.kind == "iri" else "Literal"
        return TermMap(constant=const.value, term_type=ttype,
                       datatype=const.datatype or (dt.value if dt else None),
                       language=const.language or (lang.value if lang else None))
    col = g.obj(node, "column")
    tpl = g.obj(node, "template")
    tpl_value = None
    if tpl:
        # de-quote template slots written as {"col"} (quoted-identifier style)
        tpl_value = re.sub(r'\{"([^"}]+)"\}', r"{\1}", tpl.value)
    return TermMap(
        column=col.value.strip('"') if col else None,
        template=tpl_value,
        term_type=ttype,
        datatype=dt.value if dt else None,
        language=lang.value if lang else None,
        parent_triples_map=parent.value if parent else None,
        join_conditions=jcs,
    )


_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def _resolve_base(tm: TermMap, base: str | None, position: str) -> TermMap:
    """Resolve relative IRIs against the document @base (R2RML base IRI):
    constants and template skeletons at interpretation time; column-valued
    IRIs at render time via TermMap.base_iri."""
    if base is None or tm is None:
        return tm
    from dataclasses import replace

    ttype = tm.inferred_term_type(position)
    if ttype != "IRI":
        return tm
    if tm.constant is not None and not _ABS_IRI_RE.match(tm.constant):
        return replace(tm, constant=base + tm.constant)
    if tm.template is not None and not _ABS_IRI_RE.match(tm.template):
        return replace(tm, template=base + tm.template)
    if tm.column is not None:
        return replace(tm, base_iri=base)
    return tm


def mapping_from_ttl(text: str) -> list[TriplesMap]:
    """Interpret an R2RML mapping document into TriplesMap dataclasses."""
    triples, _prefixes, _base = parse_ttl_with_base(text)
    g = _G(triples)
    # triples maps = subjects having rr:logicalTable (sql_converter.py:246-249)
    tmap_nodes: dict[str, _Term] = {}
    for s, p, o in triples:
        if p.value in (RR + "logicalTable", RR + "subjectMap", RR + "subject"):
            tmap_nodes.setdefault(s.value, s)

    out: list[TriplesMap] = []
    for name, node in tmap_nodes.items():
        lt = g.obj(node, "logicalTable")
        if lt is None:
            continue
        tname = g.obj(lt, "tableName")
        sqlq = g.obj(lt, "sqlQuery")
        source = LogicalSource(
            table=tname.value.strip('"') if tname else None,
            sql_query=sqlq.value if sqlq else None,
        )
        smap_node = g.obj(node, "subjectMap")
        s_shortcut = g.obj(node, "subject")
        base_tm = _term_map(g, smap_node, s_shortcut) if (smap_node or s_shortcut) else None
        if base_tm is None:
            raise ValueError(f"triples map {name} has no subject map")
        classes = tuple(
            c.value if _base is None or _ABS_IRI_RE.match(c.value) else _base + c.value
            for c in (g.objs(smap_node, "class") if smap_node else [])
        )
        graphs = []
        if smap_node is not None:
            for gm in g.objs(smap_node, "graphMap"):
                graphs.append(_term_map(g, gm))
            for gc in g.objs(smap_node, "graph"):
                graphs.append(TermMap(constant=gc.value,
                                      term_type="IRI" if gc.kind == "iri" else "Literal"))
        def fix_graphs(gs):
            # rr:defaultGraph routes to the DEFAULT graph (no named graph)
            out_g = []
            for gm in gs:
                if gm.constant == RR + "defaultGraph":
                    continue
                out_g.append(_resolve_base(gm, _base, "G"))
            return tuple(out_g)

        base_tm = _resolve_base(base_tm, _base, "S")
        smap = SubjectMap(
            constant=base_tm.constant, column=base_tm.column, template=base_tm.template,
            term_type=base_tm.term_type, datatype=base_tm.datatype,
            language=base_tm.language, base_iri=base_tm.base_iri,
            classes=classes, graphs=fix_graphs(graphs),
        )
        poms: list[PredicateObjectMap] = []
        for pom in g.objs(node, "predicateObjectMap"):
            preds = [TermMap(constant=p.value, term_type="IRI") for p in g.objs(pom, "predicate")]
            preds += [_term_map(g, pm) for pm in g.objs(pom, "predicateMap")]
            preds = [_resolve_base(p, _base, "P") for p in preds]
            objs = [_term_map(g, None, const_shortcut=o) for o in g.objs(pom, "object")]
            objs += [_term_map(g, om) for om in g.objs(pom, "objectMap")]
            objs = [_resolve_base(o, _base, "O") for o in objs]
            pgraphs = [_term_map(g, gm) for gm in g.objs(pom, "graphMap")]
            pgraphs += [TermMap(constant=gc.value,
                                term_type="IRI" if gc.kind == "iri" else "Literal")
                        for gc in g.objs(pom, "graph")]
            poms.append(
                PredicateObjectMap(predicates=tuple(preds), objects=tuple(objs),
                                   graphs=fix_graphs(pgraphs))
            )
        out.append(TriplesMap(name=name, source=source, subject_map=smap, pomaps=tuple(poms)))
    return out

"""Kernel tests mirroring the reference's template suite
(reference: tests/test_conversion_utils.py:27-102)."""

import itertools
import urllib.parse

from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.mapping import TermMap
from rdflib_r2r_spark.templates import (
    expand_template_py,
    invert_template_py,
    may_collide,
    parse_template,
    render_key,
    template_columns,
)

TPL = "http://localhost:8890/Demo/orders/{OrderID}"
TPL2 = "http://localhost:8890/Demo/order_details/{OrderID}/{ProductID}"


def test_parse_template():
    parts = parse_template(TPL2)
    assert template_columns(TPL2) == ["OrderID", "ProductID"]
    assert parts[0].prefix == "http://localhost:8890/Demo/order_details/"


def test_expand_basic():
    assert expand_template_py(TPL, {"OrderID": 1}) == "http://localhost:8890/Demo/orders/1"
    assert expand_template_py(TPL2, {"OrderID": 10, "ProductID": 42}).endswith("/10/42")


def test_expand_null_gives_none():
    assert expand_template_py(TPL, {"OrderID": None}) is None


def test_expand_iri_encodes():
    out = expand_template_py("http://ex.org/c/{name}", {"name": "a b/c"})
    assert out == "http://ex.org/c/a%20b%2Fc"


def test_iri_safe_matches_urllib():
    for s in ["a b/c", "x:y;z", "100%", "a&b=c+d", "plain", "(1,2)", "q?!"]:
        assert terms.iri_safe_py(s) == urllib.parse.quote(s, safe="")


def test_invert_roundtrip():
    s = expand_template_py(TPL2, {"OrderID": 10, "ProductID": 42})
    assert invert_template_py(s, TPL2) == {"OrderID": "10", "ProductID": "42"}


def test_invert_mismatch():
    assert invert_template_py("http://other/1", TPL) is None


_SLOT_TYPES = {"int": T.IntegerType(), "long": T.LongType(),
               "str": T.StringType(), "double": T.DoubleType()}
# every slot ranges over a digit-dense core (so that renders which can
# collide do) plus drawn extras
_INTS = [-12, -1, 0, 1, 2, 3, 12, 23, 123]
_CORE = {"int": _INTS, "long": _INTS,
         "str": ["", "1", "12", "a", "-", "a/b", "1-2", "%"],
         "double": [-12.0, -0.5, 0.0, 1.0, 12.5]}
_EXTRA = {"int": st.integers(-200, 200), "long": st.integers(-200, 200),
          "str": st.text(alphabet="a1-/% ", max_size=3),
          "double": st.floats(-1e3, 1e3, allow_nan=False)}


@st.composite
def _template(draw, name: str):
    """A template term map over 1-3 slots of drawn types, separated by
    empty, digit, '-', letter or percent-encoded text, with the rows of
    every combination of slot values."""
    n = draw(st.integers(1, 3))
    kinds = draw(st.lists(st.sampled_from(sorted(_SLOT_TYPES)), min_size=n, max_size=n))
    text = st.sampled_from(["", "1", "12", "-", "a", "-a", "/", "x/", "T1"])
    parts = [draw(st.sampled_from(["http://x/", "http://x/1", "http://x/a"]))]
    cols = [f"{name}{i}" for i in range(n)]
    for i, col in enumerate(cols):
        parts.append("{" + col + "}" + (draw(text) if i < n - 1 else ""))
    parts.append(draw(st.sampled_from(["", "1", "/y", "-"])))
    domains = [set(_CORE[k]) | set(draw(st.lists(_EXTRA[k], max_size=2)))
               for k in kinds]
    tm = TermMap(template="".join(parts),
                 term_type=draw(st.sampled_from(["IRI", "Literal"])))
    types = {c: _SLOT_TYPES[k] for c, k in zip(cols, kinds)}
    return tm, types, [dict(zip(cols, row)) for row in itertools.product(*domains)]


def _renders(tm, rows) -> dict:
    """raw slot tuple -> term (term type, lexical form)"""
    return {tuple(row.values()):
            (tm.term_type, expand_template_py(tm.template, row, iri=tm.term_type == "IRI"))
            for row in rows}


@settings(max_examples=500, deadline=None)
@given(_template("a"), _template("b"), st.booleans())
def test_render_key_and_may_collide_agree_with_expansion(a, b, same_shape):
    """Equal ``render_key`` => raw equality <=> equal term, and
    ``may_collide`` False => no term of one equals a term of the other."""
    (tm_a, types_a, rows_a), (tm_b, types_b, rows_b) = a, b
    if same_shape:
        # the same template over other columns (of other integral widths)
        tm_b = TermMap(template=tm_a.template.replace("{a", "{b"),
                       term_type=tm_a.term_type)
        types_b = {"b" + c[1:]: T.LongType() if isinstance(t, T.IntegerType) else t
                   for c, t in types_a.items()}
        rows_b = [{"b" + c[1:]: v for c, v in r.items()} for r in rows_a]
    ra, rb = _renders(tm_a, rows_a), _renders(tm_b, rows_b)
    key = render_key(tm_a, "O", types_a)
    for tm, types, renders in ((tm_a, types_a, ra), (tm_b, types_b, rb)):
        if render_key(tm, "O", types) is not None:  # injective
            assert len(set(renders.values())) == len(renders), tm.template
    if key is not None and key == render_key(tm_b, "O", types_b):
        # one function of the raws: equal terms exactly on equal raws
        terms_a = {t: raw for raw, t in ra.items()}
        assert all(ra[raw] == rb[raw] for raw in ra.keys() & rb.keys())
        assert all(terms_a[t] == raw for raw, t in rb.items() if t in terms_a)
    if not may_collide(tm_a, "O", types_a, tm_b, "O", types_b):
        assert not set(ra.values()) & set(rb.values()), (tm_a.template, tm_b.template)


def test_template_equality_examples():
    ints = {c: T.LongType() for c in "ab"}
    inst = "http://www4.wiwiss.fu-berlin.de/bizer/bsbm/v01/instances/"
    ctry = "http://downlode.org/rdf/iso-3166/countries#"

    def iri(template):
        return TermMap(template=template, term_type="IRI")

    assert render_key(iri("http://x/{a}-{b}"), "S", ints) is not None
    assert render_key(iri("http://x/{a}{b}"), "S", ints) is None
    assert render_key(iri("http://x/{a}1{b}"), "S", ints) is None
    # the BSBM skeletons never collide: an integral slot never renders a letter
    for t1, t2 in itertools.combinations(["Product{a}", "ProductType{a}", "Producer{a}"], 2):
        assert not may_collide(iri(inst + t1), "S", ints, iri(inst + t2), "S", ints)
    # ... but a string slot can render 'C' followed by digits
    assert may_collide(iri(ctry + "C{a}"), "O", ints,
                       iri(ctry + "{b}"), "O", {"b": T.StringType()})
    assert may_collide(iri("http://x/{a}"), "S", ints, iri("http://x/1{b}"), "S", ints)
    # "1"^^xsd:integer is not the plain literal "1"
    assert not may_collide(TermMap(column="a"), "O", ints,
                           TermMap(column="b"), "O", {"b": T.StringType()})


def test_bnode_skolem_stable():
    a = terms.skolem_bnode_py("t1", "1", "x")
    b = terms.skolem_bnode_py("t1", "1", "x")
    c = terms.skolem_bnode_py("t1", "2", "x")
    assert a == b and a != c and a.startswith("_:b")


def test_nt_term():
    assert terms.term_to_nt("<http://x>") == "<http://x>"
    assert terms.term_to_nt("_:b1") == "_:b1"
    assert terms.term_to_nt("hi", None, "en") == '"hi"@en'
    assert terms.term_to_nt("5", terms.XSD_INTEGER) == '"5"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert terms.term_to_nt('say "hi"\n') == '"say \\"hi\\"\\n"'


def test_template_spark_sql_matches_python(spark):
    # templates.template_to_spark_sql must render the bytes of
    # expand_template_py, including percent-unsafe chars, quotes,
    # backslashes and `$` in both the column VALUES and the template PREFIX
    # text, and integral slots (no encoding) with negative values
    from rdflib_r2r_spark.templates import template_to_spark_sql

    rows = [("a b/c", 1), ("x'y\"z", -2), ("back\\slash", 3), ("${env:HOME}", 4),
            ("plain", None), (None, 5)]
    df = spark.createDataFrame(rows, "v string, k bigint")
    cases = [
        ("http://ex.org/{v}/{k}", True, True),
        ("pre'fix\\x-{v}", False, False),
        ("{k}-{v}", True, False),
        ("http://x/$\\{env:HOME\\}/{k}$", True, True),
    ]
    for tpl, iri, wrap in cases:
        for integral in (frozenset(), {"k"}):
            text = template_to_spark_sql(tpl, lambda c: f"`{c}`", iri=iri,
                                         wrap=wrap, integral=integral)
            got = [r[0] for r in df.selectExpr(text).collect()]
            want = []
            for v, k in rows:
                out = expand_template_py(tpl, {"v": v, "k": k}, iri=iri)
                want.append(f"<{out}>" if out is not None and wrap and iri else out)
            assert got == want, (tpl, integral, got, want)

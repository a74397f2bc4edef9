"""Physical-plan regression tests for the headline queries.

BENCH.md's plan audit claims (no cartesians, broadcast dim joins, pushed-down
point filters, partitioned windows) are encoded here as asserts on
``df.explain("formatted")`` output so a future change that silently breaks a
plan property fails CI instead of only showing up as a bench regression.
All plans are BUILT (not executed) at sf0.001, so this suite is cheap.
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


def _plan(registry, spark, name) -> str:
    return plan_of(registry[name](spark, SF_DIR))


HEADLINERS = [
    "q_tpch_q5", "bsbm_bi4", "bsbm_bi5", "kg_mentions", "dedup_lsh_pairs",
    "kg_dump_geo", "q_tpch_q3",
]


@pytest.mark.parametrize("name", HEADLINERS)
def test_no_cartesian_product(registry, spark, name):
    plan = _plan(registry, spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


@pytest.mark.parametrize("name", ["q_tpch_q5", "bsbm_bi4"])
def test_dim_joins_are_broadcast(registry, spark, name):
    # every dimension-side join (nation/region; BSBM product types) must
    # be a broadcast hash join — a shuffled sort-merge join on a dim
    # table wastes a corpus-wide exchange at scale
    plan = _plan(registry, spark, name)
    assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast dim join"


def _scans(df) -> list[str]:
    """The tables the physical plan scans, once per scan."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return sorted(re.findall(r"FileScan parquet .*/(\w+)\.parquet\]", plan))


def test_bsbm_stars_scan_their_source_once_per_slot(registry, spark):
    # explore5's FILTERs split its group into three BGPs, merged into one:
    # the label arms of vendors and persons are pruned, and each of its two
    # product stars folds its two ProductFeature arms into one part scan
    assert _scans(registry["bsbm_explore5"](spark, SF_DIR)) == ["part", "part"]
    # bi4's two sub-selects each read the offers once
    assert _scans(registry["bsbm_bi4"](spark, SF_DIR)).count("lineitem") == 2


def test_kg_mentions_uses_inline_intersect_path(registry, spark):
    # round 7: kg_mentions takes the pipeline's array-intersect fast path
    # (mention_entities) — the bounded alias dict is inlined as a literal,
    # so the plan must have NO per-token posexplode and NO join at all on
    # the mention side (the alias-dict build keeps its aggregates)
    plan = _plan(registry, spark, "kg_mentions")
    assert "posexplode" not in plan, "kg_mentions re-grew the token explode"
    assert "CartesianProduct" not in plan


def test_subject_lookup_filter_pushdown(registry, spark):
    # template inversion must reach the parquet scan as a pushed filter on
    # the raw key column — this is the point-lookup fast path
    plan = _plan(registry, spark, "kg_subject_lookup")
    assert "PushedFilters: [" in plan
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), (
        "kg_subject_lookup no longer pushes its key predicate into the scan"
    )


def test_session_window_is_partitioned(registry, spark):
    # the sessionization window partitions by user — an unpartitioned
    # window funnels the whole corpus through ONE task (Exchange
    # SinglePartition) and cannot scale
    plan = _plan(registry, spark, "q_window_session")
    assert "Window" in plan
    assert "SinglePartition" not in plan, (
        "q_window_session plans an unpartitioned window (single-task funnel)"
    )


def test_tpch_q5_no_shuffle_before_broadcast_dims(registry, spark):
    # plan-shape sanity: q5's big-side scans flow into broadcast joins; the
    # only Exchanges should be the final aggregation's hash exchange(s)
    plan = _plan(registry, spark, "q_tpch_q5")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 4, (
        f"q_tpch_q5 now plans {n_exchanges} hash exchanges — a dim join "
        "probably fell back to sort-merge"
    )


NEW_OPS = ["q_quality_filter", "q_repetition", "q_pii_scrub",
           "q_mixture_sample", "q_chunk_docs"]


@pytest.mark.parametrize("name", NEW_OPS)
def test_per_row_ops_have_no_exchange(registry, spark, name):
    # these curation operators are pure per-row column math (+ explode for
    # chunking): any KEYED exchange in the plan means a shuffle crept into
    # a linear corpus scan.  A round-robin repartition right after the scan
    # (session.widen_scan) is allowed: it carries no key, and it appears
    # only on inputs above the split floor (openCostInBytes) whose footers
    # list fewer row groups than the partition count their bytes call for.
    plan = _plan(registry, spark, name)
    assert "hashpartitioning" not in plan, f"{name} plans a keyed shuffle"
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_grams(registry, spark):
    # the benchmark gram set is eval-suite-sized: it must broadcast; a
    # sort-merge join here would shuffle the whole exploded corpus
    plan = _plan(registry, spark, "q_decontaminate")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_segment_dedup_partial_aggregates(registry, spark):
    # 3-exchange shape is expected (count segments / join back / per-doc
    # agg) but every exchange must be preceded by a partial aggregate and
    # there must be no cartesian
    plan = _plan(registry, spark, "dedup_segments")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final on counts


def test_segment_dedup_count_exchange_carries_hash_not_string(registry, spark):
    # the corpus-wide segment-count exchange must be keyed on
    # xxhash64(segment) (8 bytes/row) — the raw segment string stays on
    # the per-doc side only
    plan = _plan(registry, spark, "dedup_segments")
    assert "xxhash64" in plan
    # every hashpartitioning over the count side keys on _h; no exchange
    # partitions on the raw segment column ("col")
    import re as _re

    keys = _re.findall(r"hashpartitioning\(([^)#]*)#", plan)
    assert any(k.strip() == "_h" for k in keys), keys
    assert not any(k.strip() == "col" for k in keys), keys


def test_lm_score_scoring_side_has_no_shuffle(registry, spark):
    # round 7: scoring is a per-row kernel over the inlined cost table —
    # the returned plan must have NO exchange, NO join, NO explode of the
    # character stream (the former shape was explode + two broadcast
    # joins + a groupBy(doc_id) re-agg)
    plan = _plan(registry, spark, "q_perplexity")
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan


def test_source_cap_windows_are_partitioned(registry, spark):
    # both top-k stages must run partitioned windows (salted then
    # per-source) — a global single-partition Window is the straggler
    # this operator exists to avoid
    plan = _plan(registry, spark, "q_source_cap")
    assert "Window" in plan
    assert "SinglePartition" not in plan, "source_cap window lost its partitioning"


def test_tfidf_keywords_no_cartesian(registry, spark):
    plan = _plan(registry, spark, "q_tfidf_keywords")
    assert "CartesianProduct" not in plan


def test_no_inferred_filter_recompute_under_explode(registry, spark):
    # session.py excludes InferFiltersFromGenerate: with the rule on, a
    # non-outer explode over a computed array gets a size(arr) > 0 filter
    # pushed below its projection, re-evaluating the whole array expression
    # (regex chains, transforms) once more per input row — measured 5x wall
    # on the LM bigram stage. Pin: the optimized LM plan renders the norm
    # regex chain a bounded number of times (train agg + ctx recompute +
    # scoring side), with no extra filter-side copies.
    import contextlib
    import io

    df = registry["q_perplexity"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    opt = plan.split("== Optimized Logical Plan ==")[1]
    for line in opt.splitlines():
        if "Filter" in line and "size(" in line and "regexp_replace" in line:
            raise AssertionError(
                "inferred size-filter recomputes the array chain:\n" + line
            )

"""SPARQL-style property paths: the path AST, compile-time BGP rewriting
and transitive closure.

1. **Compile-time BGP rewriting** (`resolve_paths`) — the same algorithm as
   the reference's ``resolve_paths_in_triples`` (reference:
   rdflib_r2r/sql_converter.py:197-233): SequencePath chains through fresh
   variables, AlternativePath fans out alternative BGPs, InvPath swaps
   subject/object. Pure Python, reusable verbatim at any scale.  The SPARQL
   evaluator (``sparql/evaluator.py``) compiles the rewritten BGPs over
   the mapping, so a sequence is a join on the hop variable and an
   alternative a union.

2. ``transitive_closure`` — the `+`/`*` paths the reference explicitly
   does NOT support ("some day: recursive CTEs", reference: plan.md:22,
   sql_converter.py:229-230) — implemented as a semi-naive frontier loop
   over an edge DataFrame with localCheckpoint lineage truncation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# -- path AST ----------------------------------------------------------------

@dataclass(frozen=True)
class Pred:
    iri: str


@dataclass(frozen=True)
class Seq:
    parts: tuple


@dataclass(frozen=True)
class Alt:
    parts: tuple


@dataclass(frozen=True)
class Inv:
    part: object


@dataclass(frozen=True)
class NegSet:
    """Negated property set ``!(:p1|^:p2|...)`` — SPARQL 1.1 §9.1.

    ``forward`` / ``inverse`` are the IRIs of the non-inverted / ``^``-inverted
    members.  Matches (s,o) linked by ANY predicate not in ``forward``, plus
    (s,o) with (o,p,s) for any p not in ``inverse`` when inverse members are
    present.  Evaluated as the pattern whose predicate is a variable that
    excludes the members (``sparql.bgp.Excluding``)."""
    forward: tuple = ()
    inverse: tuple = ()


# -- compile-time BGP rewriting (reference-equivalent) ------------------------

def resolve_paths(bgp: list[tuple], fresh=None):
    """Yield alternative BGPs with all paths reduced to plain predicates.
    Triples are (s, p, o) where p is a str IRI or a path AST node."""
    if fresh is None:
        counter = [0]

        def fresh():
            counter[0] += 1
            return f"?__v{counter[0]}"

    if not bgp:
        yield []
        return
    (s, p, o), rest = bgp[0], list(bgp[1:])
    p = Pred(p) if isinstance(p, str) else p
    if isinstance(p, Pred):
        for tail in resolve_paths(rest, fresh):
            yield [(s, p.iri, o)] + tail
    elif not isinstance(p, (Seq, Alt, Inv)):
        # atomic non-rewritable predicate (variable, closure, ...): pass
        # through unchanged; the runtime layer evaluates it
        for tail in resolve_paths(rest, fresh):
            yield [(s, p, o)] + tail
    elif isinstance(p, Seq):
        replacement = []
        subj = s
        for part in p.parts[:-1]:
            v = fresh()
            replacement.append((subj, part, v))
            subj = v
        replacement.append((subj, p.parts[-1], o))
        yield from resolve_paths(replacement + rest, fresh)
    elif isinstance(p, Alt):
        for part in p.parts:
            yield from resolve_paths([(s, part, o)] + rest, fresh)
    elif isinstance(p, Inv):
        yield from resolve_paths([(o, p.part, s)] + rest, fresh)
    else:
        raise NotImplementedError(f"unsupported path {p!r}")


# -- transitive closure over an edge DataFrame -------------------------------

def transitive_closure(edges: DataFrame, src: str = "src", dst: str = "dst",
                       max_iter: int = 50) -> DataFrame:
    """All (src, dst) pairs connected by >= 1 directed hop.

    Semi-naive evaluation: each round joins only the NEW pairs discovered
    last round against the edge list and anti-joins them against the
    accumulated reach — per-round shuffle is O(|delta|), not O(|closure|),
    which is what survives a 100x scale-up (the closure relation itself is
    the blow-up; re-distincting all of it every round is the scale-killer).
    Each round localCheckpoints to truncate lineage. The reference has no
    closure support at all ("some day: recursive CTEs", reference:
    plan.md:22, sql_converter.py:229-230).

    Raises ``RuntimeError`` when new pairs still appear in the last round
    ``max_iter`` allows.
    """
    base = edges.select(F.col(src).alias("s"), F.col(dst).alias("o")).distinct()
    base = base.localCheckpoint(eager=True)

    # semi-naive: reach accumulates, frontier = pairs first seen last round
    edge_hop = base.select(F.col("s").alias("_m"), F.col("o").alias("_o"))
    reach = base
    frontier = base
    converged = False
    for _ in range(max_iter):
        extended = (
            frontier.join(edge_hop, frontier["o"] == edge_hop["_m"], "inner")
            .select(frontier["s"].alias("s"), F.col("_o").alias("o"))
            .distinct()
        )
        # anti-join the small delta against reach — shuffles the delta plus
        # one pass over reach's join column, never re-distincts the closure
        new_pairs = extended.join(reach, ["s", "o"], "left_anti").localCheckpoint(eager=True)
        if new_pairs.isEmpty():
            converged = True
            break
        reach = reach.unionByName(new_pairs).localCheckpoint(eager=True)
        frontier = new_pairs
    if not converged:
        # a silently truncated closure is silently WRONG results — fail loudly
        raise RuntimeError(
            f"transitive_closure did not converge within max_iter={max_iter} "
            "rounds (graph diameter exceeds the iteration cap); raise max_iter"
        )
    return reach.select(F.col("s").alias(src), F.col("o").alias(dst))

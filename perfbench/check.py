"""Correctness checks, run after the timed phase.

* KG builds: the written triple table must equal
  ``reference_impl.reference_triples`` on the same input, compared by row
  count plus an order-independent digest (sum of CRC-32 over the
  ``subj \\x1f pred \\x1f obj`` rows; Spark's ``crc32`` is the standard
  CRC-32, the same as ``zlib.crc32``).
* SPARQL responses: compared with the DuckDB oracle's full answer.  Where
  ORDER BY ties fall across the LIMIT, any choice among the tied rows is
  accepted; everything else must match exactly (floats to 9 significant
  digits).
"""

from __future__ import annotations

import math
import zlib
from collections import Counter

SEP = "\x1f"


def triple_digest(triples) -> tuple[int, int]:
    """(count, digest) of an iterable of (subj, pred, obj)."""
    n = total = 0
    for s, p, o in triples:
        n += 1
        total += zlib.crc32(SEP.join((s, p, o)).encode())
    return n, total


def spark_triple_digest(spark, path: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = (
        spark.read.parquet(path)
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.crc32(F.concat_ws(SEP, "subj", "pred", "obj"))).alias("d"))
        .collect()[0]
    )
    return int(row["n"]), int(row["d"] or 0)


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.9g}")
    if hasattr(v, "item"):  # numpy scalars from DuckDB
        return _norm(v.item())
    return v


def norm_rows(rows, cols: list[str]) -> list[tuple]:
    return [tuple(_norm(r[c]) for c in cols) for r in rows]


def response_matches(got: list[tuple], full: list[tuple], cols: list[str],
                     limit: int | None, order_cols: tuple[str, ...]) -> bool:
    """``got``: the SPARQL response rows; ``full``: the oracle's answer in
    ORDER BY order without the LIMIT.  Both already normalized."""
    if limit is None or len(full) <= limit:
        return Counter(got) == Counter(full)
    if len(got) != limit:
        return False
    idx = [cols.index(c) for c in order_cols]

    def key(r):
        return tuple(r[i] for i in idx)

    # order-key sequence must match; rows strictly ahead of the boundary
    # tie group are required, the rest may be any rows of that group
    if [key(r) for r in got] != [key(r) for r in full[:limit]]:
        return False
    boundary = key(full[limit - 1])
    lo = next(i for i, r in enumerate(full) if key(r) == boundary)
    required = Counter(full[:lo])
    pool = Counter(r for r in full[lo:] if key(r) == boundary)
    rest = Counter(got) - required
    return (Counter(got) & required) == required and not (rest - pool) \
        and sum(rest.values()) == limit - lo

"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at a given SF, compare
row count + column names + order-insensitive value hash.

Usage: python scripts/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from rdflib_r2r_spark.session import get_spark  # noqa: E402


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            df[c] = col.round(6)
        df[c] = df[c].map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) or pd.isna(v) else str(v))
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def mismatches(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """How a Spark result differs from its oracle: row count, column
    names, then the order-insensitive value hash."""
    problems = []
    if len(got) != len(want):
        problems.append(f"rows {len(got)} != {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"cols {sorted(got.columns)} != {sorted(want.columns)}")
    elif value_hash(got) != value_hash(want):
        problems.append("value hash mismatch")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_contract")
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__} {str(e)[:200]}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in osql:
            print(f"ok?  {name}: rows={len(got)} (no oracle, rows-only) [{t_spark:.1f}s]")
            if len(got) == 0:
                print(f"WARN {name}: zero rows")
            continue
        t0 = time.time()
        try:
            want = con.execute(osql[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__} {str(e)[:300]}")
            n_fail += 1
            continue
        t_duck = time.time() - t0
        problems = mismatches(got, want)
        if problems:
            n_fail += 1
            print(f"FAIL {name}: {'; '.join(problems)} [spark {t_spark:.1f}s duck {t_duck:.1f}s]")
            if not problems[0].startswith("cols"):
                g = got[sorted(got.columns)].head(3)
                w = want[sorted(want.columns)].head(3)
                print("  got:", g.to_dict("records"))
                print("  want:", w.to_dict("records"))
        else:
            print(f"PASS {name}: rows={len(got)} [spark {t_spark:.1f}s duck {t_duck:.1f}s]")
    print(f"\n{'ALL PASS' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

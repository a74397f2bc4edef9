"""Seeded input generation for the benchmark workloads.

Everything here runs before the set-up clock starts and depends only on the
seed and the scale, so the same seed always gives byte-identical inputs.

* ``documents``: a web-page corpus drawn like the sf0.1 testdata
  ``documents`` table (doc_id, text, lang, source, n_chars), with the
  doc_ids a seeded permutation.
* ``bsbm_tables``: the six TPC-H-ish tables the BSBM mapping reads, with
  the row counts and value domains of the sf0.1 testdata.
* ``bsbm_requests``: the 8 ``bsbm.QUERIES`` shapes with seeded constants,
  each paired with the matching DuckDB oracle SQL.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rdflib_r2r_spark.bsbm import CTRY, INST, ORACLES, QUERIES

# The testdata ``documents`` table (sf0.1: 5,000 docs) is drawn this way:
# 10-100 tokens per page, uniform over a 30-word vocabulary; 5% of the pages
# are a copy of an earlier page with " dup" appended, so MinHash-LSH and
# connected components have near-duplicate clusters to find.
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
NEAR_DUP_SHARE = 0.05
SOURCES = 20


@dataclass(frozen=True)
class Scale:
    docs: int
    parts: int
    suppliers: int
    customers: int
    orders: int  # 4 lineitems per order


SCALES = {
    # the row counts of the sf0.1 testdata tables
    "bench": Scale(docs=5000, parts=20000, suppliers=1000,
                   customers=15000, orders=150000),
    # smoke size for the benchmark's own tests
    "tiny": Scale(docs=120, parts=400, suppliers=40,
                  customers=200, orders=1500),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so adding a draw to one kind
    # never shifts another kind's values
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


# -- documents ------------------------------------------------------------------


def base_texts(seed: int, n: int) -> tuple[list[str], list[str]]:
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            toks = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[j] for j in toks))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)]
    return texts, langs


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents; doc_ids are a seeded permutation."""
    texts, langs = base_texts(seed, n)
    ids = _rng(seed, "doc_ids").permutation(n).astype(np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(out_dir: str, table: pa.Table) -> str:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"),
                   row_group_size=max(1, table.num_rows // 8))
    return out_dir


# -- BSBM tables ----------------------------------------------------------------
# Same columns, row counts and value domains as the sf0.1 testdata tables.

_ADJ = ("small", "red", "blue", "hot", "cold", "large", "green", "old")
_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "valve", "spring", "nut")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EPOCH = np.datetime64("1995-01-01", "D")
_DAYS = int((np.datetime64("2001-08-01", "D") - _EPOCH).astype(np.int64))


def _pick(rng: np.random.Generator, choices: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)], pa.string())


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH + days).astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def bsbm_tables(seed: int, sc: Scale) -> dict[str, pa.Table]:
    rng = _rng(seed, "bsbm_tables")
    P, S, C, O = sc.parts, sc.suppliers, sc.customers, sc.orders
    L = 4 * O
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    names = np.asarray([f"{a} {b}" for a in _ADJ for b in _NOUN])
    part = pa.table({
        "p_partkey": pa.array(np.arange(P), pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), P)], pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, P).astype(str)),
                            pa.string()),
        "p_type": _pick(rng, _PTYPES, P),
        "p_size": pa.array(rng.integers(1, 51, P), pa.int32()),
        "p_retailprice": 900 + (np.arange(P) % 1000) / 10,
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(S), pa.int64()),
        "s_name": _names("Supplier", S),
        "s_nationkey": pa.array(rng.integers(0, 25, S), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, S), 2),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(C), pa.int64()),
        "c_name": _names("Customer", C),
        "c_nationkey": pa.array(rng.integers(0, 25, C), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, C), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, C),
    })
    odays = rng.integers(0, _DAYS + 1, O)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(O), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, C, O), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), O),
        "o_totalprice": np.round(rng.uniform(1000, 500000, O), 2),
        "o_orderdate": _dates(odays),
        "o_orderpriority": _pick(rng, _PRIORITIES, O),
    })
    # lineitems pick their order at random, as in the testdata table
    okeys = rng.integers(0, O, L)
    qty = rng.integers(1, 51, L).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, P, L), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, S, L), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, L), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, L), 2),
        "l_discount": np.round(rng.integers(0, 11, L) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, L) / 100, 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), L),
        "l_linestatus": _pick(rng, ("F", "O"), L),
        "l_shipdate": _dates(odays[okeys] + rng.integers(1, 95, L)),
    })
    return {"nation": nation, "part": part, "supplier": supplier,
            "customer": customer, "orders": orders, "lineitem": lineitem}


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows // 8))
    return out_dir


# -- BSBM requests --------------------------------------------------------------


@dataclass(frozen=True)
class Request:
    shape: str
    sparql: str
    oracle_sql: str  # full answer: the outer LIMIT is stripped
    limit: int | None  # the query's outer LIMIT
    order_cols: tuple[str, ...]  # ORDER BY columns, for tie-aware checks


def _sub(text: str, pairs: list[tuple[str, str]]) -> str:
    for old, new in pairs:
        if old not in text:
            raise ValueError(f"shape constant {old!r} not found")
        text = text.replace(old, new)
    return text


def _month(m: int) -> str:
    return f"{1995 + m // 12:04d}-{m % 12 + 1:02d}-01"


# per shape: (parameter space drawer, substitution builder, ORDER BY columns)
def _shapes(sc: Scale):
    return {
        "bsbm_bi1": (
            lambda r: (int(r.integers(0, 5)), int(r.integers(0, 25))),
            lambda c, n: ([(f"<{CTRY}C2>", f"<{CTRY}C{c}>"), ("NATION_3", f"NATION_{n}")],
                          [("% 5 = 2", f"% 5 = {c}"), ("'NATION_3'", f"'NATION_{n}'")]),
            ("reviewCount", "productType")),
        "bsbm_bi2": (
            lambda r: (int(r.integers(0, sc.parts)),),
            lambda p: ([(f"{INST}Product84>", f"{INST}Product{p}>")],
                       [("p_partkey = 84", f"p_partkey = {p}"), ("<> 84", f"<> {p}")]),
            ("sameFeatures", "otherProduct")),
        "bsbm_bi3": (
            # month windows inside the order-date range (1995-01 .. 2001-07)
            lambda r: (int(r.integers(1, 78)),),
            lambda m: ([("1997-04-01", "{B}"), ("1997-05-01", "{M}"), ("1997-06-01", "{N}"),
                        ("{B}", _month(m - 1)), ("{M}", _month(m)), ("{N}", _month(m + 1))],) * 2,
            ("ratio", "product")),
        "bsbm_bi4": (
            lambda r: (int(r.integers(1, 51)),),
            lambda t: ([("ProductType11>", f"ProductType{t}>")],
                       [("p_size = 11", f"p_size = {t}")]),
            ("priceRatio", "feature")),
        "bsbm_bi5": (
            lambda r: (int(r.integers(1, 51)),),
            lambda t: ([("ProductType21>", f"ProductType{t}>")],
                       [("p_size = 21", f"p_size = {t}")]),
            ()),
        "bsbm_bi7": (
            lambda r: (int(r.integers(1, 51)), int(r.integers(0, 25))),
            lambda t, n: ([("ProductType11>", f"ProductType{t}>"), ("NATION_7", f"NATION_{n}")],
                          [("p_size = 11", f"p_size = {t}"), ("'NATION_7'", f"'NATION_{n}'")]),
            ()),
        "bsbm_explore1": (
            # type > 10 so the numeric filter keeps the type's products
            lambda r: (int(r.integers(11, 51)), int(r.integers(1, 26))),
            lambda t, b: ([("ProductType18>", f"ProductType{t}>"),
                           ("ProductFeature18>", f"ProductFeature{t}>"),
                           ("ProductFeature107>", f"ProductFeature{100 + b}>")],
                          [("p_size = 18", f"p_size = {t}"), ("+ 100 = 107", f"+ 100 = {100 + b}")]),
            ("label",)),
        "bsbm_explore5": (
            lambda r: (int(r.integers(0, sc.parts)),),
            lambda p: ([(f"{INST}Product30>", f"{INST}Product{p}>")],
                       [("p_partkey = 30", f"p_partkey = {p}"), ("<> 30", f"<> {p}")]),
            ("productLabel",)),
    }


_LIMIT_RE = re.compile(r"\s+LIMIT\s+(\d+)\s*$", re.IGNORECASE)


def bsbm_requests(seed: int, sc: Scale, per_shape: int) -> dict[str, list[Request]]:
    """Up to ``per_shape`` requests per shape, each with distinct constants
    (so every request text is new to the store's plan cache)."""
    out: dict[str, list[Request]] = {}
    for shape, (draw, subs, order_cols) in _shapes(sc).items():
        rng = _rng(seed, shape)
        seen: set[tuple] = set()
        reqs: list[Request] = []
        for _ in range(per_shape * 50):
            if len(reqs) == per_shape:
                break
            params = draw(rng)
            if params in seen:
                continue
            seen.add(params)
            qsubs, osubs = subs(*params)
            sparql = _sub(QUERIES[shape], qsubs)
            oracle = _sub(ORACLES[shape].strip(), osubs)
            m = _LIMIT_RE.search(oracle)
            limit = int(m.group(1)) if m else None
            if m:
                oracle = oracle[: m.start()]
            reqs.append(Request(shape, sparql, oracle, limit, order_cols))
        out[shape] = reqs
    return out

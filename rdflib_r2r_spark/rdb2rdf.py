"""W3C RDB2RDF (R2RML) test-suite harness.

Loads the public W3C rdb2rdf test cases (shipped as a zip alongside the
reference's old_tests — the same suite its test_rdb2rdf.py runs), executes
each case's ``create.sql`` in DuckDB, lifts the tables into Spark (Arrow,
null-safe), interprets the case's R2RML document with
:func:`rdflib_r2r_spark.ttl.mapping_from_ttl`, compiles its dump with
:meth:`BGPCompiler.dump`, and compares the emitted quads against the
expected ``mapped*.nq`` under blank-node isomorphism.

Nothing from the suite is vendored into this repo: the zip is located at
test time and the whole module degrades to "suite unavailable" without it.
"""

from __future__ import annotations

import re
import zipfile
from dataclasses import dataclass
from pathlib import Path

DEFAULT_ZIP_LOCATIONS = [
    Path("/root/reference/old_tests/rdb2rdf-ts.zip"),
    Path(__file__).resolve().parents[1] / "rdb2rdf-ts.zip",
]


def find_suite_zip() -> Path | None:
    for p in DEFAULT_ZIP_LOCATIONS:
        if p.exists():
            return p
    return None


@dataclass
class SuiteCase:
    case_id: str  # e.g. 'R2RMLTC0006a'
    directory: str
    create_sql: str
    mapping_ttl: str
    expected_nq: str | None  # None => expected empty output


def load_cases(zip_path: Path) -> list[SuiteCase]:
    out: list[SuiteCase] = []
    with zipfile.ZipFile(zip_path) as zf:
        names = set(zf.namelist())
        dirs = sorted({n.split("/")[1] for n in names
                       if n.startswith("rdb2rdf-ts/D") and n.count("/") >= 2})
        for d in dirs:
            base = f"rdb2rdf-ts/{d}/"
            if base + "create.sql" not in names:
                continue
            create_sql = zf.read(base + "create.sql").decode("utf-8")
            num = d[1:4]  # D006-... -> '006'
            for letter in "abcdefghijklm":
                mname = base + f"r2rml{letter}.ttl"
                if mname not in names:
                    continue
                nqname = base + f"mapped{letter}.nq"
                expected = zf.read(nqname).decode("utf-8") if nqname in names else None
                out.append(
                    SuiteCase(
                        case_id=f"R2RMLTC{int(num):04d}{letter}",
                        directory=d,
                        create_sql=create_sql,
                        mapping_ttl=zf.read(mname).decode("utf-8"),
                        expected_nq=expected,
                    )
                )
    return out


# -- N-Quads parsing ---------------------------------------------------------

_NQ_TERM = re.compile(
    r"""\s*(?:(<[^>]*>)|(_:[^\s]+)|("(?:[^"\\]|\\.)*")(?:@([A-Za-z0-9-]+)|\^\^<([^>]*)>)?)"""
)

_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", '"': '"', "\\": "\\"}


def _unescape_nt(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n in _ESCAPES:
                out.append(_ESCAPES[n])
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


def parse_nq(text: str) -> set[tuple]:
    """-> set of (s, p, o_lex, o_dt, o_lang, g) in the engine's encoding
    (IRIs ``<...>``, bnodes ``_:x``, literal lexical; '' for absent)."""
    quads: set[tuple] = set()
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        assert line.endswith("."), line
        body = line[:-1]
        terms_out = []
        pos = 0
        while pos < len(body.rstrip()):
            m = _NQ_TERM.match(body, pos)
            if not m:
                break
            iri, bnode, lit, lang, dt = m.groups()
            if iri:
                terms_out.append((iri, None, None))
            elif bnode:
                terms_out.append((bnode, None, None))
            else:
                terms_out.append((_unescape_nt(lit[1:-1]), dt, lang))
            pos = m.end()
        if len(terms_out) < 3:
            continue
        s = terms_out[0][0]
        p = terms_out[1][0]
        o_lex, o_dt, o_lang = terms_out[2]
        g = terms_out[3][0] if len(terms_out) > 3 else ""
        quads.add((s, p, o_lex, o_dt or "", o_lang or "", g))
    return quads


# -- case execution ---------------------------------------------------------

def char_widths(create_sql: str) -> dict[tuple[str, str], int]:
    """(table, column) -> declared CHAR(n) width, scanned from DDL.

    SQL CHAR(n) is right-padded to n (W3C TC0018a expects the padded
    lexical); DuckDB normalizes CHAR(n) to VARCHAR and stores values
    unpadded, so the declared widths must come from the DDL text.  Keyed
    (table, column): a column name shared between tables must not inherit
    another table's pad width, and a non-CHAR column with a colliding name
    must not be rpad'ed at all.  The name capture skips optional
    TEMP|TEMPORARY and IF NOT EXISTS, else 'CREATE TABLE IF NOT EXISTS t'
    records table "IF" and t's CHAR columns silently lose their padding.
    """
    char_cols: dict[tuple[str, str], int] = {}
    for block in re.finditer(
        r'(?is)CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+)?TABLE\s+'
        r'(?:IF\s+NOT\s+EXISTS\s+)?(?:"([^"]+)"|(\w+))(.*?)'
        r'(?=CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+)?TABLE'
        r'|INSERT\s+INTO|\Z)',
        create_sql,
    ):
        tname = block.group(1) or block.group(2)
        for m in re.finditer(
            r'"([^"]+)"\s+CHAR(?:ACTER)?\s*\(\s*(\d+)\s*\)', block.group(3), re.I
        ):
            char_cols[(tname, m.group(1))] = int(m.group(2))
    return char_cols


def tables_from_sql(spark, create_sql: str) -> dict:
    """Execute the case's DDL+inserts in DuckDB and lift every table into a
    Spark DataFrame via Arrow (nullable ints stay ints, not floats)."""
    import duckdb

    # dialect shims: DuckDB rejects size modifiers on binary types, and the
    # suite's x'ABCD' hex blob literals need an explicit from_hex
    create_sql = re.sub(r"(?i)\b(BLOB|VARBINARY|BINARY)\s*\(\s*\d+\s*\)", "BLOB", create_sql)
    create_sql = re.sub(r"\b[xX]'([0-9A-Fa-f]*)'", r"from_hex('\1')", create_sql)
    char_cols = char_widths(create_sql)
    con = duckdb.connect()
    con.execute(create_sql)
    tables = {}
    for (name,) in con.execute(
        "SELECT table_name FROM information_schema.tables WHERE table_schema = 'main'"
    ).fetchall():
        cols = [
            r[0] for r in con.execute(
                "SELECT column_name FROM information_schema.columns "
                "WHERE table_name = ? ORDER BY ordinal_position", [name]
            ).fetchall()
        ]
        select = ", ".join(
            f'rpad("{c}", {char_cols[(name, c)]}, \' \') AS "{c}"'
            if (name, c) in char_cols
            else f'"{c}"'
            for c in cols
        )
        arrow = con.execute(f'SELECT {select} FROM "{name}"').arrow()
        tables[name] = spark.createDataFrame(arrow)
    return tables


def run_case(spark, case: SuiteCase) -> tuple[set[tuple], set[tuple]]:
    """-> (produced, expected) quad sets in the common encoding."""
    from rdflib_r2r_spark.compiler import SparkMappingCompiler
    from rdflib_r2r_spark.sparql.bgp import BGPCompiler
    from rdflib_r2r_spark.ttl import mapping_from_ttl

    tables = tables_from_sql(spark, case.create_sql)
    tmaps = mapping_from_ttl(case.mapping_ttl)
    produced: set[tuple] = set()
    if tmaps:
        dump = BGPCompiler(tmaps, SparkMappingCompiler(spark, tables)).dump()
        for row in dump.collect():
            produced.add(
                (
                    row["subj"], row["pred"], row["obj"],
                    row["obj_dt"] or "", row["obj_lang"] or "",
                    row["graph"] or "",
                )
            )
    expected = parse_nq(case.expected_nq) if case.expected_nq else set()
    return produced, expected

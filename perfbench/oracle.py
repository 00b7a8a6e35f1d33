"""Answer checking: canonical row form, order-insensitive hashing, and
the DuckDB oracle that computes expected SPARQL answers from the same
parquet files the engine reads.

Both sides are reduced to the same canonical strings before hashing, so
lexical differences that SPARQL allows (``"7"^^xsd:integer`` against a
DuckDB ``7``; ``1.5E3`` against ``1500.0``) never count as wrong answers,
while any difference in values, row multiplicity or row count does.
"""

from __future__ import annotations

import hashlib
import json
import os

UNBOUND = "UNBOUND"
XSD = "http://www.w3.org/2001/XMLSchema#"
NUMERIC_DT = {XSD + t for t in (
    "integer", "decimal", "double", "float", "long", "int", "short", "byte",
    "nonNegativeInteger", "positiveInteger", "negativeInteger",
    "nonPositiveInteger", "unsignedLong", "unsignedInt")}


def canon_num(x) -> str:
    f = float(x)
    if f.is_integer() and abs(f) < 2 ** 53:
        return f"num:{int(f)}"
    return f"num:{f!r}"


def canon_concat(s: str, sep: str = "|") -> str:
    """GROUP_CONCAT leaves element order to the engine: compare as a
    multiset."""
    return "concat:" + sep.join(sorted(s.split(sep))) if s else "concat:"


def canon_json_term(t: dict | None, kind: str | None = None) -> str:
    """Canonical string of one SPARQL-JSON term."""
    if t is None:
        return UNBOUND
    ty, v = t["type"], t["value"]
    if ty == "uri":
        return f"<{v}>"
    if ty == "bnode":
        return "_:"  # labels are scoped to one result set
    if kind == "concat":
        return canon_concat(v)
    dt = t.get("datatype")
    if dt in NUMERIC_DT:
        return canon_num(v)
    if dt == XSD + "boolean":
        return f"bool:{v.lower()}"
    if "xml:lang" in t:
        return f'"{v}"@{t["xml:lang"].lower()}'
    if dt and dt != XSD + "string":
        return f'"{v}"^^<{dt}>'
    return f'"{v}"'


def canon_value(v, kind: str) -> str:
    """Canonical string of one oracle (Python/DuckDB) value."""
    if v is None:
        return UNBOUND
    if kind == "iri":
        return f"<{v}>"
    if kind == "num":
        return canon_num(v)
    if kind == "concat":
        return canon_concat(v)
    if kind.startswith("lang:"):
        return f'"{v}"@{kind[5:]}'
    return f'"{v}"'


def digest(rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive hash) of canonical rows."""
    h = hashlib.sha256()
    for r in sorted("\x1f".join(r) for r in rows):
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


def json_rows(payload: str, variables: tuple[str, ...],
              kinds: tuple[str, ...] | None = None) -> list[tuple]:
    """Canonical rows of a SPARQL-JSON SELECT (or triples) result."""
    doc = json.loads(payload)
    kinds = kinds or (None,) * len(variables)
    return [tuple(canon_json_term(b.get(v), k) for v, k in zip(variables, kinds))
            for b in doc["results"]["bindings"]]


def json_boolean(payload: str) -> bool:
    return bool(json.loads(payload)["boolean"])


def duckdb_over(parquet_dir: str, tables: list[str]):
    """In-memory DuckDB with one view per parquet table. ``lineitem``
    exposes its physical row index, which the store uses as row IRI."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(parquet_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{path}', file_row_number = true)")
    return con

"""SPARQL query templates of the two SPARQL workloads, each with its
DuckDB twin, and the seeded query streams built from them.

A template is a function ``(rng, sizes) -> Query``: the SPARQL text with
constants drawn from ``rng``, plus the SQL whose answer the engine's must
equal. A stream is a list of rounds; every round holds each template
exactly ``weight`` times in a seeded order, so every complete round has
the same query mix whatever the seed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from datagen import NATIONS, PRIORITIES, REGIONS, SEGMENTS, rng_for
from oracle import canon_value

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def col(t: str, c: str) -> str:
    return f"<urn:col:{t}:{c}>"


def fk(t: str, c: str) -> str:
    return f"<urn:fk:{t}:{c}>"


def row(t: str, k) -> str:
    return f"<urn:t:{t}:{k}>"


PATH = f"({fk('orders', 'o_custkey')}|{fk('customer', 'c_nationkey')}|{fk('nation', 'n_regionkey')})+"


@dataclass
class Query:
    kind: str                      # template name
    text: str
    form: str                      # select | ask | describe
    variables: tuple[str, ...]
    kinds: tuple[str, ...]         # oracle value kind per variable
    sql: str
    post: Callable | None = None   # oracle rows -> canonical rows
    expected: object = field(default=None, compare=False)


def _pick(rng, seq):
    return seq[int(rng.integers(0, len(seq)))]


# -- sparql_interactive: small answers, front end dominates ------------------

def star_topk(rng, n):
    seg, x = _pick(rng, SEGMENTS), int(rng.integers(0, 9000))
    return Query(
        "star_topk",
        f"SELECT ?name ?bal WHERE {{ ?c {col('customer', 'c_name')} ?name ; "
        f"{col('customer', 'c_acctbal')} ?bal ; {col('customer', 'c_mktsegment')} \"{seg}\" . "
        f"FILTER(?bal > {x}) }} ORDER BY DESC(?bal) ?name LIMIT 10",
        "select", ("name", "bal"), ("lit", "num"),
        f"SELECT c_name, c_acctbal FROM customer WHERE c_mktsegment = '{seg}' "
        f"AND c_acctbal > {x} ORDER BY c_acctbal DESC, c_name LIMIT 10")


def bgp_3hop(rng, n):
    reg, x = _pick(rng, REGIONS), int(rng.integers(8000, 9500))
    return Query(
        "bgp_3hop",
        f"SELECT ?name ?nation ?bal WHERE {{ ?c {col('customer', 'c_name')} ?name ; "
        f"{col('customer', 'c_acctbal')} ?bal ; {fk('customer', 'c_nationkey')} ?n . "
        f"?n {col('nation', 'n_name')} ?nation ; {fk('nation', 'n_regionkey')} ?r . "
        f"?r {col('region', 'r_name')} \"{reg}\" . FILTER(?bal > {x}) }}",
        "select", ("name", "nation", "bal"), ("lit", "lit", "num"),
        "SELECT c_name, n_name, c_acctbal FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{reg}' AND c_acctbal > {x}")


def optional(rng, n):
    nat, x = _pick(rng, NATIONS)[0], int(rng.integers(8500, 9900))
    return Query(
        "optional",
        f"SELECT ?sname ?cname WHERE {{ ?s {col('supplier', 's_name')} ?sname ; "
        f"{fk('supplier', 's_nationkey')} ?n . ?n {col('nation', 'n_name')} \"{nat}\" . "
        f"OPTIONAL {{ ?c {fk('customer', 'c_nationkey')} ?n ; {col('customer', 'c_name')} ?cname ; "
        f"{col('customer', 'c_acctbal')} ?b . FILTER(?b > {x}) }} }}",
        "select", ("sname", "cname"), ("lit", "lit"),
        "SELECT s_name, c_name FROM supplier JOIN nation ON s_nationkey = n_nationkey "
        f"LEFT JOIN customer ON c_nationkey = s_nationkey AND c_acctbal > {x} "
        f"WHERE n_name = '{nat}'")


def union(rng, n):
    k = int(rng.integers(0, 25))
    return Query(
        "union",
        f"SELECT ?name WHERE {{ {{ ?x {col('customer', 'c_name')} ?name ; "
        f"{fk('customer', 'c_nationkey')} {row('nation', k)} }} UNION "
        f"{{ ?x {col('supplier', 's_name')} ?name ; {fk('supplier', 's_nationkey')} {row('nation', k)} }} }}",
        "select", ("name",), ("lit",),
        f"SELECT c_name FROM customer WHERE c_nationkey = {k} "
        f"UNION ALL SELECT s_name FROM supplier WHERE s_nationkey = {k}")


def minus(rng, n):
    k = int(rng.integers(0, 25))
    return Query(
        "minus",
        f"SELECT ?name WHERE {{ ?c {col('customer', 'c_name')} ?name ; "
        f"{fk('customer', 'c_nationkey')} {row('nation', k)} . "
        f"MINUS {{ ?o {fk('orders', 'o_custkey')} ?c }} }}",
        "select", ("name",), ("lit",),
        f"SELECT c_name FROM customer WHERE c_nationkey = {k} AND NOT EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)")


def not_exists(rng, n):
    seg, x = _pick(rng, SEGMENTS), int(rng.integers(9700, 9990))
    return Query(
        "not_exists",
        f"SELECT ?sname WHERE {{ ?s {col('supplier', 's_name')} ?sname ; "
        f"{fk('supplier', 's_nationkey')} ?n . FILTER NOT EXISTS {{ "
        f"?c {fk('customer', 'c_nationkey')} ?n ; {col('customer', 'c_mktsegment')} \"{seg}\" ; "
        f"{col('customer', 'c_acctbal')} ?b . FILTER(?b > {x}) }} }}",
        "select", ("sname",), ("lit",),
        "SELECT s_name FROM supplier WHERE NOT EXISTS (SELECT 1 FROM customer "
        f"WHERE c_nationkey = s_nationkey AND c_mktsegment = '{seg}' AND c_acctbal > {x})")


def values_join(rng, n):
    keys = sorted({int(k) for k in rng.integers(1, n["customer"] + 1, 6)})
    vals = " ".join(row("customer", k) for k in keys)
    return Query(
        "values_join",
        f"SELECT ?c ?name ?bal WHERE {{ VALUES ?c {{ {vals} }} "
        f"?c {col('customer', 'c_name')} ?name ; {col('customer', 'c_acctbal')} ?bal }}",
        "select", ("c", "name", "bal"), ("iri", "lit", "num"),
        "SELECT 'urn:t:customer:' || c_custkey, c_name, c_acctbal FROM customer "
        f"WHERE c_custkey IN ({', '.join(map(str, keys))})")


def group_by(rng, n):
    k = int(rng.integers(0, 25))
    return Query(
        "group_by",
        f"SELECT ?seg (COUNT(?c) AS ?n) (SUM(?bal) AS ?total) WHERE {{ "
        f"?c {col('customer', 'c_mktsegment')} ?seg ; {fk('customer', 'c_nationkey')} {row('nation', k)} ; "
        f"{col('customer', 'c_acctbal')} ?bal }} GROUP BY ?seg",
        "select", ("seg", "n", "total"), ("lit", "num", "num"),
        "SELECT c_mktsegment, count(*), sum(c_acctbal) FROM customer "
        f"WHERE c_nationkey = {k} GROUP BY c_mktsegment")


def path_bound(rng, n):
    k = int(rng.integers(1, n["orders"] + 1))
    return Query(
        "path_bound",
        f"SELECT ?dst WHERE {{ {row('orders', k)} {PATH} ?dst }}",
        "select", ("dst",), ("iri",),
        "SELECT 'urn:t:customer:' || c_custkey FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE o_orderkey = {k} UNION ALL SELECT 'urn:t:nation:' || c_nationkey FROM orders "
        f"JOIN customer ON o_custkey = c_custkey WHERE o_orderkey = {k} "
        "UNION ALL SELECT 'urn:t:region:' || n_regionkey FROM orders JOIN customer "
        f"ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE o_orderkey = {k}")


def ask(rng, n):
    k, x = int(rng.integers(1, n["customer"] + 1)), int(rng.integers(-999, 9999))
    name = f"Customer#{k:09d}"
    return Query(
        "ask",
        f"ASK {{ ?c {col('customer', 'c_name')} \"{name}\" ; "
        f"{col('customer', 'c_acctbal')} ?b . FILTER(?b > {x}) }}",
        "ask", (), (),
        f"SELECT count(*) > 0 FROM customer WHERE c_name = '{name}' AND c_acctbal > {x}")


def _describe_customer(rows):
    out = []
    for ck, name, nk, bal, seg in rows:
        s = f"<urn:t:customer:{ck}>"
        out += [(s, f"<{RDF_TYPE}>", "<urn:class:customer>"),
                (s, col("customer", "c_custkey"), canon_value(ck, "num")),
                (s, col("customer", "c_name"), canon_value(name, "lit")),
                (s, col("customer", "c_nationkey"), canon_value(nk, "num")),
                (s, col("customer", "c_acctbal"), canon_value(bal, "num")),
                (s, col("customer", "c_mktsegment"), canon_value(seg, "lit")),
                (s, fk("customer", "c_nationkey"), f"<urn:t:nation:{nk}>")]
    return out


def describe(rng, n):
    k = int(rng.integers(1, n["customer"] + 1))
    return Query(
        "describe", f"DESCRIBE {row('customer', k)}",
        "describe", ("s", "p", "o"), (),
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM customer WHERE c_custkey = {k}", post=_describe_customer)


# (template, copies per round): 17 queries a round. The weights put the
# median inside one template's block of latencies (bgp_3hop, 4 a round)
# and the 90th percentile inside another (path_bound, 3 a round), rather
# than on the edge between two templates, where a percentile jumps.
INTERACTIVE = [
    (star_topk, 2), (bgp_3hop, 4), (optional, 1), (union, 1), (minus, 1),
    (not_exists, 1), (values_join, 1), (group_by, 1), (path_bound, 3),
    (ask, 1), (describe, 1),
]


# -- sparql_analytic: large intermediate results, execution dominates --------

def bgp_3hop_all(rng, n):
    seg = _pick(rng, SEGMENTS)
    return Query(
        "bgp_3hop_all",
        f"SELECT ?name ?nation ?region WHERE {{ ?c {col('customer', 'c_name')} ?name ; "
        f"{col('customer', 'c_mktsegment')} \"{seg}\" ; {fk('customer', 'c_nationkey')} ?n . "
        f"?n {col('nation', 'n_name')} ?nation ; {fk('nation', 'n_regionkey')} ?r . "
        f"?r {col('region', 'r_name')} ?region }}",
        "select", ("name", "nation", "region"), ("lit", "lit", "lit"),
        "SELECT c_name, n_name, r_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
        f"JOIN region ON n_regionkey = r_regionkey WHERE c_mktsegment = '{seg}'")


def lineitem_agg(rng, n):
    qty = int(rng.integers(45, 51))  # 90-100% of the rows: similar work per seed
    return Query(
        "lineitem_agg",
        f"SELECT ?flag ?status (COUNT(?l) AS ?n) (SUM(?q) AS ?sq) (SUM(?p) AS ?sp) "
        f"(MAX(?p) AS ?mp) WHERE {{ ?l {col('lineitem', 'l_returnflag')} ?flag ; "
        f"{col('lineitem', 'l_linestatus')} ?status ; {col('lineitem', 'l_quantity')} ?q ; "
        f"{col('lineitem', 'l_extendedprice')} ?p . FILTER(?q <= {qty}) }} GROUP BY ?flag ?status",
        "select", ("flag", "status", "n", "sq", "sp", "mp"),
        ("lit", "lit", "num", "num", "num", "num"),
        "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), sum(l_extendedprice), "
        f"max(l_extendedprice) FROM lineitem WHERE l_quantity <= {qty} "
        "GROUP BY l_returnflag, l_linestatus")


def path_closure(rng, n):
    prio = _pick(rng, PRIORITIES)
    src = ("FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON "
           f"c_nationkey = n_nationkey WHERE o_orderpriority = '{prio}'")
    return Query(
        "path_closure",
        f"SELECT ?dst (COUNT(?src) AS ?n) WHERE {{ ?src {col('orders', 'o_orderpriority')} "
        f"\"{prio}\" . ?src {PATH} ?dst }} GROUP BY ?dst",
        "select", ("dst", "n"), ("iri", "num"),
        f"SELECT 'urn:t:customer:' || c_custkey, count(*) {src} GROUP BY c_custkey "
        f"UNION ALL SELECT 'urn:t:nation:' || c_nationkey, count(*) {src} GROUP BY c_nationkey "
        f"UNION ALL SELECT 'urn:t:region:' || n_regionkey, count(*) {src} GROUP BY n_regionkey")


def group_concat(rng, n):
    seg = _pick(rng, SEGMENTS)
    return Query(
        "group_concat",
        f"SELECT ?nation (GROUP_CONCAT(?name; separator=\"|\") AS ?names) (COUNT(?c) AS ?n) "
        f"WHERE {{ ?c {col('customer', 'c_name')} ?name ; {col('customer', 'c_mktsegment')} "
        f"\"{seg}\" ; {fk('customer', 'c_nationkey')} ?nk . ?nk {col('nation', 'n_name')} ?nation }} "
        "GROUP BY ?nation",
        "select", ("nation", "names", "n"), ("lit", "concat", "num"),
        "SELECT n_name, string_agg(c_name, '|'), count(*) FROM customer JOIN nation "
        f"ON c_nationkey = n_nationkey WHERE c_mktsegment = '{seg}' GROUP BY n_name")


def value_range(rng, n):
    # ~2000 orders: totalprice is uniform on [1000, 400000]
    width = 399_000.0 * 2000 / max(n["orders"], 2000)
    lo = float(np.round(rng.uniform(1000.0, 400_000.0 - width)))
    hi = lo + round(width)
    return Query(
        "value_range",
        f"SELECT ?o ?price WHERE {{ ?o {col('orders', 'o_totalprice')} ?price . "
        f"FILTER(?price >= {lo} && ?price < {hi}) }} ORDER BY ?price ?o",
        "select", ("o", "price"), ("iri", "num"),
        "SELECT 'urn:t:orders:' || o_orderkey, o_totalprice FROM orders "
        f"WHERE o_totalprice >= {lo} AND o_totalprice < {hi}")


ANALYTIC = [(bgp_3hop_all, 1), (lineitem_agg, 1), (path_closure, 1),
            (group_concat, 1), (value_range, 1)]
ANALYTIC_TABLES = ["region", "nation", "customer", "orders", "lineitem"]


def stream(templates, seed: int, sizes: dict, rounds: int, name: str) -> list[list[Query]]:
    """``rounds`` rounds of queries; round r is a seeded permutation of
    the template multiset."""
    rng = rng_for(seed, name)
    out = []
    for _ in range(rounds):
        rnd = [t(rng, sizes) for t, w in templates for _ in range(w)]
        order = rng.permutation(len(rnd))
        out.append([rnd[i] for i in order])
    return out


def expect(con, q: Query):
    """Expected answer of ``q`` from DuckDB: a bool for ASK, else the
    (row count, hash) digest of canonical rows."""
    from oracle import digest

    rows = con.execute(q.sql).fetchall()
    if q.form == "ask":
        return bool(rows[0][0])
    if q.post is not None:
        return digest(q.post(rows))
    return digest([tuple(canon_value(v, k) for v, k in zip(r, q.kinds)) for r in rows])

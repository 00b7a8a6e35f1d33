"""``graph_update``: SPARQL Update beside reads on one graph store.

The run loads a generated N-Quads file (~450k quads: typed and
language-tagged literals, blank nodes, four named graphs) with
``sources.load_rdf`` into an ``update.GraphStore``, then runs
rounds of 3 updates (INSERT DATA, DELETE DATA, DELETE/INSERT WHERE) and
8 reads (4 subject lookups, 3 grouped counts, a reverse join) through
the same parser and compiler. The weights put the median inside the
block of grouped counts and the 90th percentile among the updates. Every read is checked
against the benchmark's own model of the store's state, so a lost or
misapplied write is a wrong answer (read-your-writes). Half of the
subject lookups target entities that earlier updates touched.

Today each update rewrites the whole store; a delta-store change would
show in ``update_p50_ms`` here, and its cost to reads in ``query_p50_ms``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np

import datagen
import measure
import oracle
from datagen import GRAPH_LANGS, GRAPH_P, XSD_INTEGER

N_ENTITIES = 100_000
PREPARED_ROUNDS = 17
UPDATES = ("insert_data", "delete_data", "modify")


@dataclass
class GOp:
    kind: str
    text: str
    entity: int = 0
    arg: int = 0


def ent(i: int) -> str:
    return f"urn:bench:e{i}"


class GraphModel:
    """The store's expected state: generated base plus every update."""

    def __init__(self, base: datagen.GraphBase):
        self.base = base
        self.age = base.age.copy()
        self.touched: dict[int, set] = {}

    def quads_of(self, i: int) -> set:
        """{(p, o, g)} canonical terms of the quads with subject e_i."""
        if i in self.touched:
            return self.touched[i]
        b, g = self.base, f"<{self.base.graph_iri(i)}>"
        out = {(f"<{GRAPH_P}name>", oracle.canon_value(f"Name {i}", "lit"), g),
               (f"<{GRAPH_P}age>", oracle.canon_num(b.age[i]), g),
               (f"<{GRAPH_P}label>", oracle.canon_value(
                   f"w{b.label[i]}", "lang:" + GRAPH_LANGS[b.lang[i]]), g),
               (f"<{GRAPH_P}knows>", f"<{ent(b.knows[i])}>", g)}
        if b.has_addr[i]:
            out.add((f"<{GRAPH_P}addr>", "_:", g))
        return out

    def apply(self, op: GOp) -> int:
        """Apply an update; returns the number of quads it changed."""
        q = set(self.quads_of(op.entity))
        g = f"<{self.base.graph_iri(op.entity)}>"
        before = set(q)
        if op.kind == "insert_data":
            q.add((f"<{GRAPH_P}tag>", oracle.canon_value(f"t{op.arg}", "lit"), g))
        elif op.kind == "delete_data":
            b = self.base
            q.discard((f"<{GRAPH_P}label>", oracle.canon_value(
                f"w{b.label[op.entity]}", "lang:" + GRAPH_LANGS[b.lang[op.entity]]), g))
        else:  # modify: every age quad of the entity gets the new value
            ages = {t for t in q if t[0] == f"<{GRAPH_P}age>"}
            q -= ages
            q |= {(p, oracle.canon_num(op.arg), gg) for p, _, gg in ages}
            if ages:
                self.age[op.entity] = op.arg
        self.touched[op.entity] = q
        return len(q ^ before)

    def expected(self, op: GOp):
        b = self.base
        if op.kind == "lookup":
            return oracle.digest(list(self.quads_of(op.entity)))
        if op.kind == "reverse":   # knows and names are never updated
            xs = np.flatnonzero(b.knows == op.entity)
            return oracle.digest([(f"<{ent(x)}>", oracle.canon_value(f"Name {x}", "lit"))
                                  for x in xs.tolist()])
        counts = np.bincount(b.graph[self.age > op.arg], minlength=4)
        return oracle.digest([(f"<urn:bench:g{g}>", oracle.canon_num(int(c)))
                              for g, c in enumerate(counts.tolist()) if c])


def lookup(i: int) -> GOp:
    return GOp("lookup", f"SELECT ?p ?o ?g WHERE {{ GRAPH ?g {{ <{ent(i)}> ?p ?o }} }}", i)


def reverse(i: int) -> GOp:
    return GOp("reverse", f"SELECT ?x ?n WHERE {{ GRAPH ?g {{ ?x <{GRAPH_P}knows> "
                          f"<{ent(i)}> . ?x <{GRAPH_P}name> ?n }} }}", i)


def count(a: int) -> GOp:
    return GOp("count", f"SELECT ?g (COUNT(?s) AS ?n) WHERE {{ GRAPH ?g {{ ?s "
                        f"<{GRAPH_P}age> ?a . FILTER(?a > {a}) }} }} GROUP BY ?g", 0, a)


def _ops(base: datagen.GraphBase, seed: int, rounds: int) -> list[list[GOp]]:
    rng = datagen.rng_for(seed, "gupdate")
    touched: list[int] = []
    out = []
    for r in range(rounds):
        rnd = []
        for kind in UPDATES:
            i = int(rng.integers(0, base.n))
            touched.append(i)
            g = f"<{base.graph_iri(i)}>"
            if kind == "insert_data":
                text = f'INSERT DATA {{ GRAPH {g} {{ <{ent(i)}> <{GRAPH_P}tag> "t{r}" }} }}'
                arg = r
            elif kind == "delete_data":
                lab = f'"w{base.label[i]}"@{GRAPH_LANGS[base.lang[i]]}'
                text = f"DELETE DATA {{ GRAPH {g} {{ <{ent(i)}> <{GRAPH_P}label> {lab} }} }}"
                arg = 0
            else:
                arg = int(rng.integers(100, 200))
                pat = f"<{ent(i)}> <{GRAPH_P}age> ?a"
                text = (f"DELETE {{ GRAPH ?g {{ {pat} }} }} INSERT {{ GRAPH ?g {{ <{ent(i)}> "
                        f"<{GRAPH_P}age> \"{arg}\"^^<{XSD_INTEGER}> }} }} WHERE {{ GRAPH ?g {{ {pat} }} }}")
            rnd.append(GOp(kind, text, i, arg))
        for _ in range(4):
            if touched and rng.random() < 0.5:
                i = touched[int(rng.integers(0, len(touched)))]
            else:
                i = int(rng.integers(0, base.n))
            rnd.append(lookup(i))
        rnd.append(reverse(int(rng.integers(0, base.n))))
        rnd.extend(count(int(a)) for a in rng.integers(50, 150, 3))
        out.append([rnd[k] for k in rng.permutation(len(rnd))])
    return out


class GraphUpdateWorkload:
    name = "graph_update"
    warmup_rounds = 1   # updates as well as reads; the model follows them

    def generate(self, ctx) -> None:
        self.base = datagen.GraphBase(ctx.seed, N_ENTITIES)
        self.path = os.path.join(ctx.work, "graph.nq")
        self.n_quads = self.base.write_nquads(self.path)
        self.rounds = _ops(self.base, ctx.seed, PREPARED_ROUNDS)

    def setup(self, ctx, spark) -> None:
        from kineo_spark.sources import load_rdf
        from kineo_spark.update import GraphStore

        t0 = time.perf_counter()
        with ctx.tracer.span("sources.load", quads=self.n_quads):
            quads = load_rdf(spark, self.path).localCheckpoint(eager=True)
        self.load_s = time.perf_counter() - t0
        self.gs = GraphStore(spark, quads)
        self.model = GraphModel(self.base)

    def run_op(self, ctx, op: GOp):
        from kineo_spark.engine import Engine

        tr = ctx.tracer
        if op.kind in UPDATES:
            with tr.span("op", kind=op.kind) as sp:
                t0 = time.perf_counter()
                self.gs.update(op.text)
                dt = time.perf_counter() - t0
            changed = self.model.apply(op)
            if sp is not None:
                sp.attrs.update(quads_changed=changed, ok=True)
            return op.kind, dt, True
        with tr.span("op", kind=op.kind) as sp:
            t0 = time.perf_counter()
            res = self.gs.query(op.text)
            out = Engine(self.gs.store()).serialize(res)
            dt = time.perf_counter() - t0
        variables = ("p", "o", "g") if op.kind == "lookup" else (
            ("x", "n") if op.kind == "reverse" else ("g", "n"))
        got = oracle.digest(oracle.json_rows(out, variables))
        ok = got == self.model.expected(op)
        if sp is not None:
            sp.attrs.update(result_rows=got[0], bytes_out=len(out), ok=ok)
        return op.kind, dt, ok

    def summary(self, log) -> dict:
        q = log.latencies({"lookup", "reverse", "count"})
        u = log.latencies(set(UPDATES))
        return {"query_p50_ms": (measure.percentile(q, 50) * 1e3, "ms"),
                "query_p90_ms": (measure.percentile(q, 90) * 1e3, "ms"),
                "update_p50_ms": (measure.percentile(u, 50) * 1e3, "ms"),
                "update_p90_ms": (measure.percentile(u, 90) * 1e3, "ms"),
                "ingest_quads_per_s": (self.n_quads / self.load_s, "1/s")}

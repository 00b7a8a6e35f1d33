"""Differential fuzz for property paths: seeded random graphs and
random path expressions, engine (term and ID mode) vs an independent
Python implementation of SPARQL 1.1 §18.4 semantics — bag composition
for sequence/alternation, ALP set semantics for +/*/?, per-named-graph
evaluation under GRAPH ?g. The Python evaluator is written from the
spec, not from paths.py, so agreement is evidence, not tautology.

Every case runs twice: with the default driver-local closure budget
(at this scale the numpy mirror always fires) and with
``spark.kineo.path.localClosureBytes=0``, which forces the distributed
semi-naive → doubling fixpoint."""

import random
from collections import Counter

import pytest

from kineo_spark import algebra as A
from kineo_spark.compiler import Compiler
from kineo_spark.model import iri
from kineo_spark.store import QuadsDataFrameStore

EX = "http://example.org/"
PREDS = [EX + "p", EX + "q"]
NODES = [EX + f"n{i}" for i in range(6)]


# --- independent reference evaluator (spec, §18.4) -------------------------

def _edges(quads, g, pred):
    return {(s, o) for s, p, o, gg in quads if gg == g and p == pred}


def _support(c: Counter):
    return set(c)


def _closure(pairs):
    """Transitive closure of a pair SET (ALP: card 1 per distinct pair)."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    out = set()
    for start in {a for a, _ in pairs}:
        seen, stack = set(), [start]
        while stack:
            cur = stack.pop()
            for nxt in adj.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        out |= {(start, n) for n in seen}
    return out


def _graph_nodes(quads, g):
    ns = set()
    for s, p, o, gg in quads:
        if gg == g:
            ns.add(s)
            ns.add(o)
    return ns


def ref_eval(path, quads, g) -> Counter:
    """Counter of (s, o) solution pairs for ?s path ?o within graph g."""
    if isinstance(path, A.PLink):
        return Counter(_edges(quads, g, path.iri.lex))
    if isinstance(path, A.PInv):
        inner = ref_eval(path.path, quads, g)
        return Counter({(b, a): n for (a, b), n in inner.items()})
    if isinstance(path, A.PSeq):
        l = ref_eval(path.lhs, quads, g)
        r = ref_eval(path.rhs, quads, g)
        out = Counter()
        for (a, b), n1 in l.items():
            for (b2, c), n2 in r.items():
                if b == b2:
                    out[(a, c)] += n1 * n2
        return out
    if isinstance(path, A.PAlt):
        return ref_eval(path.lhs, quads, g) + ref_eval(path.rhs, quads, g)
    if isinstance(path, A.PNps):
        excl = {t.lex for t in path.iris}
        out = Counter()
        for s, p, o, gg in quads:
            if gg == g and p not in excl:
                out[(s, o)] += 1
        return out
    if isinstance(path, A.PPlus):
        return Counter(_closure(_support(ref_eval(path.path, quads, g))))
    if isinstance(path, A.PStar):
        pairs = _closure(_support(ref_eval(path.path, quads, g)))
        pairs |= {(n, n) for n in _graph_nodes(quads, g)}
        return Counter(pairs)
    if isinstance(path, A.PZeroOrOne):
        pairs = _support(ref_eval(path.path, quads, g))
        pairs |= {(n, n) for n in _graph_nodes(quads, g)}
        return Counter(pairs)
    raise NotImplementedError(type(path).__name__)


# --- random generators ------------------------------------------------------

def rand_path(rng: random.Random, depth: int) -> A.Path:
    ops = ["link", "link", "inv", "seq", "alt", "nps", "plus", "star", "opt"]
    op = rng.choice(ops if depth > 0 else ["link", "link", "nps"])
    if op == "link":
        return A.PLink(iri(rng.choice(PREDS)))
    if op == "nps":
        return A.PNps((iri(rng.choice(PREDS)),))
    if op == "inv":
        return A.PInv(rand_path(rng, depth - 1))
    if op == "seq":
        return A.PSeq(rand_path(rng, depth - 1), rand_path(rng, depth - 1))
    if op == "alt":
        return A.PAlt(rand_path(rng, depth - 1), rand_path(rng, depth - 1))
    if op == "plus":
        return A.PPlus(rand_path(rng, depth - 1))
    if op == "star":
        return A.PStar(rand_path(rng, depth - 1))
    return A.PZeroOrOne(rand_path(rng, depth - 1))


def rand_quads(rng: random.Random):
    quads = set()
    for _ in range(rng.randint(6, 12)):
        quads.add((rng.choice(NODES), rng.choice(PREDS), rng.choice(NODES),
                   rng.choice(["urn:g:g1", "urn:g:g2"])))
    return sorted(quads)


def _short(x: str) -> str:
    return x.rsplit("/", 1)[-1].rsplit(":", 1)[-1]


LOCAL_CLOSURE = "spark.kineo.path.localClosureBytes"


@pytest.fixture(params=[None, "0"], ids=["local_default", "local_off"])
def local_closure(request, spark):
    """Set the local-closure byte budget for one test (None = unset),
    restoring the session's previous value afterwards."""
    old = spark.conf.get(LOCAL_CLOSURE, None)
    try:
        if request.param is None:
            spark.conf.unset(LOCAL_CLOSURE)
        else:
            spark.conf.set(LOCAL_CLOSURE, request.param)
        yield request.param
    finally:
        if old is None:
            spark.conf.unset(LOCAL_CLOSURE)
        else:
            spark.conf.set(LOCAL_CLOSURE, old)


@pytest.mark.parametrize("seed", range(12))
def test_path_differential_graph_scoped(spark, local_closure, seed):
    rng = random.Random(1000 + seed)
    quads = rand_quads(rng)
    path = rand_path(rng, 2)
    store = QuadsDataFrameStore.from_rows(
        spark, [(0, s, p, 0, o, None, None, None, g) for s, p, o, g in quads])

    # engine: GRAPH ?g { ?x path ?y }
    alg = A.NamedGraph(A.Var("g"), A.PathPattern(A.Var("x"), path, A.Var("y")))
    df = Compiler(store).compile(alg).df
    got = Counter(
        (r["g"]["lex"], _short(r["x"]["lex"]), _short(r["y"]["lex"]))
        for r in df.collect())

    want = Counter()
    for g in ("urn:g:g1", "urn:g:g2"):
        for (s, o), n in ref_eval(path, quads, g).items():
            want[(g, _short(s), _short(o))] += n

    assert got == want, (
        f"seed {seed}: path {path}\nquads {quads}\n"
        f"extra={got - want}\nmissing={want - got}")


@pytest.mark.parametrize("seed,kb", [(s, kb) for s in range(5)
                                     for kb in (64, 128)])
def test_path_differential_id_modes(spark, local_closure, seed, kb):
    """The same spec-reference differential through the ID-mode path
    evaluator (scoped {g, n} id-struct closure) at both key widths."""
    from kineo_spark.dictionary import id_compiler

    rng = random.Random(1000 + seed)  # same graphs/paths as term seeds
    quads = rand_quads(rng)
    path = rand_path(rng, 2)
    store = QuadsDataFrameStore.from_rows(
        spark, [(0, s, p, 0, o, None, None, None, g) for s, p, o, g in quads])

    alg = A.NamedGraph(A.Var("g"), A.PathPattern(A.Var("x"), path, A.Var("y")))
    q = A.SelectQuery(alg, ("g", "x", "y"))
    from kineo_spark.forms import select
    comp = id_compiler(store, key_bits=kb)
    comp.prepare(q)
    df = select(comp, q)
    got = Counter(
        (r["g"]["lex"], _short(r["x"]["lex"]), _short(r["y"]["lex"]))
        for r in df.collect())

    want = Counter()
    for g in ("urn:g:g1", "urn:g:g2"):
        for (s, o), n in ref_eval(path, quads, g).items():
            want[(g, _short(s), _short(o))] += n
    assert got == want, (
        f"seed {seed} kb {kb}: path {path}\nquads {quads}\n"
        f"extra={got - want}\nmissing={want - got}")

"""Property-path tests over the FIXTURES.md §6 shape: a :knows chain
a→b→c→d→e, a cycle x→y→z→x, and a disconnected node — exercising
closure convergence on cycles (reference alp seen-set,
MaterializedQueryPlan.swift:1707-1722)."""

import pytest

from kineo_spark import algebra as A
from kineo_spark.compiler import Compiler
from kineo_spark.model import iri
from kineo_spark.store import QuadsDataFrameStore

EX = "http://example.org/"
KNOWS = EX + "knows"
LIKES = EX + "likes"
G = "urn:g:default"


@pytest.fixture(scope="module")
def path_store(spark):
    def q(s, p, o):
        return (0, EX + s, p, 0, EX + o, None, None, None, G)

    rows = [
        q("a", KNOWS, "b"), q("b", KNOWS, "c"), q("c", KNOWS, "d"), q("d", KNOWS, "e"),
        q("x", KNOWS, "y"), q("y", KNOWS, "z"), q("z", KNOWS, "x"),
        q("a", LIKES, "z"),
        q("lonely", LIKES, "lonely"),
    ]
    return QuadsDataFrameStore.from_rows(spark, rows)


@pytest.fixture(params=["term", "id"])
def comp(request, path_store):
    """Both compilers run the one path evaluator — term mode
    materializes every endpoint, ID mode hashes the same scans."""
    if request.param == "id":
        from kineo_spark.dictionary import id_compiler
        return id_compiler(path_store)
    return Compiler(path_store)


def _pairs(comp, path, s="s", o="o"):
    alg = A.PathPattern(A.Var(s), path, A.Var(o))
    df = comp.compile(alg).df
    return {(r[s]["lex"].split("/")[-1], r[o]["lex"].split("/")[-1]) for r in df.collect()}


def test_plus_chain_and_cycle(comp):
    got = _pairs(comp, A.PPlus(A.PLink(iri(KNOWS))))
    # chain closure
    assert ("a", "e") in got and ("a", "b") in got and ("b", "e") in got
    # cycle: every node reaches every node incl. itself
    for u in "xyz":
        for w in "xyz":
            assert (u, w) in got
    # no cross-component leakage
    assert ("a", "x") not in got
    assert len(got) == 10 + 9  # chain C(5,2)=10 pairs + cycle 3*3


def test_star_includes_zero_length(comp):
    got = _pairs(comp, A.PStar(A.PLink(iri(KNOWS))))
    assert ("e", "e") in got          # zero-length on a node with no out-edge
    assert ("lonely", "lonely") in got  # node only present via other predicate
    assert ("a", "e") in got


def test_zero_or_one(comp):
    got = _pairs(comp, A.PZeroOrOne(A.PLink(iri(KNOWS))))
    assert ("a", "b") in got and ("a", "a") in got
    assert ("a", "c") not in got


def test_inverse_and_seq(comp):
    got = _pairs(comp, A.PInv(A.PLink(iri(KNOWS))))
    assert ("b", "a") in got and ("a", "b") not in got
    got = _pairs(comp, A.PSeq(A.PLink(iri(KNOWS)), A.PLink(iri(KNOWS))))
    assert ("a", "c") in got and ("a", "b") not in got


def test_alt_and_nps(comp):
    got = _pairs(comp, A.PAlt(A.PLink(iri(KNOWS)), A.PLink(iri(LIKES))))
    assert ("a", "z") in got and ("a", "b") in got
    got = _pairs(comp, A.PNps((iri(KNOWS),)))
    assert got == {("a", "z"), ("lonely", "lonely")}


def test_bound_endpoint_plus(comp):
    alg = A.PathPattern(iri(EX + "a"), A.PPlus(A.PLink(iri(KNOWS))), A.Var("o"))
    df = comp.compile(alg).df
    got = {r["o"]["lex"].split("/")[-1] for r in df.collect()}
    assert got == {"b", "c", "d", "e"}


# --- doubling closure (recursive squaring, O(log d) rounds) -----------------

def test_doubling_matches_seminaive(path_store):
    # same result set on chain + cycle + mixed components
    sem = _pairs(Compiler(path_store), A.PPlus(A.PLink(iri(KNOWS))))
    dbl = _pairs(Compiler(path_store, path_strategy="doubling"),
                 A.PPlus(A.PLink(iri(KNOWS))))
    assert dbl == sem
    sem_star = _pairs(Compiler(path_store), A.PStar(A.PLink(iri(KNOWS))))
    dbl_star = _pairs(Compiler(path_store, path_strategy="doubling"),
                      A.PStar(A.PLink(iri(KNOWS))))
    assert dbl_star == sem_star


def test_doubling_converges_on_long_chain(spark):
    # a 200-edge chain exceeds the default 64-round budget for one-hop
    # growth; doubling covers length ≤ 2^k after k rounds, so it
    # converges in ~8 — the high-diameter case the strategy exists for
    n = 200
    rows = [
        (0, f"{EX}n{i}", KNOWS, 0, f"{EX}n{i+1}", None, None, None, G)
        for i in range(n)
    ]
    store = QuadsDataFrameStore.from_rows(spark, rows)
    comp = Compiler(store, path_strategy="doubling")
    alg = A.PathPattern(A.Var("s"), A.PPlus(A.PLink(iri(KNOWS))), A.Var("o"))
    assert comp.compile(alg).df.count() == n * (n + 1) // 2

    # semi-naive needs d rounds and must refuse (not silently truncate)
    with pytest.raises(RuntimeError, match="did not converge"):
        Compiler(store, max_path_iterations=32,
                 path_strategy="seminaive").compile(alg).df.count()

    # the default (auto) detects the chain tail and switches to
    # doubling, converging well inside the same 32-round budget where
    # pure semi-naive refused (r12: the static default was a measured
    # 63x loss at chain d=1000, STRESS_PATH_DIAMETER_r11)
    assert Compiler(store, max_path_iterations=32) \
        .compile(alg).df.count() == n * (n + 1) // 2


# --- auto strategy (measured-crossover switch, r12) --------------------------

def test_auto_switch_heuristic_unit():
    """The pure-python crossover predictor: chains switch early, lineage
    forests never switch (they converge first), flat frontiers (cycles)
    switch after the longer confirmation, growing frontiers stay."""
    from kineo_spark.paths import (_AUTO_HARD_CAP, _AUTO_K_MIN,
                                   _auto_should_switch)

    # chain d=1000: frontier shrinks by 1/round, huge remaining tail
    chain = [1000 - r for r in range(1, 7)]
    assert _auto_should_switch(6, chain)
    # too early: never before K_MIN even on a chain profile
    assert not _auto_should_switch(_AUTO_K_MIN - 1, chain[:5])
    # forest depth 12 width W at round 6: remaining ~6 rounds << tail
    W = 200_000
    forest = [W * (12 - r) for r in range(1, 7)]
    assert not _auto_should_switch(6, forest)
    # growing frontier (expanding dense component): stay semi-naive
    growing = [100, 300, 900, 2700, 8100, 24300]
    assert not _auto_should_switch(6, growing)
    # flat frontier (cycle): switches only after the 2*K_MIN confirmation
    flat = [50] * 12
    assert not _auto_should_switch(6, flat[:6])
    assert _auto_should_switch(2 * _AUTO_K_MIN, flat)
    # hard cap fires regardless of trajectory
    assert _auto_should_switch(_AUTO_HARD_CAP, growing)


def test_auto_closure_identical_and_switches(spark):
    """End-to-end: auto returns the exact closure on a chain (switching
    mid-fixpoint), a forest (never switching), and a cycle (flat-
    frontier switch) — and reports the switch round via switch_out."""
    from pyspark.sql import functions as F

    from kineo_spark.paths import _closure_pairs

    def run(edges, iters, strategy):
        rounds, sw = [], []
        acc = _closure_pairs(edges, iters, strategy=strategy,
                             rounds_out=rounds, switch_out=sw)
        return ({(r["__a"], r["__b"]) for r in acc.collect()},
                len(rounds), sw)

    chain = spark.range(40).select(F.col("id").alias("__a"),
                                   (F.col("id") + 1).alias("__b"))
    sem, _, _ = run(chain, 60, "seminaive")
    aut, rounds, sw = run(chain, 60, "auto")
    assert aut == sem and len(aut) == 40 * 41 // 2
    assert sw and sw[0] >= 6 and rounds < 40  # switched, saved rounds

    # shallow forest: 6 layers x 30 wide — converges semi-naive
    nid = F.col("layer") * 60 + F.col("i")
    layers = (spark.range(1, 7).select(F.col("id").alias("layer"))
              .crossJoin(spark.range(30).select(F.col("id").alias("i"))))
    parent = (F.col("layer") - 1) * 60 + F.pmod(F.xxhash64(nid), F.lit(30))
    forest = layers.select(nid.alias("__a"), parent.alias("__b"))
    sem, sem_rounds, _ = run(forest, 20, "seminaive")
    aut, rounds, sw = run(forest, 20, "auto")
    assert aut == sem and not sw and rounds == sem_rounds

    cycle = spark.range(30).select(
        F.col("id").alias("__a"),
        F.pmod(F.col("id") + 1, F.lit(30)).alias("__b"))
    sem, _, _ = run(cycle, 40, "seminaive")
    aut, rounds, sw = run(cycle, 40, "auto")
    assert aut == sem and len(aut) == 900
    assert sw and rounds < 30  # flat-frontier switch beat pure semi-naive


def test_closure_rounds_instrumentation(spark):
    """rounds_out records EXECUTED fixpoint rounds (r11: the diameter
    stress harness reads measured rounds, not formulas): a diameter-d
    chain takes d semi-naive rounds and ⌈log2 d⌉+1 doubling rounds —
    the O(log d) round win paths.py claims, pinned as a number."""
    from pyspark.sql import functions as F

    from kineo_spark.paths import _closure_pairs

    d = 32
    edges = spark.range(d).select(F.col("id").alias("__a"),
                                  (F.col("id") + 1).alias("__b"))
    sem_rounds, dbl_rounds = [], []
    sem = _closure_pairs(edges, d + 2, strategy="seminaive",
                         rounds_out=sem_rounds)
    dbl = _closure_pairs(edges, d + 2, strategy="doubling",
                         rounds_out=dbl_rounds)
    assert sem.count() == dbl.count() == d * (d + 1) // 2
    assert len(sem_rounds) == d  # one frontier hop per round + empty delta
    # R_k covers length <= 2^k: 5 growth rounds for d=32, +1 empty delta
    assert len(dbl_rounds) <= 6


def test_nested_closure_in_sequence(comp):
    """likes/knows* — a closure NESTED inside a sequence (previously
    rejected with 'nested closure paths must go through eval_path')."""
    p = A.PSeq(A.PLink(iri(LIKES)), A.PStar(A.PLink(iri(KNOWS))))
    got = {(a, b) for a, b in _pairs(comp, p)}
    assert got == {("a", "z"), ("a", "x"), ("a", "y"),
                   ("lonely", "lonely")}


def test_nested_plus_under_star(comp):
    """(knows+|likes)* — a plus-closure nested under alternation under
    star; reachability is the closure of knows∪likes plus identity."""
    p = A.PStar(A.PAlt(A.PPlus(A.PLink(iri(KNOWS))), A.PLink(iri(LIKES))))
    got = {b for a, b in _pairs(comp, p) if a == "a"}
    assert got == {"a", "b", "c", "d", "e", "z", "x", "y"}


def test_nested_star_of_sequence(comp):
    """(knows/knows)* — even-length knows walks."""
    p = A.PStar(A.PSeq(A.PLink(iri(KNOWS)), A.PLink(iri(KNOWS))))
    got = {b for a, b in _pairs(comp, p) if a == "a"}
    assert got == {"a", "c", "e"}


def test_nested_closures_exact(comp):
    """Nested closures under sequence and alternation, checked against
    their full literal pair sets in both modes."""
    cycle = {(u, w) for u in "xyz" for w in "xyz"}
    chain_plus = {("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
                  ("b", "c"), ("b", "d"), ("b", "e"),
                  ("c", "d"), ("c", "e"), ("d", "e")}
    # likes/knows*
    p = A.PSeq(A.PLink(iri(LIKES)), A.PStar(A.PLink(iri(KNOWS))))
    assert _pairs(comp, p) == {("a", "z"), ("a", "x"), ("a", "y"),
                               ("lonely", "lonely")}
    # (knows+|likes)*: closure of knows ∪ likes plus identity on every node
    p = A.PStar(A.PAlt(A.PPlus(A.PLink(iri(KNOWS))), A.PLink(iri(LIKES))))
    assert _pairs(comp, p) == chain_plus | cycle | {
        ("a", "x"), ("a", "y"), ("a", "z"),
        ("a", "a"), ("b", "b"), ("c", "c"), ("d", "d"), ("e", "e"),
        ("lonely", "lonely")}
    # likes?/knows+: the zero arm passes knows+ through unchanged
    p = A.PSeq(A.PZeroOrOne(A.PLink(iri(LIKES))), A.PPlus(A.PLink(iri(KNOWS))))
    assert _pairs(comp, p) == chain_plus | cycle | {
        ("a", "x"), ("a", "y"), ("a", "z")}


def test_path_strategy_rejects_unknown(path_store):
    with pytest.raises(ValueError, match="path_strategy"):
        Compiler(path_store, path_strategy="doubl")


def test_graph_scoped_paths_all_modes(spark):
    """GRAPH ?g { path } evaluates PER NAMED GRAPH (r8 fix: the closure
    previously ran over the union of graphs and cross-joined the graph
    list). Pins: closures never compose across graphs, the seeded
    star's zero-length arm yields (t, t) in EVERY named graph, NPS and
    sequences scope per graph, and ?g binds — identically in term
    mode, id64, and id128."""
    from kineo_spark.dictionary import id_compiler
    from kineo_spark.forms import select
    from kineo_spark.sparql_parser import parse_query

    P = EX + "p"

    def q(g, s, o):
        return (0, EX + s, P, 0, EX + o, None, None, None, f"urn:g:{g}")

    # g1: a->b->c   g2: a->c->d   g3: only m->n (a absent entirely)
    rows = [q("g1", "a", "b"), q("g1", "b", "c"),
            q("g2", "a", "c"), q("g2", "c", "d"),
            q("g3", "m", "n")]
    store = QuadsDataFrameStore.from_rows(spark, rows)

    def run(comp_factory, text):
        query = parse_query(f"PREFIX ex: <{EX}>\n{text}")
        comp = comp_factory()
        if hasattr(comp, "prepare"):
            comp.prepare(query)
        df = select(comp, query)
        out = set()
        for r in df.collect():
            out.add(tuple(
                (r[c]["lex"].rsplit(":", 1)[-1].rsplit("/", 1)[-1])
                for c in df.columns))
        return out

    factories = {
        "term": lambda: Compiler(store),
        "id64": lambda: id_compiler(store, key_bits=64),
        "id128": lambda: id_compiler(store, key_bits=128),
    }
    cases = [
        # per-graph plus closure: no a->...->d via g1+g2 mixing
        ("SELECT ?g ?x WHERE { GRAPH ?g { ex:a ex:p+ ?x } }",
         {("g1", "b"), ("g1", "c"), ("g2", "c"), ("g2", "d")}),
        # seeded star: zero arm (a, a) appears in EVERY named graph,
        # including g3 where a has no triples (ALP starts at the term)
        ("SELECT ?g ?x WHERE { GRAPH ?g { ex:a ex:p* ?x } }",
         {("g1", "a"), ("g1", "b"), ("g1", "c"),
          ("g2", "a"), ("g2", "c"), ("g2", "d"),
          ("g3", "a")}),
        # sequence scopes per graph: a->b->c only inside g1
        ("SELECT ?g ?x WHERE { GRAPH ?g { ex:a ex:p/ex:p ?x } }",
         {("g1", "c"), ("g2", "d")}),
        # NPS under GRAPH ?g
        ("SELECT ?g ?x WHERE { GRAPH ?g { ex:m !ex:q ?x } }",
         {("g3", "n")}),
        # zero-or-one, unbound subject: zero arm per graph
        ("SELECT ?g ?x WHERE { GRAPH ?g { ex:m ex:p? ?x } }",
         {("g1", "m"), ("g2", "m"), ("g3", "m"), ("g3", "n")}),
    ]
    for text, want in cases:
        got = {m: run(f, text) for m, f in factories.items()}
        for m, res in got.items():
            assert res == want, f"{m}: {text}\n got {res}\nwant {want}"


def test_recursive_cte_union_dedup_unsupported(spark):
    """The r9 ruling (SCALE.md): Spark 4.1.2's WITH RECURSIVE cannot
    replace paths.py's semi-naive driver-loop fixpoint because the
    dedup-per-wave form (UNION) is rejected at analysis time — and
    semi-naive closure REQUIRES per-wave dedup on cyclic graphs.
    This is the fast half of the repro; the slow half (cyclic UNION
    ALL exceeds the recursion level limit) is the skipped test below.
    If this test ever FAILS (i.e. UNION starts working), re-evaluate
    the driver loop against a recursive-CTE closure."""
    import pytest as _pt

    with _pt.raises(Exception, match="UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"):
        spark.sql(
            "WITH RECURSIVE r(n) AS (SELECT 0 UNION SELECT n+1 FROM r "
            "WHERE n < 5) SELECT * FROM r").collect()


@pytest.mark.skip(reason="documents the r9 recursive-CTE ruling: a cyclic "
                  "closure via UNION ALL re-derives pairs forever and throws "
                  "RECURSION_LEVEL_LIMIT_EXCEEDED after ~28s (verified on "
                  "Spark 4.1.2, 2026-08); run manually when a Spark release "
                  "adds UNION-dedup recursion")
def test_recursive_cte_unsuitable_repro(spark):
    # two-line repro: 2-cycle edge set, transitive closure by UNION ALL
    spark.sql(
        "WITH RECURSIVE r(s,d) AS (SELECT 0 s, 1 d UNION ALL "
        "SELECT r.s, e.d FROM r JOIN (SELECT 0 s, 1 d UNION ALL "
        "SELECT 1, 0) e ON r.d = e.s) SELECT count(*) FROM r").collect()

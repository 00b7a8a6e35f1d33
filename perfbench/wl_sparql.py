"""The two SPARQL workloads.

``sparql_interactive`` — term mode over the relational store at sf 0.01,
through ``Engine.query`` and ``Engine.serialize`` (SPARQL-JSON). Answers
are small, so parsing, rewriting, compiling and Catalyst planning are a
large share of each query: this is where a front-end change (a plan or
compile cache — templates repeat with new constants) shows.

``sparql_analytic`` — ID mode (``dictionary.id_compiler`` over the cached
``IdEncodedView``) at sf 0.03, heavy joins, aggregates, a transitive path
and a value-ordered range. Execution dominates, so a front-end change
should read no change here, while a join, ``paths`` or ``dictionary``
change should show.
"""

from __future__ import annotations

import os
import time

import datagen
import measure
import oracle
import sparql_templates as st

INTERACTIVE_SF = 0.01
ANALYTIC_SF = 0.03
# rounds prepared (with expected answers) before timing; a run uses at
# most this many for the untraced and traced phases together
PREPARED_ROUNDS = {"sparql_interactive": 26, "sparql_analytic": 17}
# warm-up rounds run in the set-up: the interactive mix is dominated by
# Catalyst and py4j code that the JVM is still compiling after one round
WARMUP_ROUNDS = {"sparql_interactive": 2, "sparql_analytic": 1}


class SparqlWorkload:
    def __init__(self, name: str):
        self.name = name
        self.analytic = name == "sparql_analytic"
        self.templates = st.ANALYTIC if self.analytic else st.INTERACTIVE
        self.warmup_rounds = WARMUP_ROUNDS[name]
        # the view encodes every mapped table: map only those queried
        self.tables = st.ANALYTIC_TABLES if self.analytic else datagen.TPCH_TABLES

    # -- inputs (not part of setup time) ------------------------------------
    def generate(self, ctx) -> None:
        self.dir = os.path.join(ctx.work, "tables")
        sf = ANALYTIC_SF if self.analytic else INTERACTIVE_SF
        sizes = datagen.tpch_tables(self.dir, ctx.seed, sf)
        self.rounds = st.stream(self.templates, ctx.seed, sizes,
                                PREPARED_ROUNDS[self.name], self.name)
        con = oracle.duckdb_over(self.dir, datagen.TPCH_TABLES)
        for q in [q for rnd in self.rounds for q in rnd]:
            q.expected = st.expect(con, q)
        con.close()

    # -- setup (timed as setup_s) -------------------------------------------
    def setup(self, ctx, spark) -> None:
        from kineo_spark.engine import Engine
        from kineo_spark.store import RelationalQuadStore

        self.store = RelationalQuadStore(spark, self.dir, tables=self.tables)
        if self.analytic:
            from kineo_spark.dictionary import IdEncodedView

            with ctx.tracer.span("dictionary.view_build") as sp:
                view = IdEncodedView.for_store(self.store)
            if sp is not None:
                sp.attrs["n_terms"] = view.n_terms
        else:
            self.engine = Engine(self.store)

    # -- one operation ------------------------------------------------------
    def run_op(self, ctx, q: st.Query):
        tr = ctx.tracer
        with tr.span("op", kind=q.kind) as sp:
            t0 = time.perf_counter()
            out = self._analytic(tr, q) if self.analytic else self._interactive(tr, q)
            dt = time.perf_counter() - t0
        if q.form == "ask":
            ok, n = oracle.json_boolean(out) == q.expected, 1
        else:
            got = oracle.digest(oracle.json_rows(out, q.variables, q.kinds or None))
            ok, n = got == q.expected, got[0]
        if sp is not None:
            sp.attrs.update(result_rows=n, bytes_out=len(out), ok=ok)
        return q.kind, dt, ok

    def summary(self, log) -> dict:
        lat = log.latencies()
        return {"query_p50_ms": (measure.percentile(lat, 50) * 1e3, "ms"),
                "query_p90_ms": (measure.percentile(lat, 90) * 1e3, "ms")}

    def _interactive(self, tr, q):
        res = self.engine.query(q.text)
        if tr.active and res.form != "ask":
            _plan(tr, res.bindings if res.form == "select" else res.triples)
        return self.engine.serialize(res)

    def _analytic(self, tr, q):
        from kineo_spark import algebra as A, forms, serializers
        from kineo_spark.dictionary import id_compiler
        from kineo_spark.rewrite import rewrite
        from kineo_spark.sparql_parser import parse_query

        with tr.span("sparql_parser.parse"):
            pq = parse_query(q.text)
        with tr.span("rewrite.rewrite"):
            alg = rewrite(pq.algebra)
        with tr.span("compiler.compile"):
            df = forms.select(id_compiler(self.store), A.SelectQuery(alg, pq.variables))
        if tr.active:
            _plan(tr, df)
        with tr.span("serializers.format"):
            return serializers.to_sparql_json(df)


def _plan(tr, df) -> None:
    """Traced run only: force Catalyst planning in its own span. The
    serializer's collect reuses this QueryExecution's physical plan."""
    with tr.span("catalyst.plan"):
        df._jdf.queryExecution().executedPlan()

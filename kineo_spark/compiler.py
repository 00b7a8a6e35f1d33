"""Algebra → DataFrame compiler.

Replaces the reference's two evaluation engines (SimpleQueryEvaluator,
/root/reference/Sources/Kineo/QuadStore/SimpleQueryEvaluation.swift, and
the planned engine QueryPlanner.swift → MaterializedQueryPlan.swift /
IDQueryPlan.swift) with a single declarative lowering: each algebra node
becomes DataFrame operations and Catalyst owns join ordering, join
strategy (broadcast/SMJ/SHJ via AQE), predicate & projection pushdown,
partial aggregation, top-k (TakeOrderedAndProject), codegen and spill —
all things the reference's pull-iterator engine does not have (SURVEY §4).

Binding representation: one term-struct column per SPARQL variable
(NULL = unbound). Joins/grouping/dedup run on canonical string keys
(model.term_key) to keep null semantics exact and shuffle keys flat.

Compatibility-join semantics (SURVEY §7.3/§7.4):
- A shared variable that is *certainly bound* on both sides compiles to a
  strict equi-join (shuffle/broadcast-able — the 100 TB path). The
  compiler tracks certainty per variable.
- Otherwise the join condition is the SPARQL compatibility predicate
  ``l.v IS NULL OR r.v IS NULL OR l.v = r.v`` with post-join
  ``coalesce(l.v, r.v)`` — mirroring the reference's hashJoin
  ``unboundTable`` handling (MaterializedQueryPlan.swift:289-361).
- MINUS implements the domain-disjointness rule (rows sharing no bound
  domain never cancel, MaterializedQueryPlan.swift:554-569).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from kineo_spark import algebra as A
from kineo_spark.expr import ECall, EExists, EMarker, Expr, compile_expr, ebv
from kineo_spark.model import PyTerm, TERM_SCHEMA, sort_key, term_key
from kineo_spark.store import QuadStore

_ids = itertools.count()


def _tmp(prefix: str) -> str:
    return f"__{prefix}_{next(_ids)}"


@dataclass
class Plan:
    df: DataFrame
    certain: frozenset[str]  # variables certainly bound (never NULL)
    # Variables stored as raw dictionary ids (8-byte long), not term
    # structs — ID mode's lazy-materialization currency (IDQueryPlan →
    # MaterializeTermsPlan boundary). A var is id-typed GLOBALLY within
    # one query (decided by dictionary.needed_value_vars), so any two
    # plans sharing it agree on representation; id equality == sameTerm,
    # exactly the join/dedup semantics.
    id_vars: frozenset[str] = frozenset()
    # Bind-join seed (IDIndexBindQuadPlan, IDQueryPlan.swift): when this
    # plan is a small literal table (VALUES), the driver-known lexical
    # forms per certainly-bound var. A join pushes them into the OTHER
    # side as a SUPERSET isin pre-filter on the term's lex — sound
    # because the equi-join afterwards enforces exactness — which
    # Catalyst simplifies to the bare parquet column and pushes into the
    # scan (PushedFilters: In(...)). At 100 TB this turns "scan
    # everything, shuffle, join" into "scan the rows the VALUES can
    # possibly match".
    bind_values: dict[str, tuple[str, ...]] | None = None
    # Driver-literal leaf (VALUES / join identity) of compile-time-known
    # cardinality — always safe to broadcast into a nested-loop join
    # (the rows already live on the driver). Catalyst reports
    # Long.MaxValue for LogicalRDD relations, so the size-estimate gate
    # alone cannot recognize these.
    bounded: bool = False

    @property
    def variables(self) -> list[str]:
        return [c for c in self.df.columns if not c.startswith("__")]


def _env(df: DataFrame) -> dict[str, Column]:
    return {c: df[c] for c in df.columns if not c.startswith("__")}


def _collect_exists(e, into: list) -> None:
    """Gather EExists nodes nested anywhere in an expression tree."""
    if isinstance(e, EExists):
        into.append(e)
    elif isinstance(e, ECall):
        for a in e.args:
            _collect_exists(a, into)


def _replace_exists(e, repl: dict):
    """Rebuild an expression with each EExists (by identity) swapped for
    its EMarker column reference."""
    if isinstance(e, EExists):
        return repl[id(e)]
    if isinstance(e, ECall):
        return ECall(e.op, tuple(_replace_exists(a, repl) for a in e.args),
                     e.kwargs)
    return e


def _all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


class Compiler:
    def __init__(self, store: QuadStore, max_path_iterations: int = 64,
                 path_strategy: str = "auto", plans_only: bool = False,
                 cs_stats: bool = False):
        self.store = store
        self.spark: SparkSession = store.spark
        self.max_path_iterations = max_path_iterations
        # plans_only=True keeps compilation side-effect free (no Spark
        # jobs, no network I/O): SERVICE compiles to an empty placeholder
        # and the bind-join probe is skipped. Used by explain().
        self.plans_only = plans_only
        # cs_stats=True answers qualifying ungrouped COUNT star queries
        # from characteristic-set statistics as a constant table, never
        # scanning the quads (Diomede's stats shortcut,
        # DiomedeQuadStore.swift:14-97 — gated there on the stats being
        # accurate, here on explicit opt-in, the ANALYZE TABLE analog).
        self.cs_stats = cs_stats
        # 'seminaive' (frontier⋈edges, work-efficient; seeded BFS for
        # bound endpoints), 'doubling' (R∪R∘R recursive squaring:
        # ⌈log2 d⌉ rounds — the choice for high-diameter graphs where
        # per-round stage overhead dominates at cluster scale), or
        # 'auto' (default): semi-naive that switches to doubling when
        # the frontier trajectory predicts a high-diameter tail — the
        # crossover measured in STRESS_PATH_DIAMETER (semi-naive loses
        # 63× wall at chain d=1000, doubling 1.26× on a wide forest).
        if path_strategy not in ("auto", "seminaive", "doubling"):
            raise ValueError(f"unknown path_strategy {path_strategy!r}")
        self.path_strategy = path_strategy

    # -- public -----------------------------------------------------------
    def compile(self, node: A.Algebra, graph: A.Node | None = None) -> Plan:
        return self._c(node, graph)

    # -- dispatch ---------------------------------------------------------
    def _c(self, node: A.Algebra, g: A.Node | None) -> Plan:  # noqa: C901
        if isinstance(node, A.Quad):
            return self._scan(node.pattern)
        if isinstance(node, A.Triple):
            p = node.pattern
            return self._scan(A.QuadPattern(p.s, p.p, p.o, self._active_graph(g)))
        if isinstance(node, A.BGP):
            return self._bgp(node, g)
        if isinstance(node, A.Join):
            # local ⋈ SERVICE: bind-join (federation §2.4) — ship the
            # LHS's distinct shared bindings as a VALUES block so the
            # endpoint returns only joinable rows, not its whole pattern
            if isinstance(node.rhs, A.Service):
                from kineo_spark.service import eval_service_bound
                left = self._c(node.lhs, g)
                right = None
                if not self.plans_only:  # probe runs a job + HTTP fetch
                    right = eval_service_bound(self, node.rhs, left)
                if right is None:
                    right = self._c(node.rhs, g)
                return self._join(left, right)
            return self._join(self._c(node.lhs, g), self._c(node.rhs, g))
        if isinstance(node, A.LeftJoin):
            return self._left_join(self._c(node.lhs, g), self._c(node.rhs, g), node.expr)
        if isinstance(node, A.Minus):
            gv = g.name if isinstance(g, A.Var) and g.binding else None
            # The threaded active-graph column only stays OUT of the
            # dom-disjointness test while ?g is purely evaluation scope.
            # When the pattern itself can bind ?g on BOTH sides (e.g.
            # GRAPH ?g { ?s :p ?g MINUS { ?x :q ?g } }) it is a genuine
            # mapping variable per §18.1.7 — domains overlap and
            # cancellation applies, so treat it like any shared var
            # (ADVICE r11; syntactic check on the algebra, not on the
            # compiled columns, which always carry the threaded ?g).
            if gv is not None and gv in A.may_bind_vars(node.lhs) \
                    and gv in A.may_bind_vars(node.rhs):
                gv = None
            return self._minus(
                self._c(node.lhs, g), self._c(node.rhs, g), graph_var=gv)
        if isinstance(node, A.SemiJoin):
            return self._semi(self._c(node.lhs, g), self._c(node.rhs, g), node.anti)
        if isinstance(node, A.Filter):
            return self._filter(node, g)
        if isinstance(node, A.Union):
            return self._union(self._c(node.lhs, g), self._c(node.rhs, g))
        if isinstance(node, A.NamedGraph):
            child = self._c(node.child, node.graph)
            if (isinstance(node.graph, A.Var) and node.graph.binding
                    and node.graph.name not in child.df.columns):
                # pattern binds nothing (GRAPH ?g {} and friends): ?g
                # ranges over the named graphs themselves (§13.3)
                gdf = self.store.graph_terms().withColumnRenamed(
                    "__g", node.graph.name)
                child = Plan(
                    child.df.crossJoin(F.broadcast(gdf)),
                    child.certain | {node.graph.name}, child.id_vars)
            return child
        if isinstance(node, A.Extend):
            from kineo_spark.expr import apply_hoisted, hoist_scope
            child = self._c(node.child, g)
            child, expr, markers = self._mark_exists(child, node.expr, g)
            with hoist_scope() as hoisted:
                col = compile_expr(expr, _env(child.df))
            df, hnames = apply_hoisted(child.df, hoisted)
            df = df.withColumn(node.name, col)
            drop = markers + hnames
            if drop:
                df = df.drop(*drop)
            return Plan(df, child.certain, child.id_vars)
        if isinstance(node, A.Project):
            # active-graph passthrough inside _c_project_of: a subquery
            # projection under GRAPH ?var happens inside each graph's
            # evaluation (§18.1.7) — dropping the graph column here
            # would collapse the per-graph bags before the extension
            # with ?var
            return self._c_project_of(node, self._c(node.child, g), g)
        if isinstance(node, (A.Distinct, A.Reduced)):
            # REDUCED may drop any duplicates (spec); full dedup is a valid
            # and scale-friendly implementation (ReducedPlan,
            # MaterializedQueryPlan.swift:646-667).
            proj_node = (node.child
                         if isinstance(node.child, A.Project) else None)
            probe = proj_node.child if proj_node else node.child
            if isinstance(probe, A.Order):
                # ORDER BY under DISTINCT: dedup FIRST, then sort —
                # dropDuplicates does not preserve row order, so the
                # previous sort-then-dedup handed an arbitrary order to
                # a Slice above (r10 find: ordered-DISTINCT-LIMIT
                # returned the term-KEY-string minima, not the term-
                # order minima). SPARQL restricts ORDER BY under
                # DISTINCT to projected expressions, so the keys stay
                # computable on the dedup output; out-of-scope keys
                # (spec-invalid) sort as NULL = unspecified order.
                # Dedup-then-sort is also the cheaper plan: the Sort
                # sees only distinct rows, and a LIMIT above folds it
                # into TakeOrderedAndProject.
                base = (A.Project(probe.child, proj_node.variables)
                        if proj_node else probe.child)
                child = self._c(base, g)
                ddf = self._distinct(child.df, child.id_vars)
                env = _env(ddf)
                cols = []
                for cmp in probe.comparators:
                    k = sort_key(compile_expr(cmp.expr, env))
                    cols.append(k.asc() if cmp.ascending else k.desc())
                return Plan(ddf.orderBy(*cols), child.certain,
                            child.id_vars)
            child = self._c(node.child, g)
            return Plan(self._distinct(child.df, child.id_vars), child.certain,
                        child.id_vars)
        if isinstance(node, A.Slice):
            if isinstance(g, A.Var) and g.binding:
                # §18.1.7: inside GRAPH ?var the whole subtree evaluates
                # once per named graph, so OFFSET/LIMIT apply PER GRAPH
                # — a global limit would take k rows across graphs
                return self._slice_per_graph(node, g)
            child = self._c(node.child, g)
            df = child.df
            if node.offset:
                df = df.offset(node.offset)
            if node.limit is not None:
                df = df.limit(node.limit)
            return Plan(df, child.certain, child.id_vars)
        if isinstance(node, A.Order):
            child = self._c(node.child, g)
            env = _env(child.df)
            cols = []
            for cmp in node.comparators:
                k = sort_key(compile_expr(cmp.expr, env))
                cols.append(k.asc() if cmp.ascending else k.desc())
            return Plan(child.df.orderBy(*cols), child.certain, child.id_vars)
        if isinstance(node, A.Table):
            return self._scope_graph(self._table(node), g)
        if isinstance(node, A.JoinIdentity):
            return self._scope_graph(self._join_identity(), g)
        if isinstance(node, A.UnionIdentity):
            df = self.spark.createDataFrame([], T.StructType([]))
            return Plan(df, frozenset())
        if isinstance(node, A.Aggregate):
            return self._aggregate(node, g)
        if isinstance(node, A.Window):
            return self._window(node, g)
        if isinstance(node, A.Subquery):
            from kineo_spark.forms import select_plan
            return select_plan(self, node.query, g)
        if isinstance(node, A.PathPattern):
            from kineo_spark.paths import eval_path
            return eval_path(self, node, node.graph or self._active_graph(g))
        if isinstance(node, A.Service):
            from kineo_spark.service import eval_service
            return eval_service(self, node)
        raise NotImplementedError(f"algebra node {type(node).__name__}")

    # -- helpers ----------------------------------------------------------
    def _is_id_var(self, v: str) -> bool:
        """Whether ``v`` rides as a raw dictionary id instead of a term
        struct. Term mode reads every variable's value; the ID-mode
        compiler (dictionary.id_compiler) overrides this."""
        return False

    def _active_graph(self, g: A.Node | None) -> A.Node:
        if g is None:
            return A.Var(_tmp("g"), binding=False)
        return g

    def _join_identity(self) -> Plan:
        return Plan(self.spark.range(1).drop("id"), frozenset(),
                    bounded=True)

    def _bgp(self, node: A.BGP, g: A.Node | None) -> Plan:
        """BGP compilation with star-join collapse: patterns sharing a
        subject whose predicates live in one table become a single
        multi-column scan when the store supports it (S2RDF property
        tables; reference PlanningQuadStore hook,
        QueryPlanner.swift:449-457). Remaining patterns scan
        individually; Catalyst orders the joins."""
        if not node.patterns:
            return self._join_identity()
        quads = [
            A.QuadPattern(tp.s, tp.p, tp.o, self._active_graph(g))
            for tp in node.patterns
        ]
        stats = None
        if self.cs_stats and not self.plans_only and hasattr(self.store, "quads"):
            from kineo_spark.stats import CharacteristicSets
            stats = CharacteristicSets.for_store(self.store)
        units: list[tuple[Plan, float | None]] = []
        if hasattr(self.store, "scan_star"):
            groups: dict[object, list[A.QuadPattern]] = {}
            order: list[object] = []
            for qp in quads:
                key = ("v", qp.s.name) if isinstance(qp.s, A.Var) else ("t", qp.s.key())
                if key not in groups:
                    groups[key] = []
                    order.append(key)
                groups[key].append(qp)
            rest: list[A.QuadPattern] = []
            for key in order:
                grp = groups[key]
                df = self.store.scan_star(grp) if len(grp) >= 2 else None
                if df is not None:
                    certain = frozenset(set().union(*[p.variables() for p in grp]))
                    units.append((
                        Plan(df, certain),
                        stats.estimate_star(grp) if stats else None,
                    ))
                else:
                    rest.extend(grp)
            quads = rest
        units.extend(
            (self._scan(qp), stats.estimate_pattern(qp) if stats else None)
            for qp in quads
        )
        plans = self._order_units(units)
        out = plans[0]
        for p in plans[1:]:
            out = self._join(out, p)
        return out

    def _order_units(self, units: list[tuple[Plan, float | None]]) -> list[Plan]:
        """Greedy selectivity-driven join order (the reference plans ID
        joins from store statistics — Diomede characteristic sets,
        DiomedeQuadStore.swift:14-97; QueryPlanner.swift:449-457):
        start from the smallest estimated input, then repeatedly join
        the smallest CONNECTED unit (sharing a variable with what's
        already joined) so no estimate-driven reorder introduces a
        cross join the syntactic order didn't have. Catalyst cannot do
        this itself: every quad scan looks alike to it (no per-predicate
        NDV), so without these estimates join order is syntactic."""
        if len(units) < 2 or any(est is None for _p, est in units):
            return [p for p, _e in units]
        remaining = [(p, est, i) for i, (p, est) in enumerate(units)]
        remaining.sort(key=lambda u: (u[1], u[2]))
        first = remaining.pop(0)
        ordered = [first[0]]
        joined = set(first[0].variables)
        while remaining:
            connected = [u for u in remaining if joined & set(u[0].variables)]
            pick = min(connected or remaining, key=lambda u: (u[1], u[2]))
            remaining.remove(pick)
            ordered.append(pick[0])
            joined |= set(pick[0].variables)
        return ordered

    def _scan(self, pattern: A.QuadPattern) -> Plan:
        df = self.store.scan(pattern)
        return Plan(df, frozenset(pattern.variables()))

    def _scope_graph(self, plan: Plan, g: "A.Node | None") -> Plan:
        """Under ``GRAPH ?var``, graph-transparent leaves (VALUES, the
        join identity) must carry the per-graph binding FROM THE LEAF:
        §18.1.7 evaluates the scoped pattern once per named graph, so a
        row independent of the graph appears once per graph with ?var
        bound. Binding ?var only at scan leaves evaluated the scoped
        tree ONCE globally with the graph as a join column — which
        computes non-monotonic operators (LeftJoin diff, MINUS,
        NOT EXISTS) ACROSS graphs: an r9 differential-fuzz seed caught
        a LeftJoin diff row (rhs unmatched in one graph, matched in
        another) losing both its ?g binding and its per-graph
        multiplicity."""
        if not (isinstance(g, A.Var) and g.binding):
            return plan
        gdf = self.store.graph_terms()
        if g.name in plan.df.columns:
            # §18.1.7 restricts ?g to names(D) even when the leaf itself
            # binds it: GRAPH ?g { VALUES ?g { <urn:x> } } evaluates the
            # VALUES once per named graph gi joined with {?g→gi}, so a
            # row naming a non-graph yields NOTHING, and a row with ?g
            # UNDEF binds once per named graph (r9 ADVICE: this leaf
            # previously escaped unscoped). Leaves reach here straight
            # from _table/_join_identity, so the column is a term
            # struct, never an id.
            gcol = F.col(g.name)
            bound = plan.df.filter(gcol.isNotNull()).join(
                F.broadcast(gdf),
                term_key(gcol) == term_key(gdf["__g"]), "left_semi")
            if g.name in plan.certain:
                return Plan(bound, plan.certain, plan.id_vars,
                            plan.bind_values)
            named = gdf.withColumnRenamed("__g", g.name)
            undef = (plan.df.filter(gcol.isNull()).drop(g.name)
                     .crossJoin(F.broadcast(named)))
            return Plan(bound.unionByName(undef),
                        plan.certain | {g.name}, plan.id_vars,
                        plan.bind_values)
        gdf = gdf.withColumnRenamed("__g", g.name)
        return Plan(plan.df.crossJoin(F.broadcast(gdf)),
                    plan.certain | {g.name}, plan.id_vars,
                    plan.bind_values)

    def _table(self, node: A.Table) -> Plan:
        schema = T.StructType([T.StructField(v, TERM_SCHEMA) for v in node.variables])
        rows = []
        for row in node.rows:
            rows.append(
                tuple(
                    None if t is None else (t.kind, t.lex, t.dt, t.lang, t.num)
                    for t in row
                )
            )
        df = self.spark.createDataFrame(rows, schema)
        certain = frozenset(
            v for i, v in enumerate(node.variables)
            if all(row[i] is not None for row in node.rows)
        )
        bind = None
        if 0 < len(node.rows) <= self._BIND_JOIN_MAX_ROWS:
            bind = {
                v: tuple(sorted({row[i].lex for row in node.rows}))
                for i, v in enumerate(node.variables) if v in certain
            }
        return Plan(df, certain, bind_values=bind or None, bounded=True)

    def _distinct(self, df: DataFrame, id_vars: frozenset[str] = frozenset()) -> DataFrame:
        vars_ = [c for c in df.columns if not c.startswith("__")]
        if not vars_:
            return df.limit(1)
        # id columns dedup on the raw long (id equality == sameTerm)
        keys = {v: _tmp("k") for v in vars_ if v not in id_vars}
        out = df.select(*vars_, *[term_key(df[v]).alias(k) for v, k in keys.items()])
        return out.dropDuplicates(
            [v for v in vars_ if v in id_vars] + list(keys.values())
        ).select(*vars_)

    # -- joins ------------------------------------------------------------
    def _prep_right(self, right: Plan) -> tuple[DataFrame, dict[str, str]]:
        ren = {v: _tmp(f"r_{v}") for v in right.variables}
        rdf = right.df.select(*[right.df[v].alias(n) for v, n in ren.items()])
        return rdf, ren

    # branch cap: 3^u union branches for u maybe-unbound shared vars;
    # above this, fall back to the OR-condition join (non-equi)
    _MAX_SPLIT_VARS = 2
    # VALUES tables at or below this row count seed a bind join
    _BIND_JOIN_MAX_ROWS = 1000

    @staticmethod
    def broadcast_if_small(df: DataFrame) -> DataFrame:
        """Broadcast hint gated on Catalyst's own size estimate vs
        spark.sql.autoBroadcastJoinThreshold (r9 ADVICE): the r9
        nested-loop fix hinted EVERY disjoint join side, which turns a
        slow-but-working CartesianProduct into a driver OOM when the
        side is genuinely large. The estimate is free (no job) and
        exact for VALUES/local relations and cached views — the inputs
        this path actually serves; for an unpruned 100 TB scan it reads
        as the file size, so the hint correctly falls away and the
        pathology degrades to the pre-r9 cartesian. Threshold <= 0
        (user disabled broadcasting) is honored."""
        spark = df.sparkSession
        raw = str(spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10MB")).strip()
        if raw.startswith("-") or raw in ("0", "0b"):
            return df
        try:
            thr = int(spark._jvm.org.apache.spark.network.util.JavaUtils
                      .byteStringAsBytes(raw))
            est = int(str(df._jdf.queryExecution().optimizedPlan()
                          .stats().sizeInBytes()))
        except Exception:
            return df  # unknown size: prefer the OOM-safe plan
        return F.broadcast(df) if est <= thr else df

    def _bind_prefilter(self, plan: Plan, other: Plan, shared: list[str]) -> Plan:
        """Superset pre-filter from the other side's bind_values (see
        Plan.bind_values): lex ∈ known set, on shared certainly-bound,
        term-typed vars."""
        if not other.bind_values:
            return plan
        conds = []
        for v in shared:
            if (v not in other.bind_values or v not in plan.certain
                    or v in plan.id_vars):
                continue
            # store-level inversion first: row-IRI seeds become native
            # `pk IN (...)` filters the parquet reader can skip on
            native = self.store.bind_seed_condition(
                plan.df, v, other.bind_values[v])
            conds.append(
                native if native is not None
                else plan.df[v]["lex"].isin(*other.bind_values[v]))
        if not conds:
            return plan
        return Plan(plan.df.filter(_all(conds)), plan.certain, plan.id_vars,
                    plan.bind_values)

    def _join(self, left: Plan, right: Plan) -> Plan:
        shared = [v for v in left.variables if v in right.variables]
        left = self._bind_prefilter(left, right, shared)
        right = self._bind_prefilter(right, left, shared)
        rdf, ren = self._prep_right(right)
        if not shared:
            # nested-loop join (reference NestedLoopJoinPlan) — broadcast
            # the right side: a plain CartesianProduct MULTIPLIES
            # partition counts (n_l x n_r tasks; r9 found a bound-subject
            # 4-pattern star running 8^4 = 4096 tasks over 4 single-row
            # branches), while BroadcastNestedLoopJoin keeps the left
            # side's partitioning. A cross join with an UNBOUNDED right
            # side is a query pathology either way (the reference
            # materializes the rhs in memory too); bounded sides —
            # VALUES tables, bound-subject stars — are what this path
            # actually serves — so the hint is gated on the estimated
            # size (broadcast_if_small) rather than unconditional.
            df = left.df.crossJoin(
                F.broadcast(rdf) if right.bounded
                else self.broadcast_if_small(rdf))
        else:
            maybe = [v for v in shared
                     if v not in left.certain or v not in right.certain]
            ids = left.id_vars | right.id_vars
            if not maybe:
                cond = self._join_cond(left.df, rdf, ren, shared, True, ids)
                df = left.df.join(rdf, cond, "inner")
            elif len(maybe) <= self._MAX_SPLIT_VARS:
                df = self._compat_split_join(left.df, rdf, ren, shared, maybe, ids)
            else:
                cond = self._join_cond(left.df, rdf, ren, shared, False, ids)
                df = left.df.join(rdf, cond, "inner")
        df = self._merge(df, left, right, ren)
        return Plan(df, left.certain | right.certain,
                    left.id_vars | right.id_vars,
                    bounded=left.bounded and right.bounded)

    def _compat_split_join(
        self, ldf: DataFrame, rdf: DataFrame, ren: dict[str, str],
        shared: list[str], maybe: list[str],
        id_vars: frozenset[str] = frozenset(),
    ) -> DataFrame:
        """Scale-safe compatibility join: the naive encoding
        ``l IS NULL OR r IS NULL OR l = r`` is a non-equi condition that
        Spark can only execute as BroadcastNestedLoopJoin / cartesian —
        a cliff when both inputs are large. Instead, partition each side
        by boundness of every maybe-unbound shared var and union
        disjoint branches: the bound⋈bound branch (the bulk of the data)
        is a plain hash-joinable EQUI-join; only the null slices — in
        practice a tiny minority of rows, produced by OPTIONAL — pay a
        nested-loop, and only against the sliced inputs, never |L|×|R|.
        Per-var states: bb (both bound → equi key), ln (left unbound,
        matches any right), rn (left bound, right unbound) — disjoint
        and exhaustive."""
        branches = []
        for states in itertools.product(("bb", "ln", "rn"), repeat=len(maybe)):
            lconds, rconds = [], []
            keys = [v for v in shared if v not in maybe]
            for v, st in zip(maybe, states):
                if st == "bb":
                    lconds.append(ldf[v].isNotNull())
                    rconds.append(rdf[ren[v]].isNotNull())
                    keys.append(v)
                elif st == "ln":
                    lconds.append(ldf[v].isNull())
                else:  # rn
                    lconds.append(ldf[v].isNotNull())
                    rconds.append(rdf[ren[v]].isNull())
            lb = ldf.filter(_all(lconds)) if lconds else ldf
            rb = rdf.filter(_all(rconds)) if rconds else rdf
            if keys:
                cond = _all([
                    (lb[v] == rb[ren[v]]) if v in id_vars
                    else term_key(lb[v]) == term_key(rb[ren[v]])
                    for v in keys
                ])
                branches.append(lb.join(rb, cond, "inner"))
            else:
                # null-slice branch (tiny by construction): broadcast so
                # partition counts don't multiply (see _join)
                branches.append(lb.crossJoin(F.broadcast(rb)))
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out

    def _join_cond(
        self, ldf: DataFrame, rdf: DataFrame, ren: dict[str, str],
        shared: list[str], strict: bool,
        id_vars: frozenset[str] = frozenset(),
    ) -> Column:
        conds = []
        for vname in shared:
            if vname in id_vars:
                lk, rk = ldf[vname], rdf[ren[vname]]
            else:
                lk, rk = term_key(ldf[vname]), term_key(rdf[ren[vname]])
            if strict:
                conds.append(lk == rk)
            else:
                conds.append(lk.isNull() | rk.isNull() | (lk == rk))
        out = conds[0]
        for x in conds[1:]:
            out = out & x
        return out

    def _merge(self, df: DataFrame, left: Plan, right: Plan, ren: dict[str, str]) -> DataFrame:
        cols = []
        for v in left.variables:
            if v in ren:
                cols.append(F.coalesce(df[v], df[ren[v]]).alias(v))
            else:
                cols.append(df[v])
        for v in right.variables:
            if v not in left.variables:
                cols.append(df[ren[v]].alias(v))
        return df.select(*cols)

    def _left_join(self, left: Plan, right: Plan, expr: Expr | None) -> Plan:
        """OPTIONAL: RHS row merges only when compatible AND the attached
        filter passes over the *merged* row; otherwise the LHS row
        survives with the RHS vars unbound (QueryPlanner.swift:480-552)."""
        shared = [v for v in left.variables if v in right.variables]
        rdf, ren = self._prep_right(right)
        ids = left.id_vars | right.id_vars
        if shared:
            strict = all(v in left.certain and v in right.certain for v in shared)
            cond = self._join_cond(left.df, rdf, ren, shared, strict, ids)
        else:
            cond = F.lit(True)
        if expr is not None:
            exl: list = []
            _collect_exists(expr, exl)
            if exl:
                raise NotImplementedError(
                    "EXISTS inside an OPTIONAL's FILTER condition is not "
                    "supported (the mark join needs a materialized merged "
                    "row; the reference throws here too) — move the EXISTS "
                    "inside the OPTIONAL group or into an outer FILTER")
            env = {}
            for vname in left.variables:
                if vname in ren:
                    env[vname] = F.coalesce(left.df[vname], rdf[ren[vname]])
                else:
                    env[vname] = left.df[vname]
            for vname in right.variables:
                if vname not in env:
                    env[vname] = rdf[ren[vname]]
            cond = cond & ebv(compile_expr(expr, env)).eqNullSafe(F.lit(True))
        df = left.df.join(rdf, cond, "left_outer")
        df = self._merge(df, left, right, ren)
        certain = left.certain  # RHS-only vars may be unbound
        return Plan(df, certain, left.id_vars | right.id_vars)

    def _minus(self, left: Plan, right: Plan,
               graph_var: str | None = None) -> Plan:
        """``graph_var`` = the active-graph column threaded under
        ``GRAPH ?var``. Per §18.1.7 the spec evaluates Minus PER GRAPH
        with plain §18.5 semantics, where ?var is NOT part of the
        mappings (the extension with {?var→g} happens outside the
        pattern) — so the threaded column joins the COMPATIBILITY
        condition (per-graph separation: a g2 right row must not cancel
        a g1 left row) but never counts toward dom-disjointness. r11
        fuzz find (order/slice graph family, seed 10): a VALUES-only
        MINUS under GRAPH ?g cancelled everything because both sides
        'shared' the threaded ?g."""
        shared = [v for v in left.variables if v in right.variables]
        real = [v for v in shared if v != graph_var]
        if not real:
            return left  # disjoint domains never cancel (:554-569)
        rdf, ren = self._prep_right(right)
        ids = left.id_vars | right.id_vars
        strict = all(v in left.certain and v in right.certain for v in shared)
        if strict:
            cond = self._join_cond(left.df, rdf, ren, shared, True, ids)
        else:
            # ≥1 shared REAL var bound on both sides AND all shared
            # bound vars (graph column included) equal
            compat, overlap = None, None
            for vname in shared:
                if vname in ids:
                    lk, rk = left.df[vname], rdf[ren[vname]]
                else:
                    lk, rk = term_key(left.df[vname]), term_key(rdf[ren[vname]])
                c = lk.isNull() | rk.isNull() | (lk == rk)
                compat = c if compat is None else (compat & c)
                if vname == graph_var:
                    continue
                o = lk.isNotNull() & rk.isNotNull()
                overlap = o if overlap is None else (overlap | o)
            cond = compat & overlap
        return Plan(left.df.join(rdf, cond, "left_anti"), left.certain,
                    left.id_vars)

    def _semi(self, left: Plan, right: Plan, anti: bool) -> Plan:
        shared = [v for v in left.variables if v in right.variables]
        rdf, ren = self._prep_right(right)
        if shared:
            strict = all(v in left.certain and v in right.certain for v in shared)
            cond = self._join_cond(left.df, rdf, ren, shared, strict,
                                   left.id_vars | right.id_vars)
        else:
            cond = F.lit(True)
        how = "left_anti" if anti else "left_semi"
        return Plan(left.df.join(rdf, cond, how), left.certain, left.id_vars)

    def _union(self, left: Plan, right: Plan) -> Plan:
        """SPARQL UNION = bag concatenation (UnionPlan,
        MaterializedQueryPlan.swift:380-412); vars missing on one side are
        unbound there."""
        lv, rv = set(left.variables), set(right.variables)
        ids = left.id_vars | right.id_vars
        ldf, rdf = left.df, right.df
        for vname in rv - lv:
            fill = "long" if vname in ids else TERM_SCHEMA
            ldf = ldf.withColumn(vname, F.lit(None).cast(fill))
        for vname in lv - rv:
            fill = "long" if vname in ids else TERM_SCHEMA
            rdf = rdf.withColumn(vname, F.lit(None).cast(fill))
        ldf = ldf.select(*[c for c in ldf.columns if not c.startswith("__")])
        rdf = rdf.select(*[c for c in rdf.columns if not c.startswith("__")])
        df = ldf.unionByName(rdf)
        return Plan(df, (left.certain & right.certain), ids)

    def _mark_exists(
        self, child: Plan, expr, g: A.Node | None
    ) -> tuple[Plan, "Expr", list[str]]:
        """Decorrelate EXISTS nodes nested INSIDE an expression (EXISTS
        is a BuiltInCall — legal in BIND, IF, &&/||, anywhere an
        expression appears, SPARQL 1.1 §17.4.1.4) via a mark join: the
        proven semi/anti compatibility machinery partitions the child
        bag into matched and unmatched halves, which re-union with a
        boolean flag column the rewritten expression reads (EMarker).
        Bag semantics are exact — semi and anti partition the bag.
        Costs two joins per nested EXISTS; the common FILTER-top-level
        form keeps its single-join fast path in _filter."""
        nodes: list[EExists] = []
        _collect_exists(expr, nodes)
        if not nodes:
            return child, expr, []
        cur, repl, markers = child, {}, []
        for i, ex in enumerate(nodes):
            m = f"__exists_{i}"
            sub = self._c(ex.algebra, g)
            matched = self._semi(cur, sub, anti=False)
            unmatched = self._semi(cur, sub, anti=True)
            df = matched.df.withColumn(m, F.lit(not ex.anti)).unionByName(
                unmatched.df.withColumn(m, F.lit(ex.anti)))
            cur = Plan(df, cur.certain, cur.id_vars, cur.bind_values)
            repl[id(ex)] = EMarker(m)
            markers.append(m)
        return cur, _replace_exists(expr, repl), markers

    def _filter(self, node: A.Filter, g: A.Node | None) -> Plan:
        # FILTER (NOT) EXISTS → semi/anti join (ExistsPlan decorrelation)
        e = node.expr
        if isinstance(e, EExists):
            sub = self._c(e.algebra, g)
            return self._semi(self._c(node.child, g), sub, e.anti)
        child = self._c(node.child, g)
        child, e, markers = self._mark_exists(child, e, g)
        from kineo_spark.expr import (ECall, apply_hoisted,
                                      compile_filter_condition, hoist_scope)
        # df.filter keeps only TRUE rows (NULL drops) — exactly SPARQL's
        # error-drops-row rule; no wrapper, so parquet sees plain predicates.
        # Top-level && conjuncts compile SEPARATELY: FILTER(A && B) keeps a
        # row iff both are literally true, so per-conjunct filters are
        # exact — and conjuncts that register no hoist columns apply BELOW
        # the nondeterministic hoist barrier, keeping parquet pushdown for
        # the plain predicates that share a FILTER with a computed IN.
        def conjuncts(x):
            if isinstance(x, ECall) and x.op == "&&":
                return conjuncts(x.args[0]) + conjuncts(x.args[1])
            return [x]

        env = _env(child.df)
        plain, hoisted_conds, hoisted = [], [], []
        for part in conjuncts(e):
            with hoist_scope() as h:
                cond = compile_filter_condition(part, env)
            (hoisted_conds if h else plain).append(cond)
            hoisted.extend(h)
        df = child.df
        for cond in plain:
            df = df.filter(cond)
        # hoisted IN-branch/deep-arith subtrees: one select per dependency
        # level, pushdown-barriered (see apply_hoisted)
        df, hnames = apply_hoisted(df, hoisted)
        for cond in hoisted_conds:
            df = df.filter(cond)
        drop = markers + hnames
        if drop:
            df = df.drop(*drop)
        return Plan(df, child.certain, child.id_vars)

    # -- aggregation ------------------------------------------------------
    def _graph_scoped_child(self, node_child: A.Algebra,
                            g: "A.Node | None") -> tuple[Plan, str | None]:
        """Compile the child of a non-monotonic operator (Aggregate /
        Window / Slice) under an active graph. Under ``GRAPH ?var`` the
        operator must evaluate PER GRAPH (§18.1.7; the reference wraps
        ALL operators in the per-graph union, QueryPlanner.swift:
        834-878) — here that means the graph column becomes an implicit
        group/partition key, which is the scale-out form: one shuffle
        keyed by (graph, keys) instead of a per-graph driver loop.
        Returns (child plan with the graph column guaranteed bound,
        graph var name) — or (child, None) outside a GRAPH ?var scope."""
        child = self._c(node_child, g)
        if not (isinstance(g, A.Var) and g.binding):
            return child, None
        if g.name not in child.df.columns:
            # graph-transparent subtree (VALUES-only and friends):
            # bind ?var per named graph first
            child = self._scope_graph(child, g)
        return child, g.name

    def graph_key_col(self, plan: Plan, gname: str) -> Column:
        """Per-graph key column, representation-aware: dictionary ids
        group/partition directly (id equality == sameTerm); term structs
        go through the canonical flat key."""
        col = plan.df[gname]
        return col if gname in plan.id_vars else term_key(col)

    def _aggregate(self, node: A.Aggregate, g: A.Node | None) -> Plan:
        from kineo_spark.aggregates import compile_aggregate
        if self.cs_stats and not self.plans_only:
            from kineo_spark.stats import try_count_star_plan
            plan = try_count_star_plan(self, node, g)
            if plan is not None:
                return plan
        child, gv = self._graph_scoped_child(node.child, g)
        return compile_aggregate(self, node, child, graph_var=gv)

    def _window(self, node: A.Window, g: A.Node | None) -> Plan:
        from kineo_spark.windows import compile_window
        child, gv = self._graph_scoped_child(node.child, g)
        return compile_window(node, child, graph_var=gv,
                              graph_key=(self.graph_key_col(child, gv)
                                         if gv else None))

    def _slice_per_graph(self, node: A.Slice, g: A.Var) -> Plan:
        """OFFSET/LIMIT under GRAPH ?var: per-graph row_number instead
        of a global limit. When the slice sits on an ORDER BY (directly
        or through the subquery projection — the standard
        Slice(Project(Order(..))) translation), the comparators order
        the rows WITHIN each graph, so per-graph top-k matches the
        reference's per-graph evaluation of the ordered subquery."""
        from pyspark.sql import Window as W

        # Peel Distinct/Reduced, Project, and Order in WHATEVER order
        # they layer (at most one of each): the canonical translation is
        # Slice(Distinct(Project(Order(X)))), but a
        # Slice(Project(Distinct(Order(X)))) tree must still find the
        # inner Order — probing a fixed order left it undetected, so the
        # per-graph row_number ordered by lit(1) and returned arbitrary
        # rows despite the ORDER BY (ADVICE r10).
        cur = node.child
        distinct_node = proj_node = order_node = None
        distinct_below_proj = False
        while order_node is None:
            if isinstance(cur, (A.Distinct, A.Reduced)) and distinct_node is None:
                distinct_below_proj = proj_node is not None
                distinct_node, cur = cur, cur.child
            elif isinstance(cur, A.Project) and proj_node is None:
                proj_node, cur = cur, cur.child
            elif isinstance(cur, A.Order):
                order_node, cur = cur, cur.child
            else:
                break
        child, gv = self._graph_scoped_child(cur, g)
        if distinct_node is not None:
            # DISTINCT applies at its place in the tree: in the
            # canonical shape it dedups the PROJECTED rows (apply the
            # projection first, then drop it); in the
            # Project(Distinct(...)) shape it dedups the full-width
            # rows and the projection still runs AFTER the slice. Either
            # way the per-graph row_number below re-establishes the
            # ORDER BY the dedup shuffle destroyed.
            if proj_node is not None and not distinct_below_proj:
                child = self._c_project_of(proj_node, child, g)
                proj_node = None
            child = Plan(self._distinct(child.df, child.id_vars),
                         child.certain, child.id_vars)
        df = child.df
        env = _env(df)
        orders = []
        if order_node is not None:
            for cmp in order_node.comparators:
                k = sort_key(compile_expr(cmp.expr, env))
                orders.append(k.asc() if cmp.ascending else k.desc())
        w = (W.partitionBy(self.graph_key_col(child, gv))
             .orderBy(*(orders or [F.lit(1)])))
        tmp = _tmp("rn")
        out = df.withColumn(tmp, F.row_number().over(w))
        lo = node.offset or 0
        cond = F.col(tmp) > lo
        if node.limit is not None:
            cond = cond & (F.col(tmp) <= lo + node.limit)
        plan = Plan(out.filter(cond).drop(tmp), child.certain,
                    child.id_vars)
        if proj_node is not None:
            return self._c_project_of(proj_node, plan, g)
        return plan

    def _c_project_of(self, node: A.Project, child: Plan,
                      g: "A.Node | None") -> Plan:
        """Apply a Project node to an already-compiled child (used by
        _slice_per_graph, which compiles through the projection to keep
        the ORDER BY keys in scope), with the same active-graph
        passthrough as the _c Project branch."""
        cols = [
            (child.df[v] if v in child.df.columns
             else F.lit(None).cast(TERM_SCHEMA)).alias(v)
            for v in node.variables
        ]
        keep = set(node.variables)
        if (isinstance(g, A.Var) and g.binding
                and g.name in child.df.columns and g.name not in keep):
            cols.append(child.df[g.name].alias(g.name))
            keep.add(g.name)
        return Plan(child.df.select(*cols), child.certain & keep,
                    child.id_vars & keep)

"""ID-mode (dictionary-encoded) twins of the BGP-bearing oracle queries.

Each ``sparql_id_*`` entry is the identical query to its ``sparql_*``
twin, executed with the compiler's ``mode=id`` toggle: BGP scans and
joins run on the 4×long ``id_quads`` layout (8-byte shuffle keys — the
100 TB shuffle currency, SURVEY §1.4) and terms materialize lazily via
dictionary joins, mirroring the reference's IDQueryPlan →
MaterializeTermsPlan boundary (SPARQL/IDQueryPlan.swift,
MaterializedQueryPlan.swift:11-61). The oracle SQL is shared with the
term-mode twin, so the driver hash-checks that both execution modes
agree with DuckDB.

BGP-bearing and path-bearing families are twinned (paths.eval_path
keeps join-only endpoints as dictionary ids in ID mode). Window functions
share one code path in both modes, so an id twin would re-test the
same plan.
"""

from __future__ import annotations

from kineo_spark import queries_sparql as qs

QUERIES: dict[str, callable] = {}
ORACLES: dict[str, str] = {}

# BGP-bearing families (see module docstring for the exclusion rule)
_TWINNED = [
    "sparql_scan_project",
    "sparql_filter_order_limit",
    "sparql_bgp_3hop_join",
    "sparql_optional_leftjoin",
    "sparql_union",
    "sparql_minus",
    "sparql_filter_not_exists",
    "sparql_distinct",
    "sparql_values_join",
    "sparql_bind_extend",
    "sparql_agg_q1",
    "sparql_agg_having",
    "sparql_agg_minmax",
    "sparql_group_concat",
    "sparql_count_distinct",
    "sparql_subquery_join_agg",
    "sparql_ask",
    "sparql_construct",
    "sparql_graph_stats",
    "sparql_expr_strings",
    "sparql_expr_datetime",
    "sparql_expr_conditional",
    "sparql_reduced",
    # property paths (paths.eval_path: id-long edge fetch, long-pair
    # closure, survivor-only term materialization — join-only endpoints
    # stay ids in ID mode) — twin the whole family
    "sparql_path_seq",
    "sparql_path_inverse",
    "sparql_path_alt_plus",
    "sparql_path_zero_or_one",
    "sparql_path_nps",
    # r4: remaining BGP-bearing expression/filter families
    "sparql_expr_timezone",
    "sparql_regex_filter",
    "sparql_str_before_after",
    "sparql_coalesce_optional",
    "sparql_term_kind_tests",
    "sparql_hash_functions",
    "sparql_agg_sample",
    # r6: EXISTS in expression position (mark join) over id-mode plans —
    # the semi/anti partition and marker union run on dictionary ids
    "sparql_exists_bind",
    # r8: per-named-graph path closure (GRAPH ?g over a cross-graph FK
    # alternation) — the id evaluator scopes {g, n} id-struct keys
    "sparql_graph_path_scoped",
    # r10: per-graph evaluation of Aggregate and Slice under GRAPH ?var
    # (the graph column as implicit group / row_number key) over
    # id-mode plans
    "sparql_graph_subquery_count",
    "sparql_graph_subquery_limit",
    # r11: MINUS under GRAPH ?var — dom-disjointness over the pattern's
    # own vars, the threaded graph column as scope only
    "sparql_graph_minus_disjoint",
    # r12: MIN/MAX error-skip over an OPTIONAL operand (fuzz find) —
    # the null-term ordering carve-out must hold on id-mode plans too
    "sparql_agg_minmax_optional",
]


def _lookup(orig_name: str):
    """Twinnable queries live in queries_sparql or queries_more — both
    compile through queries_sparql.compiler_for, so the mode toggle
    routes either module's BGPs through the ID layout."""
    if orig_name in qs.QUERIES:
        return qs.QUERIES[orig_name], qs.ORACLES.get(orig_name)
    from kineo_spark import queries_more as qm
    return qm.QUERIES[orig_name], qm.ORACLES.get(orig_name)


def _make(orig_name: str, mode: str = "id"):
    base, _ = _lookup(orig_name)
    prefix = f"sparql_{mode}_"

    def f(spark, sf_dir, _base=base, _mode=mode):
        qs.set_mode(_mode)
        try:
            # compilation happens inside the wrapped query fn, under id
            # mode; the returned DataFrame's plan is already fixed
            return _base(spark, sf_dir)
        finally:
            qs.set_mode("term")

    f.__name__ = orig_name.replace("sparql_", prefix)
    return f


for _name in _TWINNED:
    _id_name = _name.replace("sparql_", "sparql_id_")
    QUERIES[_id_name] = _make(_name)
    _oracle = _lookup(_name)[1]
    if _oracle is not None:
        ORACLES[_id_name] = _oracle

# 128-bit (two-long struct id) twins: the collision-safe 100 TB key
# mode exercised end-to-end on a representative slice of the BGP, agg,
# OPTIONAL, path-closure, and ORDER BY families — same oracle SQL, so
# the driver hash-checks that struct ids change no answer.
_TWINNED_128 = [
    "sparql_bgp_3hop_join",
    "sparql_agg_q1",
    "sparql_optional_leftjoin",
    "sparql_filter_order_limit",
    "sparql_count_distinct",
    "sparql_path_alt_plus",
    # r6: every join-semantics corner gets its own hash-green 128-bit
    # row (MINUS domain-disjointness, NOT-EXISTS anti-join, bag UNION,
    # DISTINCT on struct ids, GROUP_CONCAT determinism, window
    # functions over id-mode BGPs, DESCRIBE's CBD closure)
    "sparql_minus",
    "sparql_filter_not_exists",
    "sparql_union",
    "sparql_distinct",
    "sparql_group_concat",
    "sparql_window_rank",
    "sparql_window_running_sum",
    "sparql_describe",
    # r6: the mark-join EXISTS at the collision-safe struct width
    "sparql_exists_bind",
    # r8: per-named-graph path closure at the 128-bit key width
    "sparql_graph_path_scoped",
    # r10: per-graph subquery aggregate/limit at the 128-bit key width
    "sparql_graph_subquery_count",
    "sparql_graph_subquery_limit",
    # r11: graph-scoped MINUS dom-disjointness at the struct key width
    "sparql_graph_minus_disjoint",
    # r12: MIN/MAX error-skip at the struct key width
    "sparql_agg_minmax_optional",
]

for _name in _TWINNED_128:
    _id_name = _name.replace("sparql_", "sparql_id128_")
    QUERIES[_id_name] = _make(_name, mode="id128")
    _oracle = _lookup(_name)[1]
    if _oracle is not None:
        ORACLES[_id_name] = _oracle


def sparql_id_valueorder_range(spark, sf_dir):
    """IDSortPlan analog (reference IdentityMap.swift:19-120 value-
    ordered packed ids, re-expressed columnar): range FILTER + ORDER BY
    + LIMIT run ENTIRELY in id space on the value shadow — no
    dictionary join anywhere in the plan.

    This entry uses the hash-at-scan currency its id-mode siblings use
    (id_of_term_col over a star-collapsed native scan) rather than
    building a fresh 4×long IdEncodedView: the round-5 sweep showed the
    cold encode+repartition+cache costing 26s for this one entry while
    every sibling ran warm. The persisted-layout variant of the same
    plan (range predicate parquet-pushed on o_num, no Join before the
    Sort) stays pinned by tests/test_id_layout.py::
    test_valueorder_range_pure_idspace."""
    from pyspark.sql import functions as F

    from kineo_spark import algebra as A
    from kineo_spark.dictionary import id_of_term_col

    store = qs.compiler_for(spark, sf_dir).store
    star = store.scan_star([
        A.QuadPattern(A.Var("c"), qs.col("customer", "c_custkey"),
                      A.Var("key"), None),
        A.QuadPattern(A.Var("c"), qs.col("customer", "c_name"),
                      A.Var("name"), None),
    ])
    # join-var currency: 8-byte dictionary id straight off the scan
    # (identical to the persisted layout's id for the same term); the
    # value vars keep their scan-native structs, so the range filter on
    # the numeric shadow simplifies to the raw parquet column and
    # pushes into the scan — Catalyst's CreateNamedStruct field
    # extraction does the o_num projection for free.
    star = star.withColumn("c", id_of_term_col(star["c"]))
    top = (star.filter(F.col("key")["num"] > 100)
           .orderBy(F.col("key")["num"].desc())
           .limit(25))
    return top.select(F.col("key")["num"].alias("key"),
                      F.col("name")["lex"].alias("name"))


QUERIES["sparql_id_valueorder_range"] = sparql_id_valueorder_range
ORACLES["sparql_id_valueorder_range"] = (
    "SELECT CAST(c_custkey AS DOUBLE) AS key, c_name AS name "
    "FROM customer WHERE c_custkey > 100 "
    "ORDER BY c_custkey DESC LIMIT 25"
)


def sparql_id_strorder_range(spark, sf_dir):
    """STRING half of the IDSortPlan analog (IdentityMap.swift:53-80
    inlines short strings into value-ordered ids): range FILTER + ORDER
    BY on a simple-string object run in id space on the string value
    shadow — the predicate simplifies to the raw parquet lex column and
    pushes into the scan; no dictionary join before the Sort. The
    persisted-layout variant (pushed o_str prefix predicate) is pinned
    by tests/test_id_layout.py::test_strorder_range_pure_idspace."""
    from pyspark.sql import functions as F

    from kineo_spark import algebra as A
    from kineo_spark.dictionary import id_of_term_col

    store = qs.compiler_for(spark, sf_dir).store
    star = store.scan_star([
        A.QuadPattern(A.Var("c"), qs.col("customer", "c_name"),
                      A.Var("name"), None),
        A.QuadPattern(A.Var("c"), qs.col("customer", "c_mktsegment"),
                      A.Var("seg"), None),
    ])
    star = star.withColumn("c", id_of_term_col(star["c"]))
    top = (star.filter((F.col("name")["lex"] >= "Customer#000000100")
                       & (F.col("name")["lex"] <= "Customer#000000500"))
           .orderBy(F.col("name")["lex"].desc())
           .limit(25))
    return top.select(F.col("name")["lex"].alias("name"),
                      F.col("seg")["lex"].alias("seg"))


QUERIES["sparql_id_strorder_range"] = sparql_id_strorder_range
ORACLES["sparql_id_strorder_range"] = (
    "SELECT c_name AS name, c_mktsegment AS seg FROM customer "
    "WHERE c_name >= 'Customer#000000100' AND c_name <= 'Customer#000000500' "
    "ORDER BY c_name DESC LIMIT 25"
)

"""Dictionary-encoded (ID-space) execution mode.

Reference: the lazy-materializing ID path — terms interned to UInt64,
whole plans running on ID tuples, topped by ``MaterializeTermsPlan``
(/root/reference/Sources/Kineo/QuadStore/MemoryQuadStore.swift:19-60,
SPARQL/IDQueryPlan.swift, SPARQL/MaterializedQueryPlan.swift:11-61;
SURVEY §1.3/§3.3).

Spark-native version:
- IDs are ``xxhash64`` of the canonical term key — assigned with NO
  global coordination (no zipWithIndex barrier, no driver dictionary):
  at 100 TB, hash-interning is the only strategy that doesn't serialize
  on an id counter. Collision risk is the birthday bound ~n²/2⁶⁵: at
  n=10⁸ distinct terms it's ~3×10⁻⁴ (fine), but at n=5×10⁹ — a
  plausible 100 TB corpus — it reaches ~50%, and a collision silently
  merges two terms in every join. The layout therefore carries a
  COLLISION AUDIT (``audit_id_collisions``): one count-distinct pass at
  layout-build time that fails loudly if any two distinct term keys
  share an id — it runs inside ``persist_id_layout`` by default, so the
  at-rest layout is certified collision-free. Two remedies for corpora
  that trip it: (a) ``encode_quads_repaired`` — a deterministic salted
  rekey of the colliding terms (O(#collisions) CASE chain in the id
  expression, one re-encode pass; for a handful of stragglers), and
  (b) ``key_bits=128`` — the documented 100 TB DEFAULT (SCALE.md): ids
  become struct<h:long,l:long> of two independent xxhash64 halves
  (birthday bound ~n²/2¹²⁹, negligible forever). Struct columns are
  first-class join/shuffle/bucket/sort keys in Spark, so the same code
  path serves both widths end-to-end (encode, BGP joins, path
  closures, materialize, audit, bucketed layout — pytest-pinned zero-
  Exchange star joins included); the oracle twins ``sparql_id128_*``
  hash-check the mode against DuckDB.
- ``id_quads`` is a 4×long table: shuffles and joins move 32 bytes/row
  instead of full lexical forms — the same win the reference gets from
  its packed IDs.
- ``materialize`` joins the dictionary back for exactly the projected
  variables (the MaterializeTermsPlan analog), broadcast when small.

Round-1 scope: the encoding, ID-space BGP joins, and materialization
are implemented and tested; the main compiler still runs term-space
(its star-collapsed scans read native parquet directly, which is faster
for the driver workload since no conversion pass exists). Wiring a full
ID-mode compile toggle is the designed next step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kineo_spark import algebra as A
from kineo_spark.model import KIND_LITERAL, PyTerm, TERM_SCHEMA, term_struct

_KEY = ["kind", "lex", "dt", "lang"]

# inline width of the string value shadow (o_str, encode_quads): the
# columnar analog of the reference's short-string id inlining threshold
# (IdentityMap.swift:53-80 packs strings that fit a 64-bit id; a column
# is not width-starved, so the cutoff is a tuning knob, not a format
# constraint). Simple-string objects at or under this many characters
# are value-ordered EXACTLY by the shadow; longer ones carry a prefix
# that still supports pushed range pruning (str_range_ids).
STR_SHADOW_LEN = 32


def _key_cols(prefix: str):
    k = lambda c: F.col(f"{prefix}_{c}") if prefix else F.col(c)  # noqa: E731
    return [
        k("kind").cast("string"),
        k("lex"),
        F.coalesce(k("dt"), F.lit("")),
        F.coalesce(k("lang"), F.lit("")),
    ]


# second-hash salt for the two-long (128-bit) key mode; outside the
# 1..max_rounds range the collision-repair rekey uses, so the two hash
# families never coincide
_SALT128 = 1280


def _id_expr(kind, lex, dt, lang, key_bits: int = 64):
    """THE id assignment: xxhash64 of the canonical term key. One
    definition shared by the dictionary build, the quad encoder, and
    constant-term lookups (and the monkeypatch point for the forced-
    collision tests).

    ``key_bits=128`` — the 100 TB default (SCALE.md): the id is a
    struct of TWO independent xxhash64 halves (h, l). Struct columns
    are first-class join/shuffle/bucket keys in Spark, so every
    consumer (scans, BGP joins, closures, materialize, the bucketed
    layout) works unchanged; the birthday bound drops from ~n²/2⁶⁵
    (~50% at 5×10⁹ terms) to ~n²/2¹²⁹ (negligible forever)."""
    dtn = F.coalesce(dt, F.lit("")) if dt is not None else F.lit("")
    lan = F.coalesce(lang, F.lit("")) if lang is not None else F.lit("")
    h = F.xxhash64(kind.cast("string"), lex, dtn, lan)
    if key_bits == 64:
        return h
    return F.struct(
        h.alias("h"),
        F.xxhash64(F.lit(_SALT128), kind.cast("string"), lex, dtn, lan).alias("l"),
    )


def _term_id(prefix: str, key_bits: int = 64):
    k = _key_cols(prefix)
    return _id_expr(k[0], k[1], k[2], k[3], key_bits)


def encode_quads(quads_flat: DataFrame, id_fn=None,
                 key_bits: int = 64) -> tuple[DataFrame, DataFrame]:
    """Flat quads (FIXTURES §0) → (dictionary, id_quads).

    dictionary: (id long, kind, lex, dt, lang, num) — distinct terms.
    id_quads:   (s long, p long, o long, g long).

    ``id_fn(kind, lex, dt, lang) -> Column`` overrides the id
    assignment (collision repair amends it; tests force collisions
    through it). Default: ``_id_expr``. ``key_bits=128`` switches the
    id columns to struct<h:long,l:long> two-long keys throughout.
    """
    q = quads_flat
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    qid = id_fn or (lambda k, l, d, la: _id_expr(k, l, d, la, key_bits))

    def dict_part(kind, lex, dt, lang, num):
        return q.select(
            kind.cast("tinyint").alias("kind"), lex.alias("lex"),
            dt.alias("dt"), lang.alias("lang"), num.alias("num"),
        )

    terms = (
        dict_part(q["s_kind"], q["s_lex"], null_s, null_s, null_d)
        .unionByName(dict_part(F.lit(0), q["p_lex"], null_s, null_s, null_d))
        .unionByName(dict_part(q["o_kind"], q["o_lex"], q["o_dt"], q["o_lang"], q["o_num"]))
        .unionByName(dict_part(F.lit(0), q["g_lex"], null_s, null_s, null_d))
        .dropDuplicates(["kind", "lex", "dt", "lang"])
    )
    k = _key_cols("")
    dictionary = terms.select(qid(k[0], k[1], k[2], k[3]).alias("id"),
                              *_KEY, "num")

    # o_num — the object's numeric value shadow (lexical_num: numerics,
    # booleans, temporals; null otherwise) — rides as a 5th layout
    # column. This is the Spark-columnar analog of the reference's
    # VALUE-ORDERED PACKED IDS (QuadStore/IdentityMap.swift:19-120,
    # which inlines ints/dates into the id so id order ≈ value order):
    # instead of packing the value INTO the id (a trick the reference's
    # B-tree needs), a columnar layout carries the value beside it —
    # pruned for free when unused, and when used it makes range FILTERs
    # parquet-pushable and ORDER BY join-free in pure id space
    # (scan_ids(with_num=True); the IDSortPlan analog). Same outcome —
    # no dictionary join before a Sort — with none of the injectivity
    # compromises id-packing forces.
    #
    # o_str — the STRING analog (IdentityMap.swift:53-80, which inlines
    # short strings into the id the same way): the first STR_SHADOW_LEN
    # characters of string-literal objects (plain / xsd:string /
    # langString — exactly the operands the engine's string ordering
    # comparison accepts, expr.is_string_lit; null otherwise).
    # Character-prefix order is consistent with full-string order
    # (UTF-8 preserves code-point order), so a range predicate on the
    # full value compiles to a parquet-pushed prefix predicate on
    # o_str; values short enough to fit are ordered EXACTLY by the
    # shadow — str_range_ids below carries the exactness contract for
    # the rest.
    is_sstr = (
        (q["o_kind"] == KIND_LITERAL)
        & q["o_dt"].isin("string", "langString")
    )
    id_quads = q.select(
        qid(q["s_kind"], q["s_lex"], None, None).alias("s"),
        qid(F.lit(0), q["p_lex"], None, None).alias("p"),
        qid(q["o_kind"], q["o_lex"], q["o_dt"], q["o_lang"]).alias("o"),
        qid(F.lit(0), q["g_lex"], None, None).alias("g"),
        q["o_num"].alias("o_num"),
        F.when(is_sstr, F.substring(q["o_lex"], 1, STR_SHADOW_LEN))
         .alias("o_str"),
    )
    return dictionary, id_quads


def _remapped_id_fn(remap: dict, base_fn=None):
    """Amend an id function with a driver-known remap
    {(kind_str, lex, dt_or_empty, lang_or_empty): new_id}. The remap is
    O(#collisions) — at most a handful even at the 50%-birthday design
    point — so it compiles to a pure-Column CASE chain: no joins, no
    broadcast, zero cost on non-colliding rows."""
    base = base_fn or _id_expr

    def rid(kind, lex, dt=None, lang=None):
        out = base(kind, lex, dt, lang)
        dtn = F.coalesce(dt, F.lit("")) if dt is not None else F.lit("")
        lan = F.coalesce(lang, F.lit("")) if lang is not None else F.lit("")
        for (k_, l_, d_, la_), new_id in remap.items():
            hit = (
                (kind.cast("string") == k_) & (lex == l_)
                & (dtn == d_) & (lan == la_)
            )
            out = F.when(hit, F.lit(new_id).cast("long")).otherwise(out)
        return out

    return rid


def term_key_tuple(kind, lex, dt, lang) -> tuple:
    """The normalized driver-side term key matching _id_expr's inputs."""
    return (str(kind), lex, dt or "", lang or "")


def encode_quads_repaired(
    quads_flat: DataFrame, id_fn=None, max_rounds: int = 8,
) -> tuple[DataFrame, DataFrame, dict]:
    """The 64-bit collision ESCAPE HATCH: encode, audit, and — iff the
    audit finds colliding ids — deterministically rekey the losers and
    re-encode.

    Within each colliding id group the first term (by term-key order)
    keeps its hash id; every later term gets ``xxhash64(salt, key)``
    with the smallest salt that is globally clash-free. Detection is
    one aggregation; the rekey set is O(#collisions) (≈ a couple of
    pairs even at the 5×10⁹-term 50%-birthday design point), so the
    repair compiles to a CASE chain in the id expression and the
    re-encode costs the same single pass as the original encode.
    Returns (dictionary, id_quads, remap); an empty remap means the
    plain encode was already injective. The remap must be kept with the
    layout: constant-term filters consult it before hashing
    (``scan_ids(..., remap=...)``).

    INVARIANT (ADVICE r11): repaired layouts live ONLY behind the
    explicit scan_ids/persist_id_layout workflow that carries the remap.
    The id_compiler stack (IdEncodedView, hash-at-scan
    ``id_of_term_col``, and consumers like the per-graph empty-bag fill
    in aggregates.py that anti-join freshly hashed graph terms against
    plan ids) is built on ``id = raw hash`` with NO remap — it never
    reads a repaired layout, so a repaired id can never meet a raw hash
    in the same plan. Anyone wiring a repaired layout into a compiler
    must thread the remap through EVERY ``id_of_term_col`` site
    (``_remapped_id_fn``), not just the scans."""
    base = id_fn or _id_expr
    dictionary, id_quads = encode_quads(quads_flat, id_fn=base)
    dup = dictionary.groupBy("id").count().filter(F.col("count") > 1)
    dup_ids = [r["id"] for r in dup.collect()]
    if not dup_ids:
        return dictionary, id_quads, {}
    spark = quads_flat.sparkSession
    rows = dictionary.filter(F.col("id").isin(dup_ids)).collect()
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    losers = []  # rows needing fresh ids
    for _, group in sorted(by_id.items()):
        group = sorted(group, key=lambda r: term_key_tuple(
            r["kind"], r["lex"], r["dt"], r["lang"]))
        losers.extend(group[1:])
    taken = {r["id"] for r in rows}
    remap: dict = {}
    pending = losers
    for salt in range(1, max_rounds + 1):
        if not pending:
            break
        keys = [term_key_tuple(r["kind"], r["lex"], r["dt"], r["lang"])
                for r in pending]
        kdf = spark.createDataFrame(
            [(i, *k) for i, k in enumerate(keys)],
            "i int, k string, l string, d string, la string")
        fresh = {
            r["i"]: r["nid"] for r in kdf.select(
                "i", F.xxhash64(F.lit(salt), "k", "l", "d", "la").alias("nid")
            ).collect()
        }
        still = []
        for i, r in enumerate(pending):
            nid = fresh[i]
            if nid in taken or nid in remap.values():
                still.append(r)  # try the next salt
                continue
            remap[keys[i]] = nid
            taken.add(nid)
        pending = still
    if pending:
        raise IdCollisionError(
            f"could not find clash-free salted ids for {len(pending)} "
            f"term(s) in {max_rounds} rounds")
    rid = _remapped_id_fn(remap, base)
    dictionary, id_quads = encode_quads(quads_flat, id_fn=rid)
    return dictionary, id_quads, remap


def _const_id(term: PyTerm, key_bits: int = 64):
    """ID of a constant term — computed lazily as a Column (same xxhash64
    the encoder used), so bound-term filters need no driver round-trip."""
    return _id_expr(
        F.lit(str(term.kind)), F.lit(term.lex),
        F.lit(term.dt or ""), F.lit(term.lang or ""), key_bits,
    )


def id_of_term_col(t, key_bits: int = 64):
    """Dictionary id of a term-struct Column — the same xxhash64 key the
    encoder assigns (encode_quads), so ids computed directly from a
    native-parquet star scan agree with ids from the 4×long layout.
    This is what lets ID mode reuse term mode's star-collapsed scans:
    a multi-column parquet read plus a per-row hash REPLACES a
    per-pattern scan + dictionary join, with no re-encode pass."""
    return _id_expr(t["kind"], t["lex"], t["dt"], t["lang"], key_bits)


def scan_ids(id_quads: DataFrame, pattern: A.QuadPattern,
             remap: dict | None = None, key_bits: int = 64,
             with_num: bool = False, with_str: bool = False) -> DataFrame:
    """Pattern scan in ID space: bound positions filter on longs,
    variables project long columns (IDQuadPlan, IDQueryPlan.swift:11-81).
    ``remap`` is a collision-repair table (encode_quads_repaired):
    constant terms consult it before falling back to the hash id.

    ``with_num=True`` additionally projects the object variable's value
    shadow as ``__num_<var>`` (from the layout's o_num column — see
    encode_quads): the IDSortPlan analog. Range predicates and ORDER BY
    on that column run in pure id space — no dictionary join, and the
    filter pushes into the parquet scan of the persisted layout.
    ``with_str=True`` does the same for the string shadow
    (``__str_<var>`` from o_str — prefix semantics, see str_range_ids)."""
    if remap and key_bits != 64:
        # remap values are 64-bit repaired longs; comparing them against
        # 128-bit struct ids would fail at analysis time (or silently
        # match nothing). 128-bit mode never needs repair (collision
        # p < 1e-18 at 10^9 terms) — fail loudly at the API boundary.
        raise ValueError("scan_ids: remap requires key_bits=64 "
                         "(128-bit struct ids take no repair table)")
    df = id_quads
    out: dict[str, str] = {}
    num_var: str | None = None
    for pos, node in pattern.nodes():
        if isinstance(node, PyTerm):
            key = term_key_tuple(node.kind, node.lex, node.dt, node.lang)
            if remap and key in remap:
                df = df.filter(F.col(pos) == F.lit(remap[key]).cast("long"))
                continue
            df = df.filter(F.col(pos) == _const_id(node, key_bits))
        elif isinstance(node, A.Var):
            if node.name in out:
                df = df.filter(F.col(pos) == F.col(out[node.name]))
            elif node.binding:
                out[node.name] = pos
                if pos == "o":
                    num_var = node.name
    cols = [F.col(p).alias(n) for n, p in out.items()]
    if with_num and num_var is not None and "o_num" in df.columns:
        cols.append(F.col("o_num").alias(f"__num_{num_var}"))
    if with_str and num_var is not None and "o_str" in df.columns:
        cols.append(F.col("o_str").alias(f"__str_{num_var}"))
    return df.select(*cols)


def audit_str_inline(dictionary: DataFrame) -> bool:
    """True iff EVERY simple-string term in the dictionary fits the
    string shadow (length ≤ STR_SHADOW_LEN), i.e. o_str carries exact
    values, not prefixes — the precondition for the join-free fast path
    of str_range_ids. One aggregation over the (cached) dictionary;
    persisted layouts can record the result as table metadata."""
    row = dictionary.filter(
        (F.col("kind") == KIND_LITERAL)
        & F.col("dt").isin("string", "langString")
    ).agg(F.max(F.length("lex")).alias("m")).collect()[0]
    return (row["m"] or 0) <= STR_SHADOW_LEN


def str_range_ids(id_quads: DataFrame, pattern: A.QuadPattern,
                  lo: str, hi: str, dictionary: DataFrame | None = None,
                  key_bits: int = 64) -> DataFrame:
    """Range scan ``lo ≤ ?o ≤ hi`` over string-literal objects (plain /
    xsd:string / langString — the engine's string-ordering domain) in
    PURE ID SPACE via the o_str shadow — the string half of the
    reference's value-ordered id order (IdentityMap.swift:53-80 inlines
    short strings into the id; here the shadow column plays that role).

    The pushed predicate is the PREFIX range ``o_str BETWEEN lo[:N] AND
    hi[:N]`` (prefix order is consistent with full order, so this is a
    superset that parquet-prunes row groups at any scale). Exactness:

    - rows whose shadow is shorter than N carry the EXACT value —
      refined against the full bounds with no dictionary join;
    - rows at exactly N characters may be truncated prefixes — they are
      refined against the dictionary's full lexical form. Pass
      ``dictionary=None`` ONLY when audit_str_inline certified the
      layout all-inline; then the boundary branch is provably empty and
      the whole plan is join-free (the IDSortPlan shortcut, strings).

    Returns (<object var> id, __str_<var>) — already exactly filtered;
    order by __str_<var> for inline layouts (shadow == value)."""
    scan = scan_ids(id_quads, pattern, key_bits=key_bits, with_str=True)
    var = next(node.name for pos, node in pattern.nodes()
               if pos == "o" and isinstance(node, A.Var))
    col = f"__str_{var}"
    n = STR_SHADOW_LEN
    cand = scan.filter(F.col(col).between(lo[:n], hi[:n]))
    exact = cand.filter(F.length(col) < n) \
                .filter((F.col(col) >= lo) & (F.col(col) <= hi))
    if dictionary is None:
        # caller certified all-inline (audit_str_inline): length-N rows
        # are full values too, refine directly
        at_n = cand.filter(F.length(col) == n) \
                   .filter((F.col(col) >= lo) & (F.col(col) <= hi))
        return exact.unionByName(at_n)
    # boundary rows: shadow may be truncated — join the (tiny, pruned)
    # survivor set against the dictionary for the full lexical form
    bound = cand.filter(F.length(col) == n)
    full = bound.join(
        dictionary.select(F.col("id").alias(var), F.col("lex")), on=var,
    ).filter((F.col("lex") >= lo) & (F.col("lex") <= hi)).drop("lex")
    return exact.unionByName(full)


def needed_value_vars(alg: A.Algebra, projection: tuple[str, ...] | None):
    """The set of variables whose term VALUES the query reads — the
    lazy-materialization frontier (IDQueryPlan's evaluation-mode
    analysis: everything else can stay an 8-byte dictionary id through
    every join/dedup, since id equality == sameTerm equality, and is
    simply never materialized).

    ``projection=None`` means SELECT * (everything needed) → returns
    None, as does any algebra node this walk doesn't understand
    (fail-safe: materialize-all is always correct). Vars BOUND by
    non-BGP binders (VALUES, BIND, paths, aggregates) are included so
    every binder of a var produces the same representation."""
    need: set[str] = set()

    def expr_in(e) -> bool:
        from kineo_spark.expr import expr_vars
        sub: list[A.Algebra] = []
        expr_vars(e, need, sub)
        return all(walk(a) for a in sub)

    def walk(n: A.Algebra) -> bool:  # False = bail (materialize all)
        if isinstance(n, (A.BGP, A.Quad, A.Triple, A.JoinIdentity,
                          A.UnionIdentity)):
            return True
        if isinstance(n, (A.Join, A.Union, A.Minus, A.SemiJoin)):
            return walk(n.lhs) and walk(n.rhs)
        if isinstance(n, A.LeftJoin):
            if n.expr is not None and not expr_in(n.expr):
                return False
            return walk(n.lhs) and walk(n.rhs)
        if isinstance(n, A.Filter):
            from kineo_spark.expr import EExists
            if isinstance(n.expr, EExists):
                return walk(n.expr.algebra) and walk(n.child)
            return expr_in(n.expr) and walk(n.child)
        if isinstance(n, A.NamedGraph):
            return walk(n.child)
        if isinstance(n, A.Extend):
            need.add(n.name)  # struct binder
            return expr_in(n.expr) and walk(n.child)
        if isinstance(n, A.Project):
            need.update(n.variables)
            return walk(n.child)
        if isinstance(n, (A.Distinct, A.Reduced, A.Slice)):
            return walk(n.child)
        if isinstance(n, A.Order):
            return all(expr_in(c.expr) for c in n.comparators) and walk(n.child)
        if isinstance(n, A.Table):
            need.update(n.variables)  # struct binder
            return True
        if isinstance(n, A.Aggregate):
            need.update(n.group_names)
            need.update(name for name, _ in n.aggs)
            for e in n.groups:
                if not expr_in(e):
                    return False
            for _, spec in n.aggs:
                if spec.expr is not None and not expr_in(spec.expr):
                    return False
            return walk(n.child)
        if isinstance(n, A.Window):
            for name, spec in n.functions:
                need.add(name)
                exprs = [spec.expr] if spec.expr is not None else []
                exprs += list(spec.partition) + [c.expr for c in spec.order]
                if not all(expr_in(e) for e in exprs):
                    return False
            return walk(n.child)
        if isinstance(n, A.PathPattern):
            # endpoint vars follow the global projection rule: the
            # path evaluator (paths.eval_path) can emit them as raw
            # dictionary ids, so join-only endpoints stay 8-byte longs
            # into the enclosing joins
            if isinstance(n.graph, A.Var) and n.graph.binding:
                need.add(n.graph.name)
            return True
        if isinstance(n, A.Subquery):
            q = n.query
            if not q.variables:
                return False  # SELECT * subquery: everything under it
            need.update(q.variables)
            return walk(q.algebra)
        return False  # Service & anything unknown

    if not walk(alg):
        return None
    if projection is None:
        return None
    need.update(projection)
    return frozenset(need)


def bgp_ids(id_quads: DataFrame, patterns: list[A.QuadPattern],
            key_bits: int = 64,
            shadow_vars: frozenset = frozenset(),
            shadow_str_vars: frozenset = frozenset()) -> DataFrame:
    """ID-space BGP: equi-joins on shared long columns — the cheapest
    possible shuffle keys (IDHashJoinPlan/IDMergeJoinPlan analogs; Spark
    picks SMJ/broadcast via AQE).

    ``shadow_vars`` / ``shadow_str_vars``: object variables whose
    numeric / string value shadow should ride along as ``__num_<var>``
    / ``__str_<var>`` (projected from the first pattern binding the var
    at object position) — lets an enclosing range filter prune at the
    scan instead of after a dictionary join."""
    out = None
    shadowed: set[str] = set()
    for pat in patterns:
        fresh = (isinstance(pat.o, A.Var) and pat.o.binding
                 and pat.o.name not in shadowed)
        w_num = fresh and pat.o.name in shadow_vars
        w_str = fresh and pat.o.name in shadow_str_vars
        nxt = scan_ids(id_quads, pat, key_bits=key_bits,
                       with_num=w_num, with_str=w_str)
        if (w_num or w_str) and any(
                c.startswith(("__num_", "__str_")) for c in nxt.columns):
            shadowed.add(pat.o.name)
        if out is None:
            out = nxt
        else:
            shared = [c for c in out.columns if c in nxt.columns]
            # no shared id-columns → nested loop; broadcast the new
            # pattern so partition counts don't multiply (compiler._join)
            # — size-gated, same rationale as Compiler.broadcast_if_small
            if shared:
                out = out.join(nxt, on=shared, how="inner")
            else:
                from kineo_spark.compiler import Compiler
                out = out.crossJoin(Compiler.broadcast_if_small(nxt))
    return out


class IdEncodedView:
    """Lazy dictionary-encoded view of a QuadStore: (dictionary,
    id_quads), both cached — the Spark analog of the reference's interned
    MemoryQuadStore / Diomede packed-ID layout (MemoryQuadStore.swift:
    19-60). In a real deployment these two tables would be the persisted
    parquet layout (SURVEY §1.4: 4×long beats lexical structs as the
    shuffle currency at 100 TB); here they are derived once per store."""

    _CACHE: dict[int, "IdEncodedView"] = {}

    # dictionaries at or below this row count broadcast into materialize
    # joins (~100 B/term struct → ~100 MB worst case — a broadcast build
    # is paid PER QUERY, so it must stay cheap); above it, the melt path
    # joins adaptively: AQE broadcasts whichever side is actually small
    # at runtime — bindings after a selective query, never the
    # billions-of-terms dictionary of the 100 TB regime
    BROADCAST_TERMS = 1_000_000

    def __init__(self, store, key_bits: int = 64):
        dictionary, id_quads = encode_quads(store.quads(), key_bits=key_bits)
        self.key_bits = key_bits
        self.dictionary = dictionary.cache()
        spark = id_quads.sparkSession
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # Hash-partition the cached quads by subject — the in-memory twin
        # of the persisted subject-bucketed layout (persist_id_layout
        # below): scan_ids aliases `s` to the pattern var, Catalyst's
        # alias-aware partitioning propagation keeps HashPartitioning(s)
        # alive through the projection, and every subject-subject (star)
        # self-join runs with ZERO exchange. Cross-hop joins (prev
        # object → next subject) still shuffle only the small joined
        # side, never the base scans — the at-rest co-location story
        # that matters at 100 TB.
        self.id_quads = id_quads.repartition(shuffle_n, "s").cache()
        self.n_terms = self.dictionary.count()  # materializes the cache
        self.id_quads.count()  # materialize too: queries pay zero encode cost
        self.broadcast = self.n_terms <= self.BROADCAST_TERMS

    @classmethod
    def for_store(cls, store, key_bits: int = 64) -> "IdEncodedView":
        key = (id(store), key_bits)
        if key not in cls._CACHE:
            cls._CACHE[key] = cls(store, key_bits=key_bits)
        return cls._CACHE[key]

    @property
    def str_inline(self) -> bool:
        """True iff the o_str shadow is exact for every simple string
        (see audit_str_inline) — persisted layouts read the build-time
        certificate; in-memory views audit once on first use."""
        if not hasattr(self, "_str_inline"):
            self._str_inline = audit_str_inline(self.dictionary)
        return self._str_inline


def id_compiler(store, key_bits: int = 64, **kw):
    """Compiler whose BGPs run in ID space (IDQueryPlan analog): quad
    scans and joins move 8-byte longs instead of term structs, then
    MaterializeTermsPlan-style dictionary joins restore term structs for
    the algebra above the BGP (exactly the reference's lazy-
    materialization boundary, MaterializedQueryPlan.swift:11-61).
    ``key_bits=128`` runs the same plans on two-long struct ids (the
    100 TB default — see _id_expr)."""
    from kineo_spark.compiler import Compiler, Plan

    class IdCompiler(Compiler):
        _key_bits = key_bits

        def __init__(self, store_, **kw_):
            super().__init__(store_, **kw_)
            # None = materialize every var (safe default when no
            # prepare() ran — e.g. DESCRIBE or direct compile calls)
            self._needed: frozenset[str] | None = None
            # vars whose materialization an enclosing _filter defers:
            # their value predicates run on the DICTIONARY and come back
            # as id semi-joins, so the BGP below must keep them as ids
            self._mask: frozenset[str] = frozenset()
            # numeric range PRE-filters an enclosing _filter wants
            # applied at the 4×long scan via the o_num value shadow:
            # {var: [(op, num), ...]} — a sound superset prune (the
            # exact conjunct still runs as a residual), so the
            # dictionary join materializes survivors only
            self._shadow_preds: dict[str, list] = {}

        @property
        def _idview(self) -> IdEncodedView:
            # lazy: a query whose BGPs all star-collapse computes ids
            # with a per-row hash straight off the parquet scan and
            # never touches the encoded view — so it must not pay the
            # (cached, but non-trivial) encode pass either
            return IdEncodedView.for_store(self.store, self._key_bits)

        def prepare(self, query) -> None:
            """Pre-query analysis hook (forms.* call it with the full
            query): computes the lazy-materialization frontier."""
            alg = getattr(query, "algebra", None)
            if alg is None:
                return
            if isinstance(query, A.SelectQuery):
                proj = tuple(query.variables) if query.variables else None
            elif isinstance(query, A.AskQuery):
                proj = ()  # ASK reads no values at all
            elif isinstance(query, A.ConstructQuery):
                proj = tuple(
                    t.name for p in query.template
                    for t in (p.s, p.p, p.o) if isinstance(t, A.Var)
                )
            else:
                proj = None
            self._needed = needed_value_vars(alg, proj)

        def _c(self, node, g):
            # single-pattern nodes route through the ID path too (the
            # base compiler scans them term-mode directly)
            if isinstance(node, A.Triple):
                return self._bgp(A.BGP((node.pattern,)), g)
            if isinstance(node, A.Quad):
                p = node.pattern
                return self._bgp(A.BGP((A.TriplePattern(p.s, p.p, p.o),)),
                                 p.g if not isinstance(p.g, A.Var)
                                 or p.g.binding else g)
            return super()._c(node, g)

        def _is_id_var(self, v: str) -> bool:
            """Global per-query representation rule: a var rides as an
            8-byte id iff the query never reads its VALUE (or a filter
            deferral masked it). Every binder applies the same rule, so
            any two plans sharing the var agree on representation."""
            if v in self._mask:
                return True
            return self._needed is not None and v not in self._needed

        def _bgp(self, node: A.BGP, g):
            """ID-space BGP with star-join collapse (same plan SHAPE as
            term mode — the fix for the round-2 perf_weak finding):
            patterns sharing a subject become ONE native parquet
            multi-column scan (store.scan_star), after which join-only
            vars are hashed to dictionary ids (id_of_term_col) so
            cross-star joins move 8-byte longs — the ID-mode shuffle
            win — while value vars keep their term structs straight
            from the scan, no dictionary join at all. Patterns that
            can't collapse fall back to per-pattern 4×long scans with
            lazy dictionary materialization (IDQueryPlan →
            MaterializeTermsPlan boundary). Reference analog: star
            joins over spog index order, IDQueryPlanner.swift:88-94."""
            if not node.patterns:
                return self._join_identity()
            quads = [
                A.QuadPattern(tp.s, tp.p, tp.o, self._active_graph(g))
                for tp in node.patterns
            ]
            stats = None
            if (self.cs_stats and not self.plans_only
                    and hasattr(self.store, "quads")):
                from kineo_spark.stats import CharacteristicSets
                stats = CharacteristicSets.for_store(self.store)
            plans: list[Plan] = []
            ests: list[float | None] = []
            rest: list[A.QuadPattern] = quads
            if hasattr(self.store, "scan_star"):
                groups: dict[object, list[A.QuadPattern]] = {}
                order: list[object] = []
                for qp in quads:
                    key = (("v", qp.s.name) if isinstance(qp.s, A.Var)
                           else ("t", qp.s.key()))
                    if key not in groups:
                        groups[key] = []
                        order.append(key)
                    groups[key].append(qp)
                rest = []
                for key in order:
                    grp = groups[key]
                    df = self.store.scan_star(grp) if len(grp) >= 2 else None
                    if df is None and len(grp) == 1:
                        # single pattern: native per-pattern scan, same
                        # hash-at-scan id currency (term mode's _scan
                        # with join-only vars converted to 8-byte ids)
                        df = self.store.scan(grp[0])
                    if df is None:
                        rest.extend(grp)
                        continue
                    certain = frozenset(
                        set().union(*[p.variables() for p in grp]))
                    id_vs = frozenset(
                        v for v in certain
                        if v in df.columns and self._is_id_var(v))
                    for v in id_vs:
                        df = df.withColumn(v, id_of_term_col(df[v], self._key_bits))
                    plans.append(Plan(df, certain, id_vs))
                    if stats is not None:
                        ests.append(stats.estimate_star(grp) if len(grp) >= 2
                                    else stats.estimate_pattern(grp[0]))
                    else:
                        ests.append(None)
            if rest:
                ids = bgp_ids(
                    self._idview.id_quads, rest,
                    key_bits=self._key_bits,
                    shadow_vars=frozenset(
                        v_ for v_, ps in self._shadow_preds.items()
                        if any(k == "num" for k, _, _ in ps)),
                    shadow_str_vars=frozenset(
                        v_ for v_, ps in self._shadow_preds.items()
                        if any(k == "str" for k, _, _ in ps)))
                # value-shadow pre-filters (IDSortPlan's range shortcut,
                # applied by the OPTIMIZER): prune at the scan — the
                # predicate sits adjacent to the layout read, so on a
                # persisted layout it parquet-pushes and row-group-prunes
                # BEFORE any join or materialize. Superset semantics
                # (the shadow is non-null and order-consistent for every
                # term the exact comparison accepts; string shadows are
                # PREFIXES, so their bounds are the non-strict prefix
                # comparisons); the enclosing _filter's residual restores
                # exactness. Shadow columns never leave the BGP.
                shadow_cols = [c for c in ids.columns
                               if c.startswith(("__num_", "__str_"))]
                if shadow_cols:
                    for var, preds in self._shadow_preds.items():
                        for kind, op, val in preds:
                            col = f"__{kind}_{var}"
                            if col not in ids.columns:
                                continue
                            cc = F.col(col)
                            if kind == "num":
                                ids = ids.filter(
                                    cc > val if op == ">" else
                                    cc >= val if op == ">=" else
                                    cc < val if op == "<" else cc <= val)
                            else:
                                # x > lo ⟹ x[:N] >= lo[:N] (and dually
                                # for <): strict ops relax to non-strict
                                # on the truncated prefix
                                p = val[:STR_SHADOW_LEN]
                                ids = ids.filter(
                                    cc >= p if op in (">", ">=")
                                    else cc <= p)
                    ids = ids.drop(*shadow_cols)
                if not ids.columns:
                    # all-constant BGP (ASK-style): zero-var bindings,
                    # row count is the match count
                    plans.append(Plan(ids, frozenset()))
                else:
                    certain = frozenset(
                        set().union(*[p.variables() for p in rest]))
                    mat_vars = [v for v in ids.columns
                                if not self._is_id_var(v)]
                    mat = materialize(
                        ids, self._idview.dictionary,
                        broadcast_dict=self._idview.broadcast,
                        vars=mat_vars)
                    plans.append(Plan(
                        mat, certain,
                        frozenset(v for v in ids.columns
                                  if v not in set(mat_vars))))
                    ests.append(None)  # no estimate for the fused rest
            while len(ests) < len(plans):
                ests.append(None)
            # same selectivity-driven greedy order as term mode (skipped
            # automatically when any unit lacks an estimate)
            plans = self._order_units(list(zip(plans, ests)))
            out = plans[0]
            for p in plans[1:]:
                out = self._join(out, p)
            return out

        def _filter(self, node: A.Filter, g):
            """Value-filter pushdown into ID space (the dictionary-
            encoding payoff the reference gets from IDQueryPlan's
            materialization boundary): a single-var conjunct evaluates
            ONCE against the dictionary (n_terms rows) instead of per
            binding row, and the qualifying ids filter the BGP output as
            an equi-semi-join — so the full materialize never runs on
            rows the filter would discard. At 100 TB this is the
            difference between materializing every candidate row and
            materializing only survivors."""
            from kineo_spark.compiler import Plan
            from kineo_spark.expr import (
                ECall, EExists, compile_filter_condition, expr_vars,
            )

            e = node.expr
            if isinstance(e, EExists):
                return super()._filter(node, g)
            if hasattr(self.store, "scan_star"):
                # native-scan stores: term values come straight off the
                # parquet scan (star-collapse above) and string/equality
                # predicates push into the scan itself — a dictionary
                # semi-join would ADD a join to a filter parquet already
                # evaluates. The dictionary deferral only pays on 4×long
                # quad layouts, where a value filter otherwise forces a
                # per-row materialize join first.
                return super()._filter(node, g)

            def conjuncts(x):
                # FILTER(a && b) ≡ FILTER(a) FILTER(b): a row survives
                # iff every conjunct's EBV is true (false/error drop)
                if isinstance(x, ECall) and x.op == "&&":
                    return [c for a in x.args for c in conjuncts(a)]
                return [x]

            def deterministic(x) -> bool:
                # RAND/UUID/STRUUID/BNODE draw per binding ROW — they
                # must not evaluate per dictionary term
                if isinstance(x, ECall):
                    if x.op.upper() in ("RAND", "UUID", "STRUUID", "BNODE"):
                        return False
                    return all(deterministic(a) for a in x.args)
                return True

            def selective(x) -> bool:
                # dictionary semi-joins pay off only when few terms
                # qualify: equality/IN/sameTerm/string-match pin a small
                # id set, while a range like ?bal > 7500 qualifies every
                # numeric term in the GLOBAL dictionary (measured: 49%
                # of all terms at sf0.1) — a million-row ok-set plus an
                # extra pivot stage loses to just materializing the
                # column at the BGP (measured 6s → 16s on the 3-hop
                # bench when ranges were pushed; reverted — ranges now
                # take the o_num value-shadow pre-filter path below,
                # which prunes at the scan with no join at all)
                return isinstance(x, ECall) and x.op.upper() in (
                    "=", "IN", "SAMETERM", "STRSTARTS", "STRENDS",
                    "CONTAINS", "REGEX", "LANGMATCHES")

            def shadow_range(x):
                """``?v <op> constant`` (either side) →
                (var, kind, op, value) for the value-shadow scan
                pre-filter — kind "num" for numeric constants (o_num),
                "str" for simple-string constants (o_str prefix); None
                otherwise. Sound as a SUPERSET prune: every term the
                exact SPARQL comparison accepts against a numeric
                (resp. simple-string) constant is numeric (resp. a
                simple string), hence carries an order-consistent
                non-null shadow — the pre-filter can only drop rows the
                residual exact conjunct would drop anyway."""
                from kineo_spark.expr import EConst, EVar
                from kineo_spark.model import NUMERIC_DTS, TEMPORAL_DTS

                if not (isinstance(x, ECall)
                        and x.op in ("<", "<=", ">", ">=")):
                    return None
                if len(x.args) != 2:
                    return None
                a, b = x.args
                op = x.op
                if isinstance(a, EConst) and isinstance(b, EVar):
                    a, b = b, a
                    op = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}[op]
                if not (isinstance(a, EVar) and isinstance(b, EConst)):
                    return None
                t = b.term
                # numeric AND temporal constants take the num shadow:
                # the engine's ordering comparison for both families IS
                # the num comparison (expr.cmp_lt both_num | both_tmp),
                # and o_num covers both (encode_quads)
                if (t.dt in NUMERIC_DTS or t.dt in TEMPORAL_DTS) \
                        and t.num is not None:
                    return (a.name, "num", op, float(t.num))
                if t.dt in ("string", "langString"):
                    return (a.name, "str", op, t.lex)
                return None

            # scan-level range pre-filters apply only when the filter
            # sits DIRECTLY on a BGP (no intervening operator → no
            # scoping subtleties); the conjunct itself always stays in
            # the residual for exactness
            shadows: dict[str, list] = {}
            if isinstance(node.child, (A.BGP, A.Triple, A.Quad)):
                for c_ in conjuncts(e):
                    sr = shadow_range(c_)
                    if sr is not None:
                        shadows.setdefault(sr[0], []).append(sr[1:])
            if shadows:
                outer_sp = self._shadow_preds
                self._shadow_preds = shadows
                try:
                    return self._filter_body(node, g, conjuncts,
                                             deterministic, selective)
                finally:
                    self._shadow_preds = outer_sp
            return self._filter_body(node, g, conjuncts, deterministic,
                                     selective)

        def _filter_body(self, node, g, conjuncts, deterministic,
                         selective):
            from kineo_spark.compiler import Plan
            from kineo_spark.expr import (
                compile_filter_condition, expr_vars,
            )

            e = node.expr
            pushable: list[tuple[object, str]] = []
            residual: list[object] = []
            residual_vars: set[str] = set()
            for c_ in conjuncts(e):
                vs: set[str] = set()
                sub: list = []
                expr_vars(c_, vs, sub)
                if (len(vs) == 1 and not sub and deterministic(c_)
                        and selective(c_)):
                    pushable.append((c_, next(iter(vs))))
                else:
                    residual.append(c_)
                    residual_vars |= vs
            # don't defer a var that must materialize anyway: one a
            # residual conjunct reads, or one the CHILD subtree itself
            # reads (an Extend or inner Filter between here and the BGP)
            child_needs = needed_value_vars(node.child, ())
            if child_needs is None:  # unknown subtree: no deferral
                return super()._filter(node, g)
            blocked = residual_vars | set(child_needs)
            residual += [c_ for c_, v in pushable if v in blocked]
            pushable = [(c_, v) for c_, v in pushable if v not in blocked]
            if not pushable:
                return super()._filter(node, g)

            mask = frozenset(v for _, v in pushable)
            outer = self._mask
            self._mask = outer | mask
            try:
                child = self._c(node.child, g)
            finally:
                self._mask = outer

            df, id_vars = child.df, set(child.id_vars)
            d = self._idview.dictionary
            term_col = term_struct(
                F.col("kind").cast("tinyint"), F.col("lex"), F.col("dt"),
                F.col("lang"), F.col("num"))
            from kineo_spark.compiler import _env
            for c_, v in pushable:
                # guard: only certainly-bound vars — an unbound var must
                # reach the expression as NULL (BOUND/COALESCE may pass
                # it), which a semi-join on ids cannot express
                if v in id_vars and v in child.certain and v in df.columns:
                    cond = compile_filter_condition(c_, {v: term_col})
                    ok = d.where(cond).select(F.col("id").alias("__okid"))
                    df = df.join(ok, df[v] == F.col("__okid"), "left_semi")
                else:
                    residual.append(c_)

            # survivors-only materialize of the deferred vars the query
            # still reads, plus anything a late residual needs
            for c_ in residual:
                expr_vars(c_, residual_vars, [])
            to_mat = [v for v in df.columns if v in id_vars
                      and (v in residual_vars
                           or (v in mask and (self._needed is None
                                              or v in self._needed)))]
            if to_mat:
                df = materialize(df, d,
                                 broadcast_dict=self._idview.broadcast,
                                 vars=to_mat)
                id_vars -= set(to_mat)
            for c_ in residual:
                df = df.filter(compile_filter_condition(c_, _env(df)))
            return Plan(df, child.certain, frozenset(id_vars))

    return IdCompiler(store, **kw)


def materialize(bindings: DataFrame, dictionary: DataFrame,
                broadcast_dict: bool = True,
                vars: list[str] | None = None) -> DataFrame:
    """ID bindings → term-struct bindings (MaterializeTermsPlan,
    MaterializedQueryPlan.swift:11-61) for ``vars`` (None = all
    columns); other columns pass through as raw ids (the lazy path —
    they stay 8-byte join currency for the plan above).

    Two strategies:
    - few vars + broadcastable dictionary → one BroadcastHashJoin per
      var: ZERO shuffle, ids flow through untouched.
    - otherwise → ONE dictionary join total: unpivot the k id columns
      to (row, pos, id), join the dictionary once, fold back with a
      grouped aggregate. Measured 5× faster than per-var joins when k
      is large (Spark rebuilds the broadcast hash per join —
      ReuseExchange does not fire across AQE replans), and at 100 TB it
      turns k dictionary shuffles into one.

    (Measured dead end, recorded so it isn't retried: semi-join-reducing
    the dictionary to the referenced ids before broadcasting — the
    IDIndexBindQuadPlan bind-join idea — LOSES at bench scale because it
    adds two sequential AQE stage barriers and re-executes the bindings
    subtree; and in the 100 TB regime broadcast_dict is False, so the
    reduction never applies. 3-hop at sf0.1: 2.9s full-broadcast vs
    3.5s reduced.)"""
    all_vars = bindings.columns
    mat = list(all_vars) if vars is None else [v for v in all_vars if v in vars]
    keep = [v for v in all_vars if v not in set(mat)]
    if not mat:
        return bindings
    d = dictionary.select(
        "id",
        term_struct(
            F.col("kind").cast("tinyint"), F.col("lex"), F.col("dt"),
            F.col("lang"), F.col("num"),
        ).alias("term"),
    )
    if broadcast_dict and len(mat) <= 3:
        df = bindings
        for v in mat:
            dv = d.select(F.col("id").alias(f"__did_{v}"),
                          F.col("term").alias(f"__dterm_{v}"))
            df = (
                df.join(F.broadcast(dv), df[v] == dv[f"__did_{v}"], "left")
                .drop(v, f"__did_{v}")
                .withColumnRenamed(f"__dterm_{v}", v)
            )
        return df.select(*all_vars)
    b = bindings.withColumn("__rid", F.monotonically_increasing_id())
    long = b.select(
        "__rid", *keep,
        F.posexplode(F.array(*[F.col(v) for v in mat])).alias("__pos", "__tid"),
    )
    # INNER join with the null ids (OPTIONAL-unbound) split out and
    # unioned back: a left join pins the dictionary as the build-less
    # side, forcing a full-dictionary shuffle however small the
    # bindings are; inner lets AQE broadcast whichever side is actually
    # small at runtime (selective query → bindings broadcast, dictionary
    # is one streamed scan of the cached table; huge bindings → SMJ,
    # the right 100 TB shape)
    from kineo_spark.model import TERM_SCHEMA
    nn = long.where(F.col("__tid").isNotNull())
    j = nn.join(d, nn["__tid"] == d["id"], "inner") \
          .select("__rid", "__pos", *keep, "term") \
          .unionByName(
              long.where(F.col("__tid").isNull()).select(
                  "__rid", "__pos", *keep,
                  F.lit(None).cast(TERM_SCHEMA).alias("term")))
    # exactly one (possibly-null) term per (__rid, __pos): max() picks it
    aggs = [
        F.max(F.when(F.col("__pos") == i, F.col("term"))).alias(v)
        for i, v in enumerate(mat)
    ] + [F.max(F.col(v)).alias(v) for v in keep]
    return j.groupBy("__rid").agg(*aggs).select(*all_vars)


# ---------------------------------------------------------------------------
# Persisted bucketed ID layout (the 100 TB at-rest shape)
# ---------------------------------------------------------------------------

class IdCollisionError(RuntimeError):
    """Two distinct terms hashed to the same 64-bit id. The dictionary
    is corrupt for join purposes; rebuild with the two-long 128-bit key
    (see module docstring)."""


def audit_id_collisions(dictionary: DataFrame, sample: int = 3) -> int:
    """Certify the dictionary id assignment is injective: distinct term
    keys == distinct ids. One aggregation pass (two count-distincts over
    the dictionary — partial-aggregated, cheap next to the layout
    write). Raises IdCollisionError with example colliding ids.

    Returns the audited distinct-term count."""
    n, nid = dictionary.select(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("id")).alias("nid"),
    ).first()
    if n != nid:
        bad = [
            r["id"] for r in
            dictionary.groupBy("id").count().filter(F.col("count") > 1)
            .limit(sample).collect()
        ]
        raise IdCollisionError(
            f"{n - nid} colliding 64-bit term id(s), e.g. ids {bad}: "
            "two distinct terms share an id and would silently merge in "
            "every join. Rebuild with encode_quads_repaired (salted "
            "rekey of the colliding terms) or the 128-bit two-long key "
            "(dictionary.py module docstring)."
        )
    return n


def persist_id_layout(view: "IdEncodedView", name: str, buckets: int = 64,
                      path: str | None = None, audit: bool = True) -> None:
    """Write the ID layout as bucketed, sorted parquet tables — the
    at-rest analog of the reference's ordered on-disk indexes
    (IDOrderedQuadPlan / Diomede index orders, QuadStore.swift:62-88):

    - ``<name>_quads``: 4×long quads, bucketed+sorted by ``s`` — every
      subject-subject (star) self-join reads co-located buckets and
      merge-joins with NO shuffle of the fact table, at any scale.
    - ``<name>_terms``: the dictionary, bucketed by ``id`` so a
      too-big-to-broadcast materialize join shuffles only the bindings
      side.

    Each side is repartitioned on its bucket key first so every bucket
    is written as exactly ONE file: Spark's scan only reports per-bucket
    sort order in that case, and that report is what lets the merge join
    skip its Sort — shuffle-free AND sort-free star joins, the full
    IDQueryPlanner.swift:88-94 "exploit index order" analog. (With
    multiple files per bucket the Exchange still disappears but Catalyst
    re-sorts each partition.)

    In production the tables live in a shared metastore; local sessions
    use the in-memory catalog (pass ``path`` to control file placement).

    ``audit=True`` (default) runs the 64-bit collision audit before the
    write — the persisted layout is certified injective or the build
    fails loudly. The build also records whether every simple string
    fit the o_str shadow (``kineo.str_inline`` table property, one
    aggregation at build time): loaders read the certificate instead of
    re-scanning a billion-term dictionary to know the join-free string
    sort/range path (str_range_ids with dictionary=None) is safe.
    """
    if audit:
        audit_id_collisions(view.dictionary)
    str_inline = audit_str_inline(view.dictionary)
    qw = view.id_quads.repartition(buckets, "s") \
        .write.format("parquet").mode("overwrite") \
        .bucketBy(buckets, "s").sortBy("s")
    tw = view.dictionary.repartition(buckets, "id") \
        .write.format("parquet").mode("overwrite") \
        .bucketBy(buckets, "id").sortBy("id")
    if path:
        qw = qw.option("path", f"{path}/{name}_quads")
        tw = tw.option("path", f"{path}/{name}_terms")
    qw.saveAsTable(f"{name}_quads")
    tw.saveAsTable(f"{name}_terms")
    view.dictionary.sparkSession.sql(
        f"ALTER TABLE {name}_quads SET TBLPROPERTIES "
        f"('kineo.str_inline'='{str(str_inline).lower()}')")


def load_id_layout(spark: SparkSession, name: str) -> "IdEncodedView":
    """Open a persisted bucketed ID layout as an IdEncodedView (no
    encode pass — the layout IS the store)."""
    self = object.__new__(IdEncodedView)
    self.dictionary = spark.table(f"{name}_terms")
    self.id_quads = spark.table(f"{name}_quads")
    # key width is a property of the layout itself: struct ids = 128
    self.key_bits = (
        128 if self.dictionary.schema["id"].dataType.typeName() == "struct"
        else 64)
    self.n_terms = self.dictionary.count()
    self.broadcast = self.n_terms <= IdEncodedView.BROADCAST_TERMS
    # build-time certificate: o_str shadow carries exact values (no
    # truncated prefixes) — the join-free string range/sort path
    props = {r["key"]: r["value"] for r in spark.sql(
        f"SHOW TBLPROPERTIES {name}_quads").collect()}
    self._str_inline = props.get("kineo.str_inline") == "true"
    return self

"""Property path evaluation (SURVEY §2.8).

Reference: recursive path iterators with an ``alp`` transitive-closure
helper (/root/reference/Sources/Kineo/SPARQL/MaterializedQueryPlan.swift:
1707-2174 and IDQueryPlan.swift:802-1225). The reference keeps one
implementation per plan family; here ONE evaluator (``eval_path``) serves
the term-mode and the ID-mode compiler alike, because both read the same
term-struct scans through ``compiler._scan``:

* edges are hashed AT SCAN to 8-byte dictionary ids (``id_of_term_col``,
  the key the dictionary encoder assigns; {h, l} structs at 128 bits),
  so no term struct or key string enters any path shuffle;
* ``p+``/``p*`` run as a key-space fixpoint over (a, b) id pairs
  (``_closure_pairs``). The SQLite backend compiles them to recursive
  CTEs (SQLiteQuadStore.swift:593-665); Spark SQL has no usable
  recursive CTE, so the closure is a driver-coordinated distributed
  semi-naive fixpoint — frontier ⋈ edges → new pairs; accumulate
  DISTINCT; stop when empty — with an adaptive switch to doubling and a
  driver-local mirror for byte-gated relations;
* a bound endpoint seeds the closure as a BFS from its id (``alp``),
  and endpoint constants filter as id equality;
* terms are joined back ONCE from an id→term node map, only for the
  endpoint variables the query reads (``compiler._is_id_var``; the base
  term-mode compiler reads every endpoint, the ID-mode compiler keeps
  join-only endpoints as ids into the enclosing joins).

Node maps dedup with full-row ``distinct()``: the term column is
functionally dependent on its id (the hash of the injective term key —
the closure's standing no-collision invariant), and a subset dedup would
carry the term through ``first()`` aggregates whose struct/string
buffers force SortAggregate; ``distinct()`` hash-aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kineo_spark import algebra as A
from kineo_spark.dictionary import _const_id, id_of_term_col
from kineo_spark.model import PyTerm


def _gvar(graph) -> str | None:
    """Name of a BINDING graph variable (``GRAPH ?g { path }``), else
    None. A binding graph var means the path must evaluate PER NAMED
    GRAPH: every pair key becomes a {g, n} struct so composition joins,
    closure iterations, and dedups stay within one graph, and ?g binds
    from the key's graph part (§18.1.7 — eval(D(G), Graph(var, P))
    unions eval(D(D[g]), P) over each named graph with var bound)."""
    if isinstance(graph, A.Var) and getattr(graph, "binding", False):
        return graph.name
    return None


# -- adaptive strategy selection (STRESS_PATH_DIAMETER_r11) -------------------
# Measured crossover: semi-naive loses 20×/63× wall (and ~10× shuffle) on
# chain diameters 250/1000 because every round re-anti-joins the GROWING
# accumulator (O(d·closure) total shuffle), while doubling loses only
# ~1.26× on a wide shallow forest (d=12, 2.2 M edges) where its
# closure-squaring join composes more pairs per round than the frontier
# walk. ``auto`` makes that crossover operational: run semi-naive (the
# work-efficient choice for the common low-diameter shapes) and switch to
# doubling over the accumulated relation as soon as the frontier
# trajectory predicts a long tail. acc after k semi-naive rounds contains
# every path of length 1..k+1 ⊇ the edges, so doubling on acc still
# converges to the exact same closure — the switch costs nothing
# semantically.

_AUTO_K_MIN = 6       # earliest round the tail test may fire (past the
                      # converge-in-a-few-rounds regime where counting
                      # frontiers isn't worth a heuristic)
_AUTO_WINDOW = 4      # frontier samples the shrink estimate averages over
_AUTO_TAIL_FACTOR = 4  # switch when est. remaining rounds > factor×done
_AUTO_HARD_CAP = 32   # always switch past this many rounds (flat-frontier
                      # shapes, e.g. cycles, shrink by ~0 per round and
                      # would otherwise run to max_iterations)

_FUSE_MAX_ROUNDS = 12  # broadcast-regime fused plan: at most this many
                       # semi-naive rounds compiled into one lazy plan
                       # (keeps the fused plan's join depth bounded);
                       # deeper closures stay on the distributed loop


def _auto_should_switch(rounds_done: int, frontier_sizes: list[int]) -> bool:
    """True when the semi-naive frontier trajectory predicts a
    high-diameter tail (the regime doubling wins by 20-63×).

    The estimator is the graph-stats heuristic of ADVICE r11 #6 made
    concrete from per-round measurements instead of static degree stats
    (which cannot separate a chain from a lineage forest — both have
    out-degree 1): with the frontier shrinking by Δ per round, the
    fixpoint has ~frontier/Δ rounds left. A chain of diameter d shrinks
    by ~1/round with ~d-k left at round k (→ switch at k=6); a lineage
    forest of depth d shrinks by ~width/round with only d-k left
    (→ stays semi-naive and converges). A growing or flat frontier
    (expanding dense component, cycle) stays semi-naive until the hard
    cap — the forest regime punishes doubling, and the cap bounds the
    regret on flat shapes at 32 cheap frontier rounds + ⌈log2 d⌉."""
    if rounds_done >= _AUTO_HARD_CAP:
        return True
    if rounds_done < _AUTO_K_MIN or len(frontier_sizes) < _AUTO_WINDOW + 1:
        return False
    recent = frontier_sizes[-(_AUTO_WINDOW + 1):]
    shrink = sum(a - b for a, b in zip(recent, recent[1:])) / _AUTO_WINDOW
    if shrink <= 0:
        # Growing: expanding-forest/dense regime — stay semi-naive (a
        # dense component converges in ~log n rounds on its own, and
        # doubling's closure-squaring is the expensive move there).
        # FLAT (a cycle, a constant-width lattice: every round finds
        # the same trickle of pairs) is a long-tail predictor just like
        # positive shrink — but demand a longer confirmation so the
        # momentary plateau at a dense closure's peak doesn't trigger.
        flat = (max(recent) - min(recent)) <= max(1.0, 0.02 * recent[-1])
        return flat and rounds_done >= 2 * _AUTO_K_MIN
    return recent[-1] / shrink > _AUTO_TAIL_FACTOR * rounds_done


def _pair_bytes(df: DataFrame) -> int:
    """Conservative per-row bytes of a key pair inside a broadcast hash
    relation, derived from the actual pair schema (64-bit keys are
    longs, 128-bit keys {hi, lo} structs, graph-scoped keys {g, n}
    structs of either): leaf bytes + 8 per struct level + 32 per row of
    UnsafeRow/hash-table overhead."""
    from pyspark.sql import types as T

    def sz(dt) -> int:
        if isinstance(dt, T.StructType):
            return 8 + sum(sz(f.dataType) for f in dt.fields)
        return 8

    return 32 + sum(sz(f.dataType) for f in df.schema.fields)


def _node_row_bytes(df: DataFrame) -> int:
    """Conservative per-row bytes of a node-map row inside a broadcast
    hash relation. Strings (term lex/dt/lang, key strings) have no
    static width; charge 56 B each (IRI-sized) so the gate errs toward
    NOT broadcasting — a wrong 'too big' costs one shuffle join, a
    wrong 'fits' costs executor memory."""
    from pyspark.sql import types as T

    def sz(dt) -> int:
        if isinstance(dt, T.StructType):
            return 8 + sum(sz(f.dataType) for f in dt.fields)
        if isinstance(dt, T.StringType):
            return 56
        return 8

    return 32 + sum(sz(f.dataType) for f in df.schema.fields)


def _count_checkpointed_async(df: DataFrame):
    """Lazy-localCheckpoint + count in one job (guide §7.3: materializes
    the frame's blocks AND returns the row count the size gates need),
    run on a background thread (guide §2.6 — overlap independent jobs):
    the node map never depends on the closure, so both its plan-pinning
    lazy checkpoint (driver-side JVM
    planning, measured ~0.3-0.5 s per path query) and its materializing
    count run concurrently with the fixpoint's rounds, which otherwise
    leave executors idle during each round's planning gap. Returns
    (wait, planned): wait() joins the thread and yields (checkpointed
    df, count); ``planned`` is an Event set the moment the plan is
    pinned — _LoopConfs holds off its session-conf mutations until
    then, so the node plan can never be planned under the loop's
    paused-AQE/pinned-width confs (which are sized for counted-small
    deltas, not for real node maps)."""
    import threading

    from pyspark import InheritableThread

    box: dict = {}
    planned = threading.Event()

    def _run():
        try:
            d = df.localCheckpoint(eager=False)
            box["df"] = d
            planned.set()
            box["n"] = d.count()
        except BaseException as e:  # surfaced on wait()
            box["err"] = e
        finally:
            planned.set()

    th = InheritableThread(target=_run, daemon=True)
    th.start()

    def wait() -> tuple[DataFrame, int]:
        th.join()
        if "err" in box:
            raise box["err"]
        return box["df"], box["n"]

    return wait, planned


class _LoopConfs:
    """Per-round planner tuning for the GATED (counted-small) fixpoint
    regime — guide §1.2 step 3, applied only after the algorithm is
    right. Measured (r12, round-shaped micro plans + the bench path
    queries): with AQE on, every round pays ~0.4 s of re-planning in the
    lazy-checkpoint toRdd conversion plus AQE stage bookkeeping in the
    count — pure driver latency, since a gated round's only exchange
    moves a counted-few-MB delta. While the accumulator is under the
    byte gate this helper (a) pauses AQE and (b) pins the in-loop
    shuffle width to a BYTES-DERIVED partition count
    (ceil(delta_bytes / 8 MB), clamped to defaultParallelism) so the
    dedup neither runs at a cluster-sized static width (the measured
    r12-draft failure: tasks 117 → 780) nor needs AQE to coalesce it.
    Both confs are restored the moment the loop leaves the gated regime
    (the 100 TB shuffle regime keeps AQE's coalescing/skew handling)
    and on exit. The width is derived from counted data bytes, never
    from the local core count, so the behavior is scale-adaptive."""

    _TARGET = 8 * 1024 * 1024  # bytes per in-loop dedup partition

    def __init__(self, spark, hold=None):
        self.spark = spark
        self._saved: tuple[str, str] | None = None
        self._parts: int | None = None
        self._hold = hold  # Event: don't mutate confs before it's set

    def ensure(self, gated: bool, delta_rows: int, per_bytes: int) -> None:
        if not gated:
            self.restore()
            return
        if self._hold is not None:
            self._hold.wait()
            self._hold = None
        dp = self.spark.sparkContext.defaultParallelism
        p = max(1, min(dp, -(-(max(delta_rows, 1) * per_bytes)
                             // self._TARGET)))
        if self._saved is None:
            self._saved = (
                self.spark.conf.get("spark.sql.adaptive.enabled", "true"),
                self.spark.conf.get("spark.sql.shuffle.partitions"),
            )
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        if p != self._parts:
            self.spark.conf.set("spark.sql.shuffle.partitions", str(p))
            self._parts = p

    def restore(self) -> None:
        if self._saved is not None:
            self.spark.conf.set("spark.sql.adaptive.enabled", self._saved[0])
            self.spark.conf.set("spark.sql.shuffle.partitions", self._saved[1])
            self._saved = None
            self._parts = None


def _local_closure_limit(spark) -> int:
    """Byte budget under which the fixpoint runs AT THE COLLECT POINT
    instead of as per-round Spark jobs (guide §3.1/§8: broadcast-sized
    relations are collected to the driver anyway). In the gated regime
    every distributed round already collects the edge relation to the
    driver to build its broadcast — the bytes crossing the driver are
    the same, so the only question is where the (tiny) join runs. As
    numpy array joins it costs ~1 ms/round; as Spark jobs each round
    pays a full Catalyst re-plan + scheduler round trip (measured r12 +
    r13 profile: ~0.6 s/round REGARDLESS of data size — pure driver
    latency). Scale-adaptive by construction: past the budget, or if
    the closure OUTGROWS it mid-computation, the distributed fixpoint
    (semi-naive → auto-doubling, STRESS-measured) runs unchanged.
    Override with spark.kineo.path.localClosureBytes; 0 disables."""
    try:
        v = spark.conf.get("spark.kineo.path.localClosureBytes", None)
        if v is not None and v != "":
            return int(v)
    except Exception:
        pass
    return 64 * 1024 * 1024


def _leaf_paths(dt, prefix=()):
    """Flatten a (possibly nested) key datatype into leaf field paths.
    Returns None when any leaf is not a LongType — that key shape has
    no local-closure support and falls back to the distributed loop."""
    from pyspark.sql import types as T
    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            sub = _leaf_paths(f.dataType, prefix + (f.name,))
            if sub is None:
                return None
            out.extend(sub)
        return out
    if isinstance(dt, T.LongType):
        return [prefix]
    return None


def _local_mirror(ek: DataFrame, ek_n: int, per_bytes: int,
                  seed_col, scoped: bool, max_iterations: int
                  ) -> dict | None:
    """Mirror the distributed 'auto' fixpoint driver-locally over the
    COLLECTED byte-gated edge relation (see _local_closure_limit: in
    the gated regime every distributed round collects these same bytes
    to build its broadcast, so the collect is not a new boundary). The
    numpy loop replays the exact strategy — semi-naive rounds, the
    _auto_should_switch crossover, then doubling — so its round/switch
    bookkeeping and convergence semantics are identical to what the
    distributed loop would have done.

    Returns a SCRIPT for the caller: the per-round delta sizes of the
    productive semi-naive rounds, plus the mirrored rounds_out /
    switch_out entries. The caller re-runs those rounds distributed
    with every per-round count job elided (the sizes are known) and
    the terminal empty-delta round dropped (convergence is proven) —
    per round that removes one scheduler round trip and the terminal
    round removes a full Catalyst pass, while the checkpointed
    delta-materialization shape (and so the shuffle-byte invariants)
    stays exactly the r12 loop's. Measured dead ends, for the record
    (r13): uploading the locally computed closure re-pays ~1.3 s per
    action at 480 k rows (a parallelized local relation re-ships
    through a Python-runner stage on every job); fusing the rounds
    into one lazy checkpoint-free plan re-executes each delta subplan
    ~3× (37-66 MB shuffled vs 11-19 MB); a level-based chain-of-hops
    plan shuffles whole levels instead of deltas (64-124 MB).

    Returns None (no side effects) when the shape is unsupported, the
    relation is empty, the closure outgrows the byte budget
    mid-computation, or the mirror switched to doubling (deep/flat
    shapes) — the caller then runs the distributed fixpoint
    unchanged."""
    import numpy as np

    spark = ek.sparkSession
    limit = _local_closure_limit(spark)
    if ek_n == 0 or not _gate(ek_n, per_bytes, limit):
        return None
    adt = ek.schema["__a"].dataType
    leaves = _leaf_paths(adt)
    if leaves is None or (seed_col is not None and len(leaves) != 1):
        return None  # non-long keys / seeded struct keys: distributed

    def flat(col, tag):
        out = []
        for i, path in enumerate(leaves):
            c = F.col(col)
            for p in path:
                c = c[p]
            out.append(c.alias(f"{tag}{i}"))
        return out

    k = len(leaves)
    pdf = ek.select(*flat("__a", "a"), *flat("__b", "b")).toPandas()
    if pdf.isnull().any().any():
        return None  # null key parts: leave it to the distributed loop
    a = pdf.iloc[:, :k].to_numpy(dtype=np.int64)
    b = pdf.iloc[:, k:].to_numpy(dtype=np.int64)
    allk = np.ascontiguousarray(np.vstack([a, b]))
    if k == 1:
        uniq, inv = np.unique(allk[:, 0], return_inverse=True)
    else:
        view = allk.view([(f"f{i}", np.int64) for i in range(k)]).reshape(-1)
        uniq, inv = np.unique(view, return_inverse=True)
    n = np.int64(len(uniq))
    eu, ev = inv[:len(a)].astype(np.int64), inv[len(a):].astype(np.int64)

    def pack(x, z):
        return x * n + z

    def compose(fk_, ru_sorted, rv_sorted):
        """(x,y) pairs (packed fk_) ∘ sorted right relation → packed."""
        fa, fb = fk_ // n, fk_ % n
        lo = np.searchsorted(ru_sorted, fb, side="left")
        hi = np.searchsorted(ru_sorted, fb, side="right")
        deg = hi - lo
        tot = int(deg.sum())
        if tot == 0:
            return np.empty(0, np.int64)
        offs = (np.repeat(lo, deg)
                + np.arange(tot) - np.repeat(np.cumsum(deg) - deg, deg))
        return np.unique(pack(np.repeat(fa, deg), rv_sorted[offs]))

    def absent(sorted_keys, cand):
        if not len(sorted_keys):
            return np.ones(len(cand), bool)
        idx = np.minimum(np.searchsorted(sorted_keys, cand),
                         len(sorted_keys) - 1)
        return sorted_keys[idx] != cand

    order = np.argsort(eu, kind="stable")
    eu_s, ev_s = eu[order], ev[order]
    if seed_col is not None:
        sv = spark.range(1).select(seed_col.alias("s")).first()["s"]
        pos = np.searchsorted(uniq, np.int64(sv))
        if pos >= len(uniq) or uniq[pos] != sv:
            acc = np.empty(0, np.int64)  # seed not in the graph
        else:
            m = eu == pos
            acc = np.unique(pack(eu[m], ev[m]))
    else:
        acc = np.unique(pack(eu, ev))
    cap_pairs = max(1, limit // max(per_bytes, 1))
    auto = seed_col is None  # seeded BFS never switches (see docstring)
    frontier, frontier_sizes = acc, []
    base_n = len(acc)
    deltas: list[int] = []  # productive-round delta sizes, in order
    lr: list[int] = []
    lsw: list[int] = []
    converged = False
    while len(lr) < max_iterations:  # mirror of the distributed loop
        lr.append(len(lr) + 1)
        cand = compose(frontier, eu_s, ev_s)
        new = cand[absent(acc, cand)]
        if not len(new):
            converged = True
            break
        acc = np.union1d(acc, new)
        if len(acc) > cap_pairs:
            return None  # outgrew the budget: run distributed instead
        deltas.append(len(new))
        frontier = new
        if auto:
            frontier_sizes.append(len(new))
            if _auto_should_switch(len(lr), frontier_sizes):
                # deep/flat shape: the doubling loop is the measured
                # winner there — leave the whole closure distributed
                return None
    if not converged:
        raise RuntimeError(
            f"path closure did not converge in {max_iterations} iterations")
    if len(deltas) >= _FUSE_MAX_ROUNDS:
        return None  # deeper than a scripted loop should carry
    return {"deltas": deltas, "rounds": lr, "switches": lsw,
            "base_n": base_n}


def _acc_broadcast_limit(spark) -> int:
    """Byte budget for broadcasting the fixpoint accumulator into the
    per-round anti-join (guide §3.1: broadcast replaces the shuffle of
    the OTHER side — here the re-shuffle of the growing accumulator,
    the O(d·closure) term STRESS_PATH_DIAMETER measured). Gated by
    BYTES, not cores: a closure that outgrows the budget falls back to
    the shuffle anti-join unchanged, so the behavior is scale-adaptive,
    not tuned to local[32]. Default 64 MB (well under the guide's
    few-hundred-MB comfort zone and the 8 GB hard cap); override with
    spark.kineo.path.broadcastAccBytes."""
    try:
        v = spark.conf.get("spark.kineo.path.broadcastAccBytes", None)
        if v:
            return int(v)
    except Exception:
        pass
    return 64 * 1024 * 1024


def _gate(n_pairs: int | None, per_bytes: int, limit: int) -> bool:
    return n_pairs is not None and n_pairs * per_bytes <= limit


def _anti_new(grown: DataFrame, acc: DataFrame, acc_n: int | None,
              per_bytes: int, limit: int) -> DataFrame:
    """``grown`` minus ``acc``, deduplicated, marked for LAZY local
    checkpointing: the caller's immediate ``count()`` materializes the
    checkpoint AND returns the round's delta size in one job, so each
    fixpoint round pays one scheduler round trip instead of two
    (guide §7.3 — at sub-second round times the driver-side gap between
    jobs is a large share of the closure's wall).

    Small accumulator (counted, under the byte gate): broadcast the
    anti-join build side and run it BEFORE the dedup, so the only
    exchange of the round moves just the surviving new pairs (plus
    their path multiplicity) instead of the whole composed relation —
    3 exchanges/round → 1. Large accumulator: identical shape to the
    pre-r12 code (dedup first to shrink the shuffle anti-join's input,
    then SMJ anti) — the regime the doubling switch exists for."""
    if _gate(acc_n, per_bytes, limit):
        return (grown.join(F.broadcast(acc), ["__a", "__b"], "left_anti")
                .dropDuplicates(["__a", "__b"])
                .localCheckpoint(eager=False))
    return (grown.dropDuplicates(["__a", "__b"])
            .join(acc, ["__a", "__b"], "left_anti")
            .localCheckpoint(eager=False))


def _doubling_rounds(acc: DataFrame, budget: int, max_iterations: int,
                     rounds_out: list | None, acc_n: int | None = None,
                     conf_hold=None) -> DataFrame:
    """Path-doubling (recursive squaring) from an accumulated relation:
    R_{k+1} = R_k ∪ R_k∘R_k covers every path length ≤ 2·max-covered,
    so a diameter-d graph converges in ⌈log2 d⌉ rounds instead of d.
    Each round joins the closure-so-far with itself — more work per
    round than the semi-naive frontier⋈edges step, but on high-diameter
    graphs (chains, DAG lineages: d in the hundreds) round count is the
    bottleneck at cluster scale: every round is a full shuffle stage +
    driver sync. Same key-space currency (16 B/row). ``acc`` must
    contain the single edges (any semi-naive prefix does).

    r12: the delta is produced through the same size-gated anti-join as
    the semi-naive loop (_anti_new), and the delta count it needs
    anyway doubles as the termination test — on converged rounds the
    count replaces the separate isEmpty job."""
    limit = _acc_broadcast_limit(acc.sparkSession)
    per_bytes = _pair_bytes(acc)
    lazy_depth = 0
    tune = _LoopConfs(acc.sparkSession, hold=conf_hold)
    try:
        for _round in range(budget):
            if rounds_out is not None:
                rounds_out.append(len(rounds_out) + 1)
            tune.ensure(_gate(acc_n, per_bytes, limit), acc_n or 1,
                        per_bytes)
            r2 = acc.select(F.col("__a").alias("__ja"),
                            F.col("__b").alias("__jb"))
            if _gate(acc_n, per_bytes, limit):
                r2 = F.broadcast(r2)
            grown = (
                acc.join(r2, acc["__b"] == r2["__ja"], "inner")
                .select(acc["__a"], F.col("__jb").alias("__b"))
            )
            new = _anti_new(grown, acc, acc_n, per_bytes, limit)
            n_new = new.count()
            if n_new == 0:
                return acc
            acc_n = (acc_n + n_new) if acc_n is not None else None
            acc, lazy_depth = _extend_acc(acc, new, acc_n, per_bytes, limit,
                                          lazy_depth)
    finally:
        tune.restore()
    raise RuntimeError(
        f"path closure did not converge in {max_iterations} iterations")


def _extend_acc(acc: DataFrame, new: DataFrame, acc_n: int | None,
                per_bytes: int, limit: int, lazy_depth: int
                ) -> tuple[DataFrame, int]:
    """acc ∪ new. While the accumulator is under the broadcast gate,
    keep the union LAZY over the already-checkpointed deltas instead of
    re-materializing the whole accumulator every round (the O(d·closure)
    copy); compact every 16 rounds so seeded BFS over a long chain never
    builds an unbounded union plan. Past the gate, materialize per round
    exactly as before r12 (the shuffle-regime shape STRESS measured)."""
    acc = acc.unionByName(new)
    if _gate(acc_n, per_bytes, limit) and lazy_depth < 16:
        return acc, lazy_depth + 1
    return acc.localCheckpoint(eager=True), 0


def _closure_pairs(ek: DataFrame, max_iterations: int,
                   seed_col=None, reverse: bool = False,
                   strategy: str = "auto",
                   scoped: bool = False,
                   rounds_out: list | None = None,
                   switch_out: list | None = None,
                   conf_hold=None) -> DataFrame:
    """The pure long-pair fixpoint: input and output are (__a, __b)
    8-byte dictionary-id pairs (hashed at scan by eval_path in term and
    ID mode alike; {g, n} structs when ``scoped``). All shuffles inside
    the loop move 16 B/row at any scale.

    ``strategy``: 'seminaive' (frontier⋈edges, work-efficient),
    'doubling' (recursive squaring, ⌈log2 d⌉ rounds), or 'auto' (the
    default: semi-naive with a measured-crossover switch to doubling —
    see _auto_should_switch). Seeded BFS (bound endpoint) always walks
    semi-naive: its frontier is the reachable set, never the closure.

    ``rounds_out``: optional list the executed fixpoint rounds are
    appended to (one entry per round, including the final empty-delta
    round) — the stress harness records rounds as measured numbers,
    not formulas (tools/stress_path_diameter.py). ``switch_out``: under
    'auto', the 1-based round at which doubling took over is appended
    (nothing when the fixpoint converged semi-naive)."""
    if reverse:
        ek = ek.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    # lazy checkpoint + count: ONE job both materializes the edge
    # relation and feeds every size gate below (guide §7.3 — halves the
    # closure's fixed driver round trips; at any scale the count is a
    # narrow scan of the just-checkpointed blocks)
    ek = ek.localCheckpoint(eager=False)
    limit = _acc_broadcast_limit(ek.sparkSession)
    per_bytes = _pair_bytes(ek)
    ek_n = ek.count()
    if strategy == "auto":
        # broadcast-regime mirror at the collect point (the distributed
        # gated loop would collect ek for its broadcast every round
        # anyway); explicit 'seminaive'/'doubling' keep the distributed
        # strategies pure for the stress harnesses.
        script = _local_mirror(ek, ek_n, per_bytes, seed_col, scoped,
                               max_iterations)
        if script is not None:
            acc = _scripted_rounds(ek, ek_n, per_bytes, limit, seed_col,
                                   scoped, script, conf_hold)
            if rounds_out is not None:
                rounds_out.extend(script["rounds"])
            if switch_out is not None:
                switch_out.extend(script["switches"])
            if reverse:
                acc = acc.select(F.col("__b").alias("__a"),
                                 F.col("__a").alias("__b"))
            return acc
    auto = strategy == "auto" and seed_col is None
    if seed_col is None and strategy == "doubling":
        acc = _doubling_rounds(ek, max_iterations, max_iterations, rounds_out,
                               acc_n=ek_n, conf_hold=conf_hold)
    else:
        if seed_col is not None:
            # scoped: match the seed's NODE hash in every graph — the
            # BFS then runs per graph from that graph's copy of the seed
            frontier = ek.filter(
                (F.col("__a")["n"] if scoped else F.col("__a")) == seed_col)
            acc = frontier.localCheckpoint(eager=False)
            acc_n = acc.count()
        else:
            acc = ek
            acc_n = ek_n
        frontier = acc
        e2 = ek.select(F.col("__a").alias("__ea"), F.col("__b").alias("__eb"))
        # small edge relation (same byte gate): broadcast it into the
        # per-round frontier join — the round's composition then has no
        # exchange at all and the dedup exchange moves only the delta.
        # Large edges keep the shuffle join (the 100 TB regime).
        if _gate(ek_n, per_bytes, limit):
            e2 = F.broadcast(e2)
        frontier_sizes: list[int] = []
        lazy_depth = 0
        frontier_n = acc_n
        tune = _LoopConfs(ek.sparkSession, hold=conf_hold)
        try:
            for _round in range(max_iterations):
                if rounds_out is not None:
                    rounds_out.append(len(rounds_out) + 1)
                tune.ensure(_gate(acc_n, per_bytes, limit),
                            frontier_n or 1, per_bytes)
                grown = (
                    frontier.join(e2, frontier["__b"] == e2["__ea"], "inner")
                    .select(frontier["__a"], F.col("__eb").alias("__b"))
                )
                new = _anti_new(grown, acc, acc_n, per_bytes, limit)
                # the delta count doubles as termination test, crossover
                # estimator input, and the size gate's running total — a
                # metadata-cheap job over the just-checkpointed delta
                n_new = new.count()
                if n_new == 0:
                    break
                if auto:
                    frontier_sizes.append(n_new)
                acc_n += n_new
                frontier_n = n_new
                acc, lazy_depth = _extend_acc(acc, new, acc_n, per_bytes,
                                              limit, lazy_depth)
                frontier = new
                if auto and _auto_should_switch(_round + 1, frontier_sizes):
                    if switch_out is not None:
                        switch_out.append(_round + 1)
                    tune.restore()
                    acc = _doubling_rounds(
                        acc, max_iterations - (_round + 1), max_iterations,
                        rounds_out, acc_n=acc_n)
                    break
            else:
                raise RuntimeError(
                    f"path closure did not converge in "
                    f"{max_iterations} iterations")
        finally:
            tune.restore()
    if reverse:
        acc = acc.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    return acc


def _scripted_rounds(ek: DataFrame, ek_n: int, per_bytes: int, limit: int,
                     seed_col, scoped: bool, script: dict,
                     conf_hold) -> DataFrame:
    """Re-run the mirror's productive semi-naive rounds distributed,
    with the per-round count jobs and the terminal empty round elided
    (_local_mirror proved the deltas' sizes and convergence). Identical
    plan shapes to the un-scripted gated loop — same _anti_new
    broadcast anti-join, same lazy checkpoints, same _extend_acc
    accumulation, same _LoopConfs width pinning — so per-round shuffle
    bytes and delta materialization are byte-for-byte the loop's; only
    the driver round trips disappear. Each round still pays one
    Catalyst pass (the lazy checkpoint's toRdd); the deltas materialize
    inside the first downstream job instead of one count job each."""
    if seed_col is not None:
        acc = ek.filter(
            (F.col("__a")["n"] if scoped else F.col("__a")) == seed_col
        ).localCheckpoint(eager=False)
        acc_n = script["base_n"]
    else:
        acc, acc_n = ek, ek_n
    frontier, frontier_n = acc, acc_n
    e2 = ek.select(F.col("__a").alias("__ea"), F.col("__b").alias("__eb"))
    if _gate(ek_n, per_bytes, limit):
        e2 = F.broadcast(e2)
    lazy_depth = 0
    tune = _LoopConfs(ek.sparkSession, hold=conf_hold)
    try:
        for n_new in script["deltas"]:
            tune.ensure(_gate(acc_n, per_bytes, limit), frontier_n or 1,
                        per_bytes)
            grown = (
                frontier.join(e2, frontier["__b"] == e2["__ea"], "inner")
                .select(frontier["__a"], F.col("__eb").alias("__b"))
            )
            new = _anti_new(grown, acc, acc_n, per_bytes, limit)
            acc_n += n_new
            frontier_n = n_new
            acc, lazy_depth = _extend_acc(acc, new, acc_n, per_bytes,
                                          limit, lazy_depth)
            frontier = new
        if script["deltas"]:
            # ONE count over the last delta materializes the whole
            # checkpoint chain serially (its lineage pulls every earlier
            # delta through the caches). Without it the downstream
            # query's concurrent AQE stages race to compute the
            # un-materialized checkpoints and duplicate the delta work
            # (measured: 3× the loop's shuffle bytes). One job replaces
            # the loop's k count jobs + the terminal empty round.
            frontier.count()
    finally:
        tune.restore()
    return acc


# -- evaluation ----------------------------------------------------------------
# Reference: IDPathPlans — paths run entirely on dictionary ids and
# materialize terms once at the top (IDQueryPlan.swift:802-1225).


def _node_id(df: DataFrame, col, gname: str | None, kb: int):
    """Dictionary id of a term column, hashed at scan — under a binding
    graph var a per-graph {g, n} id struct, so composition joins,
    closure rounds and dedups stay within one graph while seeded BFS can
    still match the node part alone."""
    if gname:
        return F.struct(id_of_term_col(df[gname], kb).alias("g"),
                        id_of_term_col(col, kb).alias("n"))
    return id_of_term_col(col, kb)


def _id_edges_for(compiler, path: A.Path, graph) -> DataFrame:
    """One-step relation as (__a, __b) dictionary-id longs computed
    straight off the scans: no term structs and no key strings enter any
    path shuffle — Catalyst prunes the scan down to the columns the two
    hashes read."""
    kb = getattr(compiler, "_key_bits", 64)
    gname = _gvar(graph)
    if isinstance(path, A.PLink):
        sv, ov = A.Var("__ps"), A.Var("__po")
        df = compiler._scan(A.QuadPattern(sv, path.iri, ov, graph)).df
        return df.select(_node_id(df, df["__ps"], gname, kb).alias("__a"),
                         _node_id(df, df["__po"], gname, kb).alias("__b"))
    if isinstance(path, A.PInv):
        inner = _id_edges_for(compiler, path.path, graph)
        return inner.select(inner["__b"].alias("__a"),
                            inner["__a"].alias("__b"))
    if isinstance(path, A.PSeq):
        l = _id_edges_for(compiler, path.lhs, graph)
        r = _id_edges_for(compiler, path.rhs, graph).select(
            F.col("__a").alias("__ma"), F.col("__b").alias("__rb"))
        j = l.join(r, l["__b"] == F.col("__ma"), "inner")
        return j.select(l["__a"], F.col("__rb").alias("__b"))
    if isinstance(path, A.PAlt):
        return _id_edges_for(compiler, path.lhs, graph).unionByName(
            _id_edges_for(compiler, path.rhs, graph))
    if isinstance(path, A.PNps):
        sv, pv, ov = A.Var("__ps"), A.Var("__pp"), A.Var("__po")
        df = compiler._scan(A.QuadPattern(sv, pv, ov, graph)).df
        df = df.filter(~df["__pp"]["lex"].isin([t.lex for t in path.iris]))
        return df.select(_node_id(df, df["__ps"], gname, kb).alias("__a"),
                         _node_id(df, df["__po"], gname, kb).alias("__b"))
    # NESTED closures (a star/plus/opt under seq/alt/inv, e.g.
    # ((p/q)|^(r+))* ): evaluate the inner fixpoint to a pair relation
    # and keep composing relationally. Top-level closures go through
    # eval_path, which adds the seeded BFS; a nested closure is
    # inherently unseeded (its endpoints are interior join columns), so
    # the full inner closure is the correct cost.
    if isinstance(path, (A.PPlus, A.PStar, A.PZeroOrOne)):
        one = _id_edges_for(compiler, path.path, graph) \
            .dropDuplicates(["__a", "__b"])
        if not isinstance(path, A.PZeroOrOne):
            one = _closure_pairs(one, compiler.max_path_iterations,
                                 strategy=compiler.path_strategy,
                                 scoped=bool(gname))
        if isinstance(path, A.PPlus):
            return one
        # zero-length arm: every graph node relates to itself (§18.4 ALP)
        ident = _id_graph_nodes(compiler, graph).select(
            F.col("__k").alias("__a"), F.col("__k").alias("__b"))
        return one.unionByName(ident).dropDuplicates(["__a", "__b"])
    raise NotImplementedError(type(path).__name__)


def _id_nodes_for(compiler, path: A.Path, graph) -> DataFrame:
    """(__k id, __n term) map covering every node the path's edges can
    touch — joined back ONCE, only against the ids that survive the
    closure and endpoint filters (survivor-only materialization)."""
    kb = getattr(compiler, "_key_bits", 64)
    if isinstance(path, (A.PStar, A.PZeroOrOne)):
        # a nested zero-arm introduces identity pairs over EVERY graph
        # node — the node map must cover them or materialize drops rows
        return _id_nodes_for(compiler, path.path, graph).unionByName(
            _id_graph_nodes(compiler, graph, scoped=False))
    if isinstance(path, (A.PInv, A.PPlus)):
        return _id_nodes_for(compiler, path.path, graph)
    if isinstance(path, (A.PSeq, A.PAlt)):
        return _id_nodes_for(compiler, path.lhs, graph).unionByName(
            _id_nodes_for(compiler, path.rhs, graph))
    if isinstance(path, A.PLink):
        sv, ov = A.Var("__ps"), A.Var("__po")
        df = compiler._scan(A.QuadPattern(sv, path.iri, ov, graph)).df
    elif isinstance(path, A.PNps):
        sv, pv, ov = A.Var("__ps"), A.Var("__pp", binding=False), A.Var("__po")
        df = compiler._scan(A.QuadPattern(sv, pv, ov, graph)).df
    else:
        raise NotImplementedError(type(path).__name__)
    s, o = df["__ps"], df["__po"]
    return df.select(id_of_term_col(s, kb).alias("__k"), s.alias("__n")) \
        .unionByName(df.select(id_of_term_col(o, kb).alias("__k"),
                               o.alias("__n")))


def _id_graph_nodes(compiler, graph, scoped: bool = True) -> DataFrame:
    """(__k, __n) over every subject/object in the graph (zero-length
    endpoints for unbound ``p*`` / ``p?``, reference
    MaterializedQueryPlan.swift:1986-2174). Under a binding graph var
    the key is a per-graph {g, n} id struct (``scoped=False`` forces
    plain node ids — the shape the materialization node map needs)."""
    kb = getattr(compiler, "_key_bits", 64)
    gname = _gvar(graph) if scoped else None
    sv, pv, ov = A.Var("__ps"), A.Var("__pp", binding=False), A.Var("__po")
    df = compiler._scan(A.QuadPattern(sv, pv, ov, graph)).df
    return (
        df.select(_node_id(df, df["__ps"], gname, kb).alias("__k"),
                  df["__ps"].alias("__n"))
        .unionByName(df.select(_node_id(df, df["__po"], gname, kb)
                               .alias("__k"), df["__po"].alias("__n")))
        .distinct()  # __n functionally dependent on __k (module note)
    )


def eval_path(compiler, node: A.PathPattern, graph) -> "Plan":
    """Property path pattern → Plan, for every compiler: edges fetch as
    dictionary-id longs, the closure iterates on longs (16 B/row
    shuffles), a bound endpoint seeds the closure BFS and filters as id
    equality, and terms materialize from a node map only for the
    variables the compiler reads (``compiler._is_id_var``) — join-only
    endpoint vars of an ID-mode query stay 8-byte ids into the enclosing
    joins. Reference: IDPathPlans + MaterializeTermsPlan boundary,
    IDQueryPlan.swift:802-1225; ALP, MaterializedQueryPlan.swift:
    2101-2174."""
    from kineo_spark.compiler import Plan

    kb = getattr(compiler, "_key_bits", 64)
    path = node.path
    spark = compiler.spark
    gname = _gvar(graph)
    scoped = gname is not None
    seed_term, seed_rev = None, False
    if isinstance(node.subject, PyTerm):
        seed_term = node.subject
    elif isinstance(node.object, PyTerm):
        seed_term, seed_rev = node.object, True
    seed_col = _const_id(seed_term, kb) if seed_term is not None else None

    # endpoint binding, decided up front so the closure branch knows
    # whether a node map will be needed before the fixpoint starts
    out_cols: dict[str, str] = {}
    filters = []
    for endpoint, colname in ((node.subject, "__a"), (node.object, "__b")):
        if isinstance(endpoint, PyTerm):
            nk = F.col(colname)["n"] if scoped else F.col(colname)
            filters.append(nk == _const_id(endpoint, kb))
        elif endpoint.name in out_cols:  # same var both ends
            filters.append(F.col("__a") == F.col("__b"))
        elif endpoint.binding:
            out_cols[endpoint.name] = colname
    sel = {n: (F.col(c)["n"] if scoped else F.col(c))
           for n, c in out_cols.items()}
    if scoped:
        # ?g binds from the graph part of the key (an id; materialized
        # below from the graph-term map iff the query reads its value)
        sel[gname] = F.col("__a")["g"]
        out_cols[gname] = "__a"
    mat = [v for v in out_cols if not compiler._is_id_var(v)]

    def zero_pairs() -> DataFrame:
        if seed_term is not None:
            # ALP starts from the bound term itself, whether or not it
            # appears in the graph — one (t, t) pair, and under GRAPH ?g
            # one in EVERY named graph
            if scoped:
                g = compiler.store.graph_terms()
                k = F.struct(id_of_term_col(F.col("__g"), kb).alias("g"),
                             seed_col.alias("n"))
                return g.select(k.alias("__a"), k.alias("__b"))
            return spark.range(1).select(seed_col.alias("__a"),
                                         seed_col.alias("__b"))
        n = _id_graph_nodes(compiler, graph)
        return n.select(F.col("__k").alias("__a"), F.col("__k").alias("__b"))

    def _build_nodes(inner, zero_used) -> DataFrame:
        """The id→term map for the materialize joins below — factored
        out so the closure branch can start materializing it on a
        background thread while the fixpoint runs (guide §2.6: the two
        are independent; the closure's driver-planning gaps leave
        executors idle for exactly this job)."""
        nodes = _id_nodes_for(compiler, inner, graph)
        if zero_used and seed_term is None:
            nodes = nodes.unionByName(
                _id_graph_nodes(compiler, graph, scoped=False))
        elif zero_used:
            # the bound term's own zero-length pair may name a term
            # outside the graph
            nodes = nodes.unionByName(spark.range(1).select(
                seed_col.alias("__k"), seed_term.as_column().alias("__n")))
        if scoped:
            g = compiler.store.graph_terms()
            nodes = nodes.unionByName(g.select(
                id_of_term_col(F.col("__g"), kb).alias("__k"),
                F.col("__g").alias("__n")))
        return nodes.distinct()  # __n dependent on __k (module note)

    zero_used = isinstance(path, (A.PStar, A.PZeroOrOne))
    wait_nodes = None
    if isinstance(path, (A.PPlus, A.PStar, A.PZeroOrOne)):
        inner = path.path
        pairs = _id_edges_for(compiler, inner, graph) \
            .dropDuplicates(["__a", "__b"])
        if not isinstance(path, A.PZeroOrOne):
            hold = None
            if mat:
                wait_nodes, hold = _count_checkpointed_async(
                    _build_nodes(inner, zero_used))
            pairs = _closure_pairs(pairs, compiler.max_path_iterations,
                                   seed_col, seed_rev, compiler.path_strategy,
                                   scoped=scoped, conf_hold=hold)
        if zero_used:
            pairs = pairs.unionByName(zero_pairs()) \
                .dropDuplicates(["__a", "__b"])
    else:
        inner = path
        pairs = _id_edges_for(compiler, path, graph)  # bag semantics

    df = pairs
    for cond in filters:
        df = df.filter(cond)
    df = df.select(*[c.alias(n) for n, c in sel.items()])
    if mat:
        if wait_nodes is None:
            wait_nodes, _ = _count_checkpointed_async(
                _build_nodes(inner, zero_used))
        # size-gated broadcast of the id→term map into the materialize
        # joins (guide §3.1): the closure is pairs-many rows, the node
        # map only nodes-many — broadcasting the SMALL side spares the
        # final joins their shuffle+sort of the whole closure. Same
        # byte-budget conf as the accumulator gate.
        nodes, n_nodes = wait_nodes()
        small = _gate(n_nodes, _node_row_bytes(nodes),
                      _acc_broadcast_limit(spark))
        for v in mat:
            nv = nodes.select(F.col("__k").alias(f"__k_{v}"),
                              F.col("__n").alias(f"__n_{v}"))
            if small:
                nv = F.broadcast(nv)
            df = (df.join(nv, df[v] == F.col(f"__k_{v}"), "inner")
                  .drop(v, f"__k_{v}")
                  .withColumnRenamed(f"__n_{v}", v))
    return Plan(df.select(*out_cols.keys()), frozenset(out_cols),
                frozenset(v for v in out_cols if v not in mat))

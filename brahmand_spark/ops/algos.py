"""Iterative graph algorithms as DataFrame-join loops.

The driver's north star names "GraphX for graph analytics"; GraphX is a
Scala-only RDD API with no PySpark binding, and its Pregel loop is
exactly an iterated join-aggregate: messages = vertices ⋈ edges,
new state = groupBy(dst).agg(...). These implementations express that
loop directly in the DataFrame API so Catalyst/Tungsten run each
superstep, and scale the way GraphX does (hash-partitioned by vertex id,
one shuffle per superstep).

Every superstep loop — here, in ops/walks and in the compiler's
shortestPath BFS — runs through one runner, ``_Supersteps``. Its
contract:

- **Barriers.** ``ckpt(df)`` truncates lineage once per superstep
  (iterative lineage otherwise grows unboundedly and re-executes from
  scratch at every action). ``count(df)`` / ``ckpt_obs(df, *aggs)``
  collect the round's size or convergence probe as observed metrics
  riding that same checkpoint job: one job per barrier, no separate
  probe action. Fixed-iteration loops skip the probe.
- **Checkpoint mode.** ``checkpoint=True``/``'local'`` (default)
  truncates via ``localCheckpoint``: executor block storage,
  zero-setup, right for exploration, but the blocks are LOST with
  their executor, and Spark cannot recompute them. ``'local_disk'``
  keeps them on disk (bounded heap). ``'reliable'`` (with
  ``checkpoint_dir=`` naming a DFS path, or a SparkContext checkpoint
  dir already set) writes each round's vertex-sized state to the
  reliable store, so executor loss costs a re-read, not a rerun;
  naming ``checkpoint_dir`` alone upgrades the default to it.
  ``False`` disables truncation (tiny graphs, few rounds). Results
  are mode-independent.
- **Rounds.** ``rounds(limit, self_join=...)`` numbers a loop's
  supersteps from 1. A loop that joins its own previous state
  declares ``self_join=True``; on every ``_RESET_STATS_EVERY``-th
  round its barrier strips the checkpoint's inherited size estimate
  (``_reset_stats``). No other loop pays for the reset. The loop body
  decides what the round limit means: MIS and SCC raise,
  betweenness warns, the others return what they have.
  ``until_stable`` is the changed-flag fixpoint (the step emits a
  boolean ``chg`` column whose count rides the barrier; stop at 0).
- **Partition sizing.** Inside ``sized(rows)`` the session's
  ``spark.sql.shuffle.partitions`` shrinks to
  ``ceil(rows / _PART_TARGET_ROWS)`` (never above the session value),
  and ``resize`` re-derives it from the rows a barrier observed, or
  from the join rows a ``touched`` frame counted. Only the outermost
  scope per session is live; the setting is restored on exit.
- Edge DataFrames are reused across supersteps: persist() them before
  calling if they are derived (not a raw parquet scan).

All file:line references are to /root/reference for the query-surface
parity modules; this module is a pure extension (the reference has no
graph algorithms at all — SURVEY.md §2.8).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import math
import threading
import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# failed _reset_stats rebuilds in this process; next() on it is atomic
_RESET_FAILURES = itertools.count()


def _reset_stats(df: DataFrame) -> DataFrame:
    """Rebuild a (checkpointed) frame from its JVM row RDD so its
    LogicalRDD carries NO origin statistics (r15). Spark 3.4+
    checkpoints PRESERVE the origin plan's statistics (SPARK-39748:
    LogicalRDD carries originStats), so a superstep loop that joins
    its own previous state COMPOUNDS size estimates multiplicatively
    across rounds — a self-joining round DOUBLES the estimate's bit
    length (measured: 14 -> 26 -> 51 -> 100 -> 199 -> 396 bits over 5
    rounds), and after ~25-30 such rounds the BigInteger arithmetic
    inside plan-stats estimation OOMs the driver or throws "BigInteger
    would overflow supported range" (reproduced on a 24-cycle SCC
    sweep; only SELF-join loops double — ordinary join chains grow
    tens of bits per round and are harmless). The reset is requested
    EXPLICITLY for loops that declare themselves self-joining
    (``_Supersteps.rounds(self_join=True)``) rather than probed from
    the stored estimate: reading ``stats().sizeInBytes()`` through
    py4j stringifies the BigInteger (py4j ReturnObject ->
    BigInteger.toString, quadratic), which was caught burning minutes
    per checkpoint once estimates grew large.
    Purely a metadata reset: same rows, same truncated lineage (the
    new plan's RDD is derived from the checkpointed blocks); the new
    frame's estimate falls back to spark.sql.defaultSizeInBytes.

    If the rebuild fails, the frame comes back unchanged and one
    RuntimeWarning per process says the guard is off."""
    try:
        spark = df.sparkSession
        jdf = spark._jsparkSession.createDataFrame(
            df._jdf.javaRDD(), df._jdf.schema())
        return type(df)(jdf, spark)
    except Exception as exc:
        if next(_RESET_FAILURES) == 0:
            warnings.warn(
                f"superstep stats reset failed ({exc!r}); self-joining "
                "loops keep compounding size estimates",
                RuntimeWarning, stacklevel=2)
        return df


def _ckpt(df: DataFrame, mode, reset_stats: bool = False) -> DataFrame:
    """Per-round lineage truncation. ``mode``: False → none;
    True/'local' → localCheckpoint (executor blocks — fast, lost
    with an executor); 'local_disk' → localCheckpoint with DISK_ONLY
    storage (bounded heap — the right mode when the per-round frame
    is a large fraction of executor memory, e.g. 10^8+ rows on a
    single JVM); 'reliable' → DataFrame.checkpoint to the
    SparkContext checkpoint dir (survives executor loss; see module
    docstring). Results are mode-independent — only failure-recovery
    and memory behavior differ. ``reset_stats=True`` additionally
    strips the checkpoint's inherited size estimate (_reset_stats) —
    required by SELF-JOINING loops, whose estimates otherwise double
    per round until plan-stats arithmetic overflows."""
    fix = _reset_stats if reset_stats else (lambda d: d)
    if not mode:
        return df
    if mode is True or mode == "local":
        return fix(df.localCheckpoint(eager=True))
    if mode == "local_disk":
        from pyspark import StorageLevel

        return fix(df.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY))
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint='reliable' needs a checkpoint directory: "
                "pass checkpoint_dir= (or call "
                "SparkContext.setCheckpointDir first)")
        return fix(df.checkpoint(eager=True))
    raise ValueError(
        f"checkpoint must be False, True, 'local', 'local_disk' or "
        f"'reliable' (got {mode!r})")


def _ckpt_obs(df: DataFrame, mode, *aggs, reset_stats: bool = False):
    """Checkpoint ``df`` AND collect named aggregate metrics over it in
    the same job (``Dataset.observe`` → a CollectMetrics node riding the
    checkpoint action), so a superstep's convergence probe needs no
    second job — one barrier, one job (guide §2.4). Returns
    ``(ckpt_df, metrics_dict)``; ``aggs`` must be aliased aggregate
    Columns. Verified on Spark 4.1 for local/local_disk/reliable
    checkpoints, empty frames, and shuffled/AQE plans (the metric
    arrives in ~2 ms vs ~100 ms for a separate isEmpty job).

    With checkpointing disabled there is no job to ride, so the probe
    runs as one explicit ``count()`` action over the observed frame —
    same eagerness the old per-round ``isEmpty`` had in that mode (and
    no ``first()``/``collect()``, which the loop contracts pin as
    driver-action-free)."""
    obs = Observation()
    if not mode:
        df.observe(obs, *aggs).count()
        return df, obs.get
    out = _ckpt(df.observe(obs, *aggs), mode, reset_stats=reset_stats)
    return out, obs.get


# Target shuffle-input rows per reduce partition for superstep loops.
# ~250k narrow rows is a few MB — small enough that one task stays
# cache-friendly, large enough that a loop over millions of rows keeps
# full parallelism (9M-edge LPA at sf0.1 still computes >= 32).
_PART_TARGET_ROWS = 250_000

# Self-joining superstep loops strip the checkpoint's inherited size
# estimate every N-th round — their estimates double in bit length per
# round (see _reset_stats), so a periodic reset caps the planner's
# BigInteger work at initial_bits * 2^N while paying the row
# conversion on at most one round in N.
_RESET_STATS_EVERY = 6

# Sessions with a live sized() scope (keyed by the underlying JVM
# session object id) + the lock that serializes enter/exit: only the
# outermost loop per session may own the shuffle.partitions override.
_AP_LOCK = threading.Lock()
_AP_ACTIVE: set[int] = set()

_PARTS = "spark.sql.shuffle.partitions"


class _Supersteps:
    """One iterative loop's barriers, round numbering and partition
    sizing (the contract is in the module docstring). Built once per
    call from the input frame and the caller's ``checkpoint`` /
    ``checkpoint_dir`` options."""

    def __init__(self, df: DataFrame, checkpoint=True, checkpoint_dir=None):
        self.spark = df.sparkSession
        self.mode = _prepare_ckpt(df, checkpoint, checkpoint_dir)
        self._reset = False  # strip stats at the round's barrier
        self._orig = None    # session partitions while this loop owns them
        self._rows = None
        self._touched: list[Observation] = []

    def ckpt(self, df: DataFrame) -> DataFrame:
        reset, self._reset = self._reset, False
        return _ckpt(df, self.mode, reset_stats=reset)

    def ckpt_obs(self, df: DataFrame, *aggs):
        """``(checkpointed df, metrics)`` with ``aggs`` (aliased
        aggregate Columns) collected on the checkpoint job."""
        reset, self._reset = self._reset, False
        return _ckpt_obs(df, self.mode, *aggs, reset_stats=reset)

    def count(self, df: DataFrame):
        """``(checkpointed df, row count)`` in one job."""
        out, m = self.ckpt_obs(df, F.count(F.lit(1)).alias("n"))
        return out, m["n"]

    def rounds(self, limit: int | None = None, self_join: bool = False):
        """Round numbers 1..limit (unbounded when ``limit`` is None).
        A self-joining loop takes one barrier per round; on every
        ``_RESET_STATS_EVERY``-th round that barrier resets stats."""
        for r in itertools.count(1) if limit is None \
                else range(1, limit + 1):
            self._reset = self_join and r % _RESET_STATS_EVERY == 0
            yield r

    def until_stable(self, state: DataFrame, step, limit=None,
                     self_join: bool = False) -> DataFrame:
        """Iterate ``state = step(state, round)`` until no row's
        boolean ``chg`` column is set (or ``limit`` rounds ran); the
        changed count rides each round's barrier."""
        for r in self.rounds(limit, self_join):
            state, m = self.ckpt_obs(
                step(state, r),
                F.count(F.when(F.col("chg"), True)).alias("chg"))
            state = state.drop("chg")
            if m["chg"] == 0:
                break
        return state

    def touched(self, df: DataFrame) -> DataFrame:
        """``df`` with its row count observed on whichever barrier runs
        it; the count feeds the next ``resize`` (a supernode frontier's
        join output can outgrow every state frame)."""
        obs = Observation()
        self._touched.append(obs)
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    @contextlib.contextmanager
    def sized(self, rows: int | None = None):
        """Scale ``spark.sql.shuffle.partitions`` to the loop's data
        while the block runs: ``min(session setting, ceil(rows /
        _PART_TARGET_ROWS))``, restored on exit. ``rows=None`` keeps
        the session setting until the first ``resize``.

        Why (guide §2.2): every superstep materializes through a
        checkpoint, whose RDD-path execution AQE coalescing does NOT
        reach — so per-round reduce-task count rides the static
        session setting no matter how small the live state is
        (measured ~0.85 s/barrier at 32 partitions vs ~0.37 s at 8 on
        a fixture-sized coloring superstep). The count only ever
        SHRINKS below the session value and derives from observed
        loop-state sizes, not from the local core count. Results are
        partition-count-independent (pinned by the repartition-
        invariance tests). The setting is session-global while the
        loop runs, like ``setJobDescription``, so only the OUTERMOST
        scope per session is live: a nested or
        concurrent loop on the same session becomes a no-op instead of
        capturing the outer loop's shrunken value as its original."""
        key = id(getattr(self.spark, "_jsparkSession", self.spark))
        with _AP_LOCK:
            owner = key not in _AP_ACTIVE
            _AP_ACTIVE.add(key)
        try:
            if owner:
                with contextlib.suppress(TypeError, ValueError):
                    self._orig = int(self.spark.conf.get(_PARTS))
                if rows is not None:
                    self.resize(rows)
            yield self
        finally:
            if owner:
                if self._orig is not None:
                    self.spark.conf.set(_PARTS, str(self._orig))
                self._orig = self._rows = None
                with _AP_LOCK:
                    _AP_ACTIVE.discard(key)

    def _want(self) -> int:
        return min(self._orig,
                   max(1, math.ceil(self._rows / _PART_TARGET_ROWS)))

    def resize(self, *rows: int) -> None:
        """Feed a fresher size signal: the max of ``rows`` and the
        rows ``touched`` frames counted since the last call."""
        rows = max(*rows, *(o.get["n"] for o in self._touched), 1)
        self._touched = []
        if self._orig is None or rows == self._rows:
            return
        self._rows = rows
        self.spark.conf.set(_PARTS, str(self._want()))


def _prepare_ckpt(df: DataFrame, checkpoint, checkpoint_dir):
    """Entry-point half of the checkpoint option: install
    ``checkpoint_dir`` on the SparkContext when given (and upgrade
    the default mode to 'reliable' — naming a durable dir means you
    want it used). The BRAHMAND_CHECKPOINT env var overrides the
    DEFAULT mode only (checkpoint=True) — how the scale soak flips
    every iterative gate to 'local_disk' without touching call
    sites; an explicit argument always wins, and so does an explicit
    ``checkpoint_dir`` (naming a durable dir means you want reliable
    checkpoints -- the env must not silently downgrade that; review
    r10). Returns the effective mode for `_ckpt`."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        if checkpoint is True:
            checkpoint = "reliable"
    if checkpoint is True:
        import os

        env = os.environ.get("BRAHMAND_CHECKPOINT", "").strip()
        if env:
            checkpoint = env
    return checkpoint


def _union_all(parts: list[DataFrame], empty: DataFrame | None = None):
    """Left-deep unionByName of ``parts``; ``empty`` when there are none."""
    return functools.reduce(lambda a, b: a.unionByName(b), parts) \
        if parts else empty


def _vertex_ids(edges: DataFrame, src: str = "src",
                dst: str = "dst") -> DataFrame:
    """Distinct ``(id)`` over both endpoint columns."""
    return edges.select(F.col(src).alias("id")).union(
        edges.select(F.col(dst).alias("id"))).distinct()


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both orientations of every edge in ONE pass over the input:
    explode([(src, dst), (dst, src)]) instead of a self-union, which
    would evaluate the (possibly expensive) edge subtree twice."""
    return edges.select(
        F.explode(F.array(
            F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
            F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
        )).alias("e")
    ).select("e.a", "e.b")


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    iterations: int = 10, damping: float = 0.85,
    checkpoint: bool | str = True,
    checkpoint_dir: str | None = None, sources: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank over an edge list.

    Dangling vertices (no out-edges) redistribute uniformly; ranks sum
    to the vertex count (GraphX convention: initial rank 1.0 each).
    Returns (id, rank). One shuffle per iteration (groupBy dst); the
    scalar dangling mass stays a 1-row DataFrame broadcast-crossJoined
    into the rank update, so each superstep is ONE job with no driver
    round-trip (a ``.first()`` here would re-run the anti-join as a
    separate action every iteration).

    ``sources`` (an ``(id)`` DataFrame) switches to PERSONALIZED
    PageRank: the teleport mass — both the ``1 - damping`` reset and
    the dangling redistribution — concentrates uniformly on the source
    set instead of all vertices (random walk with restart to the
    seeds). Ranks then measure proximity to the sources; vertices the
    sources can't reach converge to 0. Same superstep shape: the
    preference column is a left-semi-derived 0/1 flag joined once onto
    the vertex set, so no per-iteration extra work.
    """
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    vertices = _vertex_ids(e)
    if sources is not None:
        # preference weight: n/|S| on sources, 0 elsewhere (sums to n,
        # matching the uniform case where every vertex carries 1)
        s = sources.select(F.col(sources.columns[0]).alias("id")) \
            .distinct().withColumn("_is_src", F.lit(1.0))
        n_src = s.count()
        if n_src == 0:
            raise ValueError("sources must contain at least one vertex")
        vertices = vertices.join(s, "id", "left").select(
            "id", F.coalesce("_is_src", F.lit(0.0)).alias("_pref")
        )
    else:
        vertices = vertices.withColumn("_pref", F.lit(1.0))
    vertices, n = ss.count(vertices)
    # per-vertex teleport share: uniform -> 1/n * n = 1; personalized
    # -> n/|S| on sources (both normalized so ranks sum to n)
    pref_scale = 1.0 if sources is None else float(n) / n_src
    pref = F.col("_pref") * F.lit(pref_scale)
    # r14 optimization (guide §2.4): the out-degree attaches to the
    # EDGE set once up front (e2 = e ⋈ out_deg, checkpointed) and the
    # dangling-vertex set is precomputed once, so each iteration is
    # one ranks ⋈ e2 join + one aggregate + the vertex update instead
    # of re-running the out_deg join and the dangling anti-join every
    # round. contrib values (rank / out_deg) are unchanged.
    # (An LPA-style adjacency-compacted edge state was MEASURED SLOWER
    # here back-to-back at sf0.1 — 3.37 s vs 2.72 s min — the extra
    # collect_list prep aggregate isn't paid back when ranks is tiny
    # enough to broadcast into the contrib join; see OPTIMIZATION_r14.)
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e2, n_edges = ss.count(e.join(out_deg, "src"))
    dang_v = ss.ckpt(
        vertices.join(out_deg.withColumnRenamed("src", "id"), "id",
                      "left_anti").select("id"))
    ranks = vertices.select("id", "_pref", F.lit(1.0).alias("rank"))
    # every iteration shuffles at most max(|E|, |V|) rows (contrib
    # aggregate / vertex update)
    with ss.sized(max(n, n_edges)):
        for _ in ss.rounds(iterations):
            contribs = (
                ranks.join(e2, ranks["id"] == e2["src"], "inner")
                .select(
                    F.col("dst").alias("id"),
                    (F.col("rank") / F.col("out_deg")).alias("contrib"),
                )
                .groupBy("id")
                .agg(F.sum("contrib").alias("recv"))
            )
            # mass of dangling vertices, redistributed over the teleport
            # distribution — kept as a 1-row aggregate and broadcast into
            # the update (no driver fetch)
            dangling = (
                ranks.join(dang_v, "id", "leftsemi")
                .agg(F.coalesce(F.sum("rank"),
                                F.lit(0.0)).alias("_dangling"))
            )
            ranks = (
                vertices.join(contribs, "id", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "id", "_pref",
                    (F.lit(1.0 - damping) * pref
                     + F.lit(damping)
                     * (F.coalesce(F.col("recv"), F.lit(0.0))
                        + F.col("_dangling") * pref / F.lit(float(n)))
                     ).alias("rank"),
                )
            )
            ranks = ss.ckpt(ranks)
    return ranks.select("id", "rank")


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iterations: int = 20, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
    algorithm: str = "hashmin",
) -> DataFrame:
    """Undirected connected components. Returns (id, component) with
    component = the smallest vertex id in the component.

    ``algorithm='hashmin'`` (default): min-label propagation — every
    vertex repeatedly adopts the smallest label among itself and its
    neighbors. O(diameter) supersteps; right for the short-diameter
    graphs typical of sf-scale fixtures and social graphs.

    ``algorithm='two-phase'``: alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — converges in O(log n) rounds regardless
    of diameter, the right choice for 100 TB graphs whose diameter is
    unknown or large (a path-shaped graph makes HashMin run
    diameter-many shuffles)."""
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    if algorithm == "two-phase":
        labels, _ = _cc_two_phase(edges, src, dst, max_iterations, ss.mode)
        return labels
    if algorithm != "hashmin":
        raise ValueError(
            f"unknown connected-components algorithm {algorithm!r} "
            "(expected 'hashmin' or 'two-phase')"
        )
    # One prep shuffle, not two: repartition("a") then dropDuplicates —
    # hashpartitioning(a) already clusters (a, b), so the dedup
    # aggregate runs in place with no second exchange.
    und, n_und = ss.count(
        _symmetrize(edges, src, dst)
        .repartition(F.col("a")).dropDuplicates(["a", "b"]))
    labels = ss.ckpt(und.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    ))

    def step(labels, _round):
        # shuffle_hash on the label side: build the per-task hash map
        # on labels (vertex-sized) instead of sorting the edge side;
        # scale-safe — no broadcast assumption.
        neighbor_min = (
            labels.hint("shuffle_hash")
            .join(und, labels["id"] == und["a"], "inner")
            .select(F.col("b").alias("id"), "component")
            .groupBy("id")
            .agg(F.min("component").alias("nbr_min"))
        )
        # changed-flag rides the row (nbr_min < component iff the
        # label moves) — no per-round compare-join (guide §2.4)
        return labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_min"), F.col("component")),
            ).alias("component"),
            (F.col("nbr_min") < F.col("component")).alias("chg"),
        )

    # every superstep shuffles at most |E_sym| rows (the vote aggregate)
    with ss.sized(n_und):
        return ss.until_stable(labels, step, max_iterations, self_join=True)


def _cc_two_phase(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iterations: int = 20, checkpoint: bool | str = True,
) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14). Returns (labels, rounds_run).

    Each round alternates two tree-flattening steps over the current
    pair set, kept oriented child > parent:

    - large-star: per node u over its SYMMETRIC neighborhood,
      m = min(N(u) + {u}); every strictly-larger neighbor v > u
      re-hangs onto m — long chains halve.
    - small-star: per node u over its SMALLER neighbors,
      m = min(N(u) + {u}); u and all its smaller neighbors hang
      directly onto m — stars flatten.

    The pair set converges (in O(log n) rounds) to one star per
    component rooted at the minimum id; labels then read straight off
    the pairs. Convergence is detected with a 1-row signature
    aggregate per round (count + order-independent bit_xor of pair
    hashes — no driver-side edge materialization ever).

    Scale shape per round: two groupBy(min) aggregates + two equi-
    joins + distincts, all shuffled on vertex ids; lineage truncated
    per round. No step keys anything by component, so a giant
    component never concentrates on one task (HashMin shares this
    property; the win here is round COUNT, not per-round cost)."""
    ss = _Supersteps(edges, checkpoint)
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    vertices = ss.ckpt(
        e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
    )
    # child > parent orientation; self-loops drop (they never affect
    # membership; singleton vertices rejoin via the anti-join below)
    pairs, n_pairs = ss.count(
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct())
    prev_sig = None
    rounds = 0
    # every round shuffles at most 2x the (shrinking) pair count (the
    # symmetric large-star aggregate)
    with ss.sized(2 * n_pairs):
        for rounds in ss.rounds(max_iterations, self_join=True):
            # -- large-star over the symmetric neighborhood
            sym = pairs.union(
                pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            mins = (
                sym.groupBy("u").agg(F.min("v").alias("m"))
                .select("u", F.least("u", "m").alias("m"))
            )
            large = (
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            # -- small-star (input already child > parent)
            mins2 = (
                large.groupBy("u").agg(F.min("v").alias("m"))
            )
            small = (
                large.join(mins2, "u")
                .filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(mins2.select("u", F.col("m").alias("v")))
                .distinct()
            )
            # the 1-row signature rides the checkpoint job (guide §2.4:
            # one job per round, not two)
            pairs, m = ss.ckpt_obs(
                small,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("x"),
            )
            sig = (m["n"], m["x"])
            if sig == prev_sig:
                break
            prev_sig = sig
            ss.resize(2 * m["n"])
    labels = pairs.select(
        F.col("u").alias("id"), F.col("v").alias("component")
    )
    roots = (
        vertices.withColumnRenamed("u", "id")
        .join(labels, "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    return labels.unionByName(roots), rounds


def bfs_distances(
    edges: DataFrame, sources: DataFrame,
    src: str = "src", dst: str = "dst", id_col: str = "id",
    max_hops: int = 10, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source BFS: shortest hop-distance from any source vertex.
    Returns (id, distance). Frontier-based: each superstep expands only
    newly-reached vertices (the frontier), so total work is O(edges
    touched), not O(V × hops)."""
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    visited = ss.ckpt(sources.select(
        F.col(id_col).alias("id"), F.lit(0).alias("distance")
    ).distinct())
    frontier = visited
    # hop 1 runs at the session setting (no size signal yet); each hop
    # then sizes partitions by the larger of its touched-edge rows (the
    # expansion join output) and visited rows — a supernode frontier
    # can never under-partition
    with ss.sized():
        for hop in ss.rounds(max_hops):
            neighbors = (
                ss.touched(frontier.join(e, frontier["id"] == e["src"],
                                         "inner"))
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            new_frontier, n_new = ss.count(
                neighbors.join(visited, "id", "left_anti")
                .select("id", F.lit(hop).alias("distance")))
            if n_new == 0:
                break
            visited, n_visited = ss.count(visited.unionByName(new_frontier))
            frontier = new_frontier
            ss.resize(n_visited)
    return visited


def sssp_weighted(
    edges: DataFrame, sources: DataFrame,
    src: str = "src", dst: str = "dst", weight_col: str = "weight",
    id_col: str = "id", max_iterations: int = 20, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (frontier Bellman-Ford).
    Returns ``(id, dist)`` with ``dist`` the minimum edge-weight sum
    from any source, considering paths of at most ``max_iterations``
    edges (= converged when the graph's weighted diameter is smaller).

    Each superstep relaxes only edges leaving vertices whose distance
    improved last round (the frontier) — identical results to full
    Bellman-Ford (round i holds exact shortest-paths over <= i edges)
    at O(touched edges) per round instead of O(E). Weights must be
    non-negative (no negative-cycle detection). Integer weights sum
    exactly; the whole loop is shuffled on vertex ids and
    checkpoint-truncated per round like the other loops here.

    r14 optimization (guide §2.4): each round is ONE materialization —
    the relaxation candidates full-outer-merge into the distance table
    with an ``imp`` flag riding the row, so the next frontier and the
    convergence probe both read the already-materialized result
    instead of the r13 shape's two checkpoints (improved, then the
    merged table) per round. Same distances — the merge arithmetic is
    unchanged, only the materialization schedule moved."""
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"),
        F.col(weight_col).alias("w"),
    )
    dist = ss.ckpt(sources.select(
        F.col(id_col).alias("id"), F.lit(0).cast("bigint").alias("dist")
    ).distinct())
    frontier = dist
    # round 1 runs at the session's shuffle-partition setting (no size
    # signal yet); each round then sizes partitions by the max of its
    # reached-vertex rows and touched-edge rows (the relaxation join
    # output, so a supernode frontier can never under-partition)
    with ss.sized():
        for _ in ss.rounds(max_iterations, self_join=True):
            cand = (
                ss.touched(frontier.join(e, frontier["id"] == e["src"],
                                         "inner"))
                .select(
                    F.col("dst").alias("id"),
                    (F.col("dist") + F.col("w")).alias("cand"),
                )
                .groupBy("id")
                .agg(F.min("cand").alias("cand"))
            )
            better = F.coalesce(
                F.col("old").isNull() | (F.col("cand") < F.col("old")),
                F.lit(False),
            )
            # improved-count rides the checkpoint job — no separate probe
            merged, m = ss.ckpt_obs(
                dist.withColumnRenamed("dist", "old")
                .join(cand, "id", "full_outer")
                .select(
                    "id",
                    F.when(better, F.col("cand")).otherwise(F.col("old"))
                    .alias("dist"),
                    better.alias("imp"),
                ),
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("imp"), True)).alias("imp"),
            )
            dist = merged.drop("imp")
            frontier = merged.filter("imp").drop("imp")
            if m["imp"] == 0:
                break
            ss.resize(m["n"])
    return dist


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected simple graph in canonical a<b orientation."""
    return _symmetrize(edges, src, dst) \
        .filter(F.col("a") < F.col("b")).distinct()


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts on the undirected simple graph.
    Canonical-orientation join (each undirected edge kept as a<b) so
    every triangle is materialized exactly once; two shuffles."""
    return _triangles_from_canon(_canonical_edges(edges, src, dst))


def _triangles_from_canon(canon: DataFrame) -> DataFrame:
    # wedges a<b<c from edges (a,b) and (b,c); close with (a,c)
    ab = canon.alias("ab")
    bc = canon.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("bc")
    wedges = ab.join(bc, "b")
    tri = wedges.join(
        canon.select(F.col("a").alias("a"), F.col("b").alias("c")),
        ["a", "c"],
    ).select("a", "b", "c")
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return per_vertex


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient on the undirected simple graph:
    C(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)), 0 for degree
    < 2 — composition of the existing triangle and degree passes plus
    one join; the canonical edge set is built ONCE and feeds both (no
    duplicated symmetrize-distinct shuffle). Returns (id, degree,
    triangles, coefficient) for every vertex."""
    und = _canonical_edges(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("id"))
        .union(und.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = _triangles_from_canon(und)
    return (
        deg.join(tri, "id", "left")
        .select(
            "id", "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(0.0).alias("coefficient"),
        )
    )


def maximal_independent_set(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    seed: int = 42, max_rounds: int = 30, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Maximal independent set via Luby's algorithm (Luby 1986, "A
    simple parallel algorithm for the maximal independent set
    problem") with DETERMINISTIC hash priorities instead of fresh
    randomness: each round, a live vertex whose
    ``xxhash64(id, seed, round)`` is strictly smaller than every live
    neighbor's (ties by id) joins the set; it and its neighbors leave.
    O(log n) rounds in expectation, each one join-aggregate superstep
    on the shrinking live subgraph; the output is a pure function of
    (graph, seed). Returns (id, in_set) for every vertex.

    Self-loops: a vertex adjacent to itself can never belong to an
    independent set (it conflicts with itself), so self-looped
    vertices are excluded from candidacy and always come back with
    ``in_set=false`` — the same vertex class the SCC implementation
    handles explicitly."""
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    und = ss.ckpt(
        _symmetrize(edges, src, dst)
        .filter(F.col("a") != F.col("b")).distinct())
    all_v = ss.ckpt(_vertex_ids(edges, src, dst))
    selfed = edges.filter(F.col(src) == F.col(dst)).select(
        F.col(src).alias("id")).distinct()
    # live-vertex count rides each checkpoint job — the loop-top probe
    # is a free integer compare (guide §2.4)
    live_v, n_live = ss.count(all_v.join(selfed, "id", "left_anti"))
    live_e = und
    chosen_parts: list[DataFrame] = []
    for rnd in ss.rounds(max_rounds):
        if n_live == 0:
            break
        # the priority hash keys on the 0-based round index
        pri = ss.ckpt(live_v.select(
            "id",
            F.xxhash64(F.col("id"), F.lit(seed), F.lit(rnd - 1))
            .alias("p"),
        ))
        # min neighbor priority per vertex (live edges only)
        nbr_min = (
            live_e.join(pri.withColumnRenamed("id", "b"),
                        "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.min(F.struct("p", F.col("b").alias("tid")))
                 .alias("_m"))
        )
        winners = (
            pri.join(nbr_min, "id", "left")
            .filter(
                F.col("_m").isNull()
                | (F.struct("p", F.col("id").alias("tid"))
                   < F.col("_m"))
            )
            .select("id")
        )
        winners = ss.ckpt(winners)
        chosen_parts.append(winners)
        removed = winners.unionByName(
            live_e.join(winners.withColumnRenamed("id", "a"), "a",
                        "leftsemi")
            .select(F.col("b").alias("id"))
        ).distinct()
        removed = ss.ckpt(removed)
        live_v, n_live = ss.count(live_v.join(removed, "id", "left_anti"))
        live_e = ss.ckpt(
            live_e.join(removed.withColumnRenamed("id", "a"), "a",
                        "left_anti")
            .join(removed.withColumnRenamed("id", "b"), "b",
                  "left_anti")
            .select("a", "b"))
    else:
        if n_live > 0:
            raise ValueError(
                f"MIS did not converge in {max_rounds} rounds")
    chosen = _union_all(chosen_parts, all_v.filter(F.lit(False)))
    return all_v.join(
        chosen.withColumn("in_set", F.lit(True)), "id", "left"
    ).select("id", F.coalesce("in_set", F.lit(False)).alias("in_set"))


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iterations: int = 5, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
    symmetrized: bool = False, adj_chunk: int = 1 << 16,
) -> DataFrame:
    """Community detection by synchronous label propagation (the GraphX
    LabelPropagation parity algorithm): every vertex starts in its own
    community and repeatedly adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label — fully deterministic,
    unlike the randomized classic. Returns (id, community).

    Shape per superstep: one vertex-sized join (labels onto chunked
    adjacency lists) + one two-key count aggregate fed by the explode
    + one argmax via the struct-max trick — the only edge-sized shuffle
    is the map-side-combined vote exchange, lineage truncated per
    iteration. Note synchronous LPA can oscillate on bipartite
    structures; ``max_iterations`` bounds it (GraphX ships the same
    caveat).

    ``symmetrized=True``: the caller guarantees ``edges`` already holds
    both orientations of every undirected edge with no duplicate rows
    (e.g. a relational self-join with ``a != b``). Skips the
    explode-both-directions pass AND the dedup aggregate over the
    doubled edge set — at sf0.1 the clique gate's 9M-row dedup was
    ~40% of total wall time.

    r14 representation: the symmetric edge set persists as CHUNKED
    ADJACENCY LISTS ``(a, _nbrs)`` instead of edge pairs (guide §2.3 —
    shuffle/cache fewer bytes). Each vote round is then a VERTEX-sized
    label join whose edge-sized explode feeds the partial aggregate
    inside one codegen stage, the checkpointed state halves (one ``a``
    per list, not per edge), and round 1's min-neighbor collapses to a
    per-row ``array_min``. ``adj_chunk`` bounds the EXPECTED neighbors
    per row so a supernode does not build an unbounded array: its list
    splits into ceil(degree/adj_chunk) hash-bucketed rows, so a bucket
    holds ~adj_chunk neighbors in expectation (hash bucketing gives no
    hard per-bucket cap, but deviations are tiny at these sizes); vote
    counts are unchanged because every edge still explodes exactly
    once.

    r15: frontier-delta voting (gather votes only for vertices with a
    changed neighbor once the changed set is small) was built and
    MEASURED SLOWER than this scatter shape even on an engineered
    sparse sf1 fixture (1.38M settled clique vertices + a 120k-vertex
    path whose labels churn every round: scatter min 13.7 s vs delta
    18.0 s over 3 interleaved passes, identical labels) — the scatter
    round is one exchange with in-stage map-side vote aggregation,
    while the gather needs a touched-set distinct, a second adjacency
    scan and an extra exploded-edge exchange that cost more than the
    full explode saves. Rejected on that evidence."""
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    # One prep shuffle: repartition by `a`, then dedup, degree,
    # chunked collect_list and the identity-labels distinct are ALL
    # co-partitioned on `a` (subset rule) — no further exchange.
    if symmetrized:
        base = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")) \
            .repartition(F.col("a"))
    else:
        base = _symmetrize(edges, src, dst) \
            .repartition(F.col("a")).dropDuplicates(["a", "b"])
    # shuffle_hash on the vertex-sized degree side: both sides are
    # already a-partitioned, and a sort-merge join would SORT the
    # edge-sized probe side just to attach one small int
    deg = base.groupBy("a").agg(F.count(F.lit(1)).alias("_d")) \
        .hint("shuffle_hash")
    adj = (
        base.join(deg, "a")
        .groupBy(
            "a",
            F.pmod(
                F.xxhash64("b"),
                F.greatest(F.ceil(F.col("_d") / F.lit(adj_chunk)),
                           F.lit(1)),
            ).alias("_bk"))
        .agg(F.collect_list("b").alias("_nbrs"))
        .select("a", "_nbrs")
    )
    und = ss.ckpt(adj)
    labels = ss.ckpt(und.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("community")
    ))

    def vote(labels, rnd):
        if rnd == 1:
            # Identity-label fast path: in round 1 every neighbor
            # holds a DISTINCT label (its own id), so every vote count
            # is 1 and "most frequent, smallest wins" collapses to
            # min(neighbor id) — on the symmetric adjacency that is a
            # per-row array_min folded over a vertex's chunk rows
            # (co-partitioned: zero exchanges in the heaviest round,
            # where no labels have merged yet).
            best = (
                und.select(F.col("a").alias("id"),
                           F.array_min("_nbrs").alias("_m"))
                .groupBy("id").agg(F.min("_m").alias("new_community"))
            )
        else:
            # Rounds 2+: VERTEX-sized label join onto the adjacency
            # (shuffle_hash: only labels move — the checkpointed
            # adjacency keeps its partitioning), then the edge-sized
            # explode feeds the MAP-SIDE partial aggregate in the same
            # codegen stage, compressing to near vertex cardinality
            # before the exchange.
            votes = (
                labels.hint("shuffle_hash")
                .join(und, labels["id"] == und["a"], "inner")
                .select("community", F.explode("_nbrs").alias("b"))
                .groupBy(F.col("b").alias("id"), F.col("community"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # argmax by (count desc, label asc): struct-max on (n, -label)
            best = (
                votes.groupBy("id")
                .agg(F.max(F.struct(
                    F.col("n"), (-F.col("community")).alias("neg"),
                )).alias("top"))
                .select("id", (-F.col("top.neg")).alias("new_community"))
            )
        # changed-flag rides the labels row — the convergence check is
        # a filter on the checkpointed result, not another id join
        return labels.join(best, "id", "left").select(
            "id",
            F.coalesce("new_community", "community").alias("community"),
            (F.col("new_community").isNotNull()
             & (F.col("new_community") != F.col("community")))
            .alias("chg"),
        )

    return ss.until_stable(labels, vote, max_iterations, self_join=True)


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex (in_degree, out_degree, degree) — one union + one
    aggregate; the basic skew/salting diagnostic input."""
    outs = edges.select(F.col(src).alias("id"),
                        F.lit(1).alias("o"), F.lit(0).alias("i"))
    ins = edges.select(F.col(dst).alias("id"),
                       F.lit(0).alias("o"), F.lit(1).alias("i"))
    return (
        outs.union(ins).groupBy("id")
        .agg(F.sum("o").alias("out_degree"), F.sum("i").alias("in_degree"))
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def k_core(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
    max_iterations: int = 30, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex
    has undirected degree >= k, via iterative peeling (drop low-degree
    vertices, recompute, repeat to fixpoint). Returns (id, degree)
    within the core.

    Shape per round: one aggregate + two semi-joins; the edge set
    shrinks monotonically, so later rounds touch less data. Converges
    in <= peeling-depth rounds (bounded by max_iterations). The
    per-round edge count rides the checkpoint job (observed metric);
    the unchanged side's count is carried from the previous
    iteration instead of recomputed."""
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    # edge counts ride the checkpoint jobs — no separate count() action
    # per peel round (guide §2.4)
    und, und_count = ss.count(
        _symmetrize(edges, src, dst)
        .filter(F.col("a") != F.col("b")).distinct())
    # each peel round shuffles at most |E_live| rows (shrinking)
    with ss.sized(und_count):
        for _ in ss.rounds(max_iterations):
            deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.filter(F.col("d") >= k).select("a")
            pruned = (
                und.join(keep, "a", "leftsemi")
                .join(keep.withColumnRenamed("a", "b"), "b", "leftsemi")
            )
            pruned, pruned_count = ss.count(pruned.select("a", "b"))
            if pruned_count == und_count:
                break
            und, und_count = pruned, pruned_count
            ss.resize(und_count)
    return (
        und.groupBy(F.col("a").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
    )


def _bfs_edges(edges: DataFrame, src: str, dst: str,
               directed: bool) -> DataFrame:
    """Distinct (src, dst) edges, both orientations unless directed."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed:
        e = _symmetrize(e, "src", "dst").select(
            F.col("a").alias("src"), F.col("b").alias("dst"))
    return e.distinct()


def _seed_sample(ss: _Supersteps, e: DataFrame, n_samples, seed: int):
    """``(vertices, n, seeds, k)`` for the sampled-sources estimators:
    the vertex set of ``e`` (checkpointed and counted in one job) and
    its ``k`` seeds ``(s)`` — every vertex, or the ``n_samples``
    smallest ``xxhash64(id, seed)`` (TakeOrdered top-k, no full sort)."""
    vertices, n = ss.count(_vertex_ids(e))
    if n_samples is None or n_samples >= n:
        return vertices, n, vertices.select(F.col("id").alias("s")), n
    seeds = (
        vertices.orderBy(F.xxhash64(F.col("id"), F.lit(seed)))
        .limit(n_samples).select(F.col("id").alias("s"))
    )
    return vertices, n, seeds, n_samples


def harmonic_centrality(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    n_samples: int | None = None, max_hops: int = 10,
    directed: bool = False, seed: int = 42, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Harmonic centrality C_H(v) = sum over u != v of 1/d(u, v) —
    the centrality that stays finite on disconnected graphs
    (unreachable pairs contribute 0). Returns (id, centrality) for
    EVERY vertex.

    Exact all-pairs BFS is O(V * E); the standard scale estimator
    (Eppstein & Wang 2004's sampled-sources scheme, applied to the
    harmonic variant) runs BFS from ``n_samples`` seed vertices and
    scales by n/k: unbiased, error O(1/sqrt(k)). ``n_samples=None``
    uses every vertex as a seed (exact — the test oracle). Seeds are
    the k smallest ``xxhash64(id, seed)`` values: a deterministic
    uniform sample (TakeOrdered top-k, no full sort) that is a pure
    function of the data, like every sampler in this repo
    (ops/sampling.py — no ``rand()``).

    One frontier superstep per hop over (vertex, seed) pairs — the
    same join-anti-join shape as ``bfs_distances`` but keyed by pair,
    so state is at most V * k rows; k is the knob that trades accuracy
    for state. (The O(V * 2^p) alternative — HyperBall-style
    neighborhood sketches over ops/sketches' HLL registers — trades
    exactness per seed for all-sources coverage; the sampled-BFS form
    keeps DuckDB-replayable exactness.)

    ``directed=False`` (default) symmetrizes the edge list first;
    ``directed=True`` measures d(seed -> v) along edge direction.
    """
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    e = _bfs_edges(edges, src, dst, directed)
    vertices, n, seeds, k = _seed_sample(ss, e, n_samples, seed)
    # (id, s, dist): distance from seed s to vertex id
    visited = ss.ckpt(seeds.select(
        F.col("s").alias("id"), F.col("s"), F.lit(0).alias("dist")))
    frontier = visited
    for hop in ss.rounds(max_hops):
        # frontier size rides the checkpoint job — no separate probe
        new_frontier, n_new = ss.count(
            frontier.join(e, frontier["id"] == e["src"], "inner")
            .select(F.col("dst").alias("id"), "s")
            .distinct()
            .join(visited, ["id", "s"], "left_anti")
            .select("id", "s", F.lit(hop).alias("dist"))
        )
        if n_new == 0:
            break
        visited = ss.ckpt(visited.unionByName(new_frontier))
        frontier = new_frontier
    contrib = (
        visited.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("_h"))
    )
    return vertices.join(contrib, "id", "left").select(
        "id",
        (F.coalesce(F.col("_h"), F.lit(0.0)) * F.lit(n / k))
        .alias("centrality"),
    )


def betweenness_centrality(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    n_samples: int | None = None, max_hops: int = 10,
    directed: bool = False, seed: int = 42, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Betweenness centrality via Brandes' dependency accumulation
    (Brandes 2001, "A faster algorithm for betweenness centrality"),
    sampled-sources at scale (Brandes & Pich 2007): run the
    forward/backward pass from ``n_samples`` hash-sampled seeds and
    scale by n/k — ``n_samples=None`` uses every vertex (exact).
    Returns (id, centrality) for every vertex.

    Spark shape, one join-aggregate superstep per BFS level:

    - FORWARD: per (seed, vertex), shortest-path distance AND path
      count sigma — level t's sigma is the sum of the predecessors'
      sigmas (an integer sum, order-independent); state <= V * k rows,
      kept as one DataFrame per level so the backward pass needs no
      dist filtering;
    - BACKWARD, levels descending: delta(v) = sum over shortest-path
      successors w of sigma_v / sigma_w * (1 + delta(w)). To keep the
      result a pure function of the data under any partitioning, delta
      rides as INTEGER MICRO-UNITS with per-contribution flooring:
      ``floor(sigma_v * (1e6 + delta_w) / sigma_w)`` summed as
      integers — deterministic, engine-replayable, and within 1e-6 *
      (#contributions) of the float recursion (the pure-Python oracle
      replays the exact same integer arithmetic);
    - centrality(v) = n/k * sum over seeds of delta(seed, v), seeds
      themselves excluded, reported in units (micro / 1e6). Directed
      counts s->...->v paths; ``directed=False`` symmetrizes first
      (each undirected pair then counts from both endpoints, Brandes'
      2x convention left to the caller to halve if desired).

    ``max_hops`` BOUNDS the BFS depth: shortest paths longer than
    ``max_hops`` are ignored, so on graphs with diameter > max_hops
    the centrality is under-counted (raise it for exact results on
    deep graphs). When the frontier is still non-empty at the cap a
    warning is emitted so exact-mode callers notice the truncation.
    """
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    e = ss.ckpt(_bfs_edges(edges, src, dst, directed))
    vertices, n, seeds, k = _seed_sample(ss, e, n_samples, seed)
    # forward: levels[t] = (s, id, sigma) — shortest-path counts
    level = ss.ckpt(seeds.select(
        "s", F.col("s").alias("id"),
        F.lit(1).cast("bigint").alias("sigma")))
    levels = [level]
    visited = ss.ckpt(level.select("s", "id"))
    for _ in ss.rounds(max_hops):
        # frontier size rides the checkpoint job — no separate probe
        nxt, n_nxt = ss.count(
            level.join(e, level["id"] == e["src"], "inner")
            .select("s", F.col("dst").alias("id"), "sigma")
            .join(visited, ["s", "id"], "left_anti")
            .groupBy("s", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )
        if n_nxt == 0:
            break
        levels.append(nxt)
        visited = ss.ckpt(visited.unionByName(nxt.select("s", "id")))
        level = nxt
    else:
        # loop ran out before the frontier drained: paths beyond the
        # hop cap exist and are being ignored (ADVICE r5)
        probe = (
            level.join(e, level["id"] == e["src"], "inner")
            .select("s", F.col("dst").alias("id"))
            .join(visited, ["s", "id"], "left_anti")
        )
        if not probe.isEmpty():
            warnings.warn(
                f"betweenness_centrality: BFS frontier still live at "
                f"max_hops={max_hops}; shortest paths longer than the "
                f"cap are ignored and centrality is under-counted",
                RuntimeWarning, stacklevel=2)
    # backward: delta in integer micro-units, levels descending
    MICRO = 1_000_000
    delta = None  # (s, id, d) for the level below the current one
    acc: list[DataFrame] = []
    for t in range(len(levels) - 2, -1, -1):
        below = levels[t + 1].select(
            "s", F.col("id").alias("w"), F.col("sigma").alias("sig_w"))
        if delta is not None:
            below = below.join(
                delta.select("s", F.col("id").alias("w"),
                             F.col("d").alias("d_w")),
                ["s", "w"], "left",
            ).select("s", "w", "sig_w",
                     F.coalesce("d_w", F.lit(0)).alias("d_w"))
        else:
            below = below.select(
                "s", "w", "sig_w", F.lit(0).cast("bigint").alias("d_w"))
        # rename every join input up front: the level DataFrames share
        # lineage through the same seeds/edges subtrees, so qualified
        # refs would be ambiguous without checkpoints
        lv = levels[t].select(
            F.col("s").alias("ls"), F.col("id").alias("lid"),
            F.col("sigma").alias("lsig"))
        below = below.select(
            F.col("s").alias("bs"), "w", "sig_w", "d_w")
        cur = (
            lv.join(e, lv["lid"] == e["src"], "inner")
            .join(below, (F.col("dst") == F.col("w"))
                  & (F.col("ls") == F.col("bs")), "inner")
            .select(
                F.col("ls").alias("s"), F.col("lid").alias("id"),
                F.floor(
                    F.col("lsig") * (F.lit(MICRO) + F.col("d_w"))
                    / F.col("sig_w")
                ).cast("bigint").alias("_c"),
            )
            .groupBy("s", "id").agg(F.sum("_c").alias("d"))
        )
        delta = ss.ckpt(cur)
        if t > 0:  # the seed's own delta is not betweenness
            acc.append(delta)
    if not acc:
        return vertices.select(
            "id", F.lit(0.0).alias("centrality"))
    scores = _union_all(acc).groupBy("id").agg(F.sum("d").alias("_d"))
    return vertices.join(scores, "id", "left").select(
        "id",
        (F.coalesce(F.col("_d"), F.lit(0)) / F.lit(float(MICRO))
         * F.lit(n / k)).alias("centrality"),
    )


# SCC coloring superstep index (1-based) from which the pointer-jump
# branch joins the min aggregate: shallow fixpoints (< _JUMP_AFTER
# rounds) never pay the extra vertex-sized self-join; deeper ones
# switch to doubling and finish in _JUMP_AFTER + O(log d) barriers
# instead of O(d). Results are threshold-independent (the jump only
# adds ancestor-or-self candidates to a min whose fixpoint is the min
# ancestor id) — pinned by test_scc_long_cycle_jump_equals_plain.
_JUMP_AFTER = 4

# Backward-sweep BFS rounds before switching to the pointer-jump
# min-reachability tail (r15, VERDICT r14 #6). Higher than
# _JUMP_AFTER because the switch itself costs ~3 fixed checkpoint
# jobs (same-color edge set, reach init, final marked join) plus
# V+E-sized jump rounds where a BFS round is frontier-sized: the
# tail only wins once the REMAINING depth exceeds ~3 + log2(d), i.e.
# d >= ~7 — so sweeps that finish within 8 frontier rounds (the
# common shallow case) never pay it, and genuinely deep components
# (path-/cycle-heavy cores, depth 100s at web scale) cap at
# 8 + O(log d) barriers instead of O(d). Threshold-independent
# results pinned by test_scc_deep_cycle_sweep_jump_caps_barriers +
# the Tarjan-parity suite.
_SWEEP_JUMP_AFTER = 8


def strongly_connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_rounds: int = 20, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact SCC by iterative coloring (Orzan 2004's coloring scheme,
    the label-propagation member of the FW-BW family Slota et al. 2014
    benchmark as the scalable SCC approach — Tarjan's stack is
    inherently sequential). Returns (id, scc) with scc = the smallest
    vertex id in the component.

    Per outer round, on the vertices not yet assigned:

    0. TRIM to a fixpoint (the Trim phase of FW-BW-Trim, McLendon
       2005): a live vertex with no live in-edges or no live
       out-edges cannot sit on a cycle — it is its own SCC and leaves
       in bulk. Trimming alone drains every DAG region (tails,
       tendrils — most of a web graph), so the expensive coloring
       fixpoint only ever runs on the cyclic core; each trim superstep
       is two degree semi-joins, diameter-bounded like any peel.
    1. FORWARD coloring to a fixpoint: color(v) starts as v and every
       superstep takes min(color(v), min over in-edges of color(u)) —
       so color(v) = min id among v's ancestors (incl. itself);
    2. roots (color(v) == v) are each the min of their SCC: the
       BACKWARD sweep walks reversed edges from the roots WITHIN one
       color (u joins if color(u) == color(v), edge u->v, v marked);
       marked vertices are exactly {v : root ~> v and v ~> root} — an
       SCC per root — and leave the graph;
    3. every removed component cuts its color class; remaining
       vertices (ancestors that see the root's id but can't be reached
       back) re-color next round.

    Outer rounds needed = nesting depth of NONTRIVIAL SCCs along a
    path — small on real graphs (web/dependency graphs: one giant SCC
    plus DAG-like tails, and the tails go to trim; an acyclic graph
    drains entirely inside round 1's trim loop). Each superstep of
    every inner loop is a join + aggregate on the LIVE subgraph, which
    shrinks every round; lineage is checkpoint-truncated
    throughout. Raises if ``max_rounds`` outer rounds don't drain the
    graph.

    r14 optimization (guide §2.4 — remove shuffles outright): the trim
    keep-set comes from ONE doubled-edge aggregate instead of two
    distincts + two vertex semi-joins, and each coloring superstep is a
    union-then-single-aggregate (self color rows unioned with
    edge-propagated color rows, one min aggregate keyed by vertex)
    instead of join -> aggregate -> join-back — one exchange per
    superstep where the r13 shape had two, with identical colors
    (min over {self} ∪ {in-neighbor colors} either way). An unrolled
    multi-step-per-barrier variant was measured SLOWER (12.6 s vs
    9.4 s same-JVM: per-barrier plan complexity, not barrier count,
    dominates) and rejected.

    r14 (second pass) — CONDITIONAL POINTER JUMPING on the coloring
    fixpoint (guide §2.2/§2.6: each superstep barrier is a
    straggler sync at cluster scale, and plain min-propagation is
    bounded by the longest ancestor path — a linear-depth loop):
    from superstep ``_JUMP_AFTER`` on, each superstep additionally
    propagates ``color(color(v))`` — one extra VERTEX-sized
    self-join feeding the same min aggregate, which doubles the
    covered ancestor distance per round (O(log) total barriers).
    color(v) is always an ancestor-or-self of v and ancestors of an
    ancestor are ancestors, so the jump preserves the invariant and
    the fixpoint (min ancestor id) is unchanged. The threshold keeps
    shallow graphs (the common case — fixture converges in 6-7
    rounds) on the cheaper plain superstep: always-on jumping
    measured a same-JVM wash at sf0.1 (rounds 13 -> 10 but wall
    10.6 vs 10.6 avg) because the jump join is comparatively
    expensive when E ~ V; on deep graphs (long cycles/chains) the
    barrier count is the whole cost and jumping caps it at
    ``_JUMP_AFTER + O(log d)``. Also attempted and REJECTED on
    measurement: re-expressing the backward sweep as the symmetric
    min-reachability fixpoint with jumping — its V-sized rounds ran
    ~18% slower than the frontier-BFS whose per-round work shrinks
    with the frontier.
    """
    ss = _Supersteps(edges, checkpoint, checkpoint_dir)
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Vertex set from the UNFILTERED edge list: a vertex whose only
    # edges are self-loops is still a valid (singleton) SCC — only the
    # algorithm itself ignores self-loops, not the vertex universe.
    # live-vertex counts ride the checkpoint jobs throughout (r14,
    # guide §2.4): every convergence/emptiness probe below is a free
    # integer compare instead of its own job.
    live_v, n_live = ss.count(_vertex_ids(pairs, "u", "v"))
    e_live, n_edges = ss.count(
        pairs.filter(F.col("u") != F.col("v")).distinct())
    done_parts: list[DataFrame] = []
    # every superstep below shuffles at most max(|E_live|, |V_live|)
    # rows (the edge counts keep riding the e_live checkpoints)
    with ss.sized(max(n_live, n_edges)):
        for _ in ss.rounds(max_rounds):
            if n_live == 0:
                break
            # 0) trim trivial SCCs in bulk until stable: the keep set
            # (vertices with BOTH a live in- and out-edge) from ONE
            # doubled-edge aggregate (guide §2.4)
            for _ in ss.rounds():
                keep, n_keep = ss.count(
                    e_live.select(F.col("u").alias("id"),
                                  F.lit(1).alias("o"), F.lit(0).alias("i"))
                    .union(e_live.select(F.col("v").alias("id"),
                                         F.lit(0).alias("o"),
                                         F.lit(1).alias("i")))
                    .groupBy("id")
                    .agg(F.max("o").alias("has_o"), F.max("i").alias("has_i"))
                    .filter((F.col("has_o") == 1) & (F.col("has_i") == 1))
                    .select("id")
                )
                # keep ⊆ live_v, so the trim fixpoint test is a count
                # compare riding keep's checkpoint job — the per-peel
                # anti-join probe job is gone entirely (r14, guide §2.4);
                # trimmed itself stays lazy (re-derived from two
                # checkpointed frames only when a peel really happened)
                if n_keep == n_live:
                    break
                trimmed = live_v.join(keep, "id", "left_anti")
                done_parts.append(trimmed.select("id", F.col("id").alias("scc")))
                live_v, n_live = keep, n_keep
                e_live, n_edges = ss.count(
                    e_live.join(keep.withColumnRenamed("id", "u"), "u",
                                "leftsemi")
                    .join(keep.withColumnRenamed("id", "v"), "v", "leftsemi")
                    .select("u", "v"))
                ss.resize(n_live, n_edges)
            if n_live == 0:
                break
            # 1) forward min-coloring to fixpoint: per superstep, the new
            # color is min over {own color} ∪ {in-neighbor colors},
            # computed as a UNION of self rows and edge-propagated rows
            # into one min aggregate — a single exchange, no join-back
            # (the old color rides the self row for the chg flag; exactly
            # one self row per live vertex, so max(own) is it). From
            # superstep _JUMP_AFTER on, a POINTER-JUMP branch
            # (color(color(v)) via one vertex-sized self-join) joins the
            # union: it doubles the covered ancestor distance per round,
            # capping a diameter-bounded loop at O(log) barriers while
            # costing shallow graphs nothing (see docstring).
            colors = ss.ckpt(live_v.select("id", F.col("id").alias("color")))
            # the union's null 'old' must carry the id column's ACTUAL
            # dtype — hardcoding long breaks direct callers with string
            # ids (analysis error under ANSI, silent widening otherwise)
            id_type = colors.schema["color"].dataType

            def color_step(colors, superstep):
                own = colors.select(
                    "id", F.col("color"), F.col("color").alias("old"))
                prop = (
                    colors.join(e_live, colors["id"] == e_live["u"])
                    .select(F.col("v").alias("id"), "color",
                            F.lit(None).cast(id_type).alias("old"))
                )
                cand = own.union(prop)
                if superstep >= _JUMP_AFTER:
                    c2 = colors.select(F.col("id").alias("_jid"),
                                       F.col("color").alias("_jc"))
                    jump = (
                        colors.join(c2, colors["color"] == c2["_jid"])
                        .select("id", F.col("_jc").alias("color"),
                                F.lit(None).cast(id_type).alias("old"))
                    )
                    cand = cand.union(jump)
                return (
                    cand
                    .groupBy("id")
                    .agg(F.min("color").alias("color"),
                         F.max("old").alias("old"))
                    .select("id", "color",
                            (F.col("color") < F.col("old")).alias("chg"))
                )

            colors = ss.until_stable(colors, color_step, self_join=True)
            # 2) backward sweep from the roots within each color class:
            # frontier BFS while shallow — its per-round work shrinks
            # with the frontier and each edge is touched at most once
            # across the whole sweep. After _SWEEP_JUMP_AFTER rounds
            # (r15, VERDICT r14 #6 — same device as the coloring
            # fixpoint), switch to a MIN-REACHABILITY pointer-jump
            # fixpoint so a deep component costs O(log d) further
            # barriers instead of O(d): within a color class the root
            # c is the minimum id, so v is in c's SCC iff the smallest
            # id reachable from v inside the class is c itself, and
            # that min-over-descendants fixpoint admits the doubling
            # step p(v) <- min(p(v), p(p(v))) (p(v) is always
            # reachable-from-v within the class, and descendants of a
            # descendant are descendants). Shallow sweeps — the common
            # case — never pay the V-sized jump rounds.
            marked = ss.ckpt(colors.filter(F.col("id") == F.col("color")))
            frontier = marked
            for _ in ss.rounds(_SWEEP_JUMP_AFTER):
                preds = (
                    frontier.join(e_live, frontier["id"] == e_live["v"])
                    .select(F.col("u").alias("id"), "color")
                    .distinct()
                )
                grow, n_grow = ss.count(
                    preds.join(colors.withColumnRenamed("color", "c2"), "id")
                    .filter(F.col("color") == F.col("c2"))
                    .select("id", "color")
                    .join(marked, "id", "left_anti")
                )
                if n_grow == 0:
                    break
                # marked stays a lazy union of CHECKPOINTED grows — the
                # per-round anti-join reads cached blocks either way, so
                # materializing the union bought nothing (r14: one fewer
                # job per sweep round)
                marked = marked.unionByName(grow)
                frontier = grow
            else:
                # Pointer-jump tail on HASH-PRIORITY pointers (r15).
                # p(v) is a vertex known reachable from v within v's
                # color class, chosen to minimize the key
                # (is-marked-flag, xxhash64(p), p): with hash
                # priorities roughly half of each path's pointers
                # leave self in round 1, after which the p(p(v))
                # branch doubles covered distance per round —
                # randomized pointer jumping, expected O(log d)
                # rounds INDEPENDENT of the id labeling. (Propagating
                # the min reachable ID instead was built first and
                # measured O(depth) on ascending-id paths: every
                # pointer stays self until the wave arrives, and the
                # self-join stats compound meanwhile — see
                # _reset_stats.) At the fixpoint p(v) is the
                # key-minimal reachable vertex, whose flag is 0 iff v
                # reaches the BFS-marked set — i.e. iff v ~> root —
                # so the RESULT is a graph property, independent of
                # the hash. The class constraint folds into the edge
                # set ONCE (colors is fixed for the whole sweep);
                # each round keeps the coloring loop's union -> one
                # aggregate shape, with a struct-min in place of min.
                e_same = ss.ckpt(
                    e_live.join(colors.select(F.col("id").alias("u"),
                                              F.col("color").alias("_cu")),
                                "u")
                    .join(colors.select(F.col("id").alias("v"),
                                        F.col("color").alias("_cv")), "v")
                    .filter(F.col("_cu") == F.col("_cv"))
                    .select("u", "v")
                )
                mk = marked.select("id", F.lit(0).alias("_mk"))
                reach = ss.ckpt(
                    colors.join(mk, "id", "left")
                    .select("id", F.col("id").alias("p"),
                            F.coalesce("_mk", F.lit(1)).alias("pf")))

                def _key(p="p", pf="pf"):
                    return F.struct(
                        F.col(pf).alias("pf"),
                        F.xxhash64(F.col(p)).alias("h"),
                        F.col(p).alias("p"))

                _null_key = F.lit(None).cast(
                    f"struct<pf:int,h:bigint,p:{id_type.simpleString()}>")

                def jump_step(reach, _round):
                    own = reach.select(
                        "id", _key().alias("k"), _key().alias("old"))
                    prop = (
                        reach.join(e_same, reach["id"] == e_same["v"])
                        .select(F.col("u").alias("id"),
                                _key().alias("k"),
                                _null_key.alias("old"))
                    )
                    j2 = reach.select(F.col("id").alias("_jid"),
                                      _key().alias("_jk"))
                    jump = (
                        reach.join(j2, reach["p"] == j2["_jid"])
                        .select("id", F.col("_jk").alias("k"),
                                _null_key.alias("old"))
                    )
                    return (
                        own.union(prop).union(jump)
                        .groupBy("id")
                        .agg(F.min("k").alias("k"),
                             F.max("old").alias("old"))
                        .select("id", F.col("k.p").alias("p"),
                                F.col("k.pf").alias("pf"),
                                (F.col("k") < F.col("old")).alias("chg"))
                    )

                reach = ss.until_stable(reach, jump_step, self_join=True)
                # marked feeds done_parts + three live-set anti-joins;
                # checkpoint the filtered result once instead of
                # replaying it per consumer
                marked = ss.ckpt(
                    reach.filter(F.col("pf") == 0)
                    .join(colors, "id")
                    .select("id", "color"))
            done_parts.append(marked.select("id", F.col("color").alias("scc")))
            # 3) shrink the live subgraph
            live_v, n_live = ss.count(live_v.join(marked, "id", "left_anti"))
            e_live, n_edges = ss.count(
                e_live.join(marked.select(F.col("id").alias("u")), "u",
                            "left_anti")
                .join(marked.select(F.col("id").alias("v")), "v", "left_anti")
                .select("u", "v"))
            ss.resize(n_live, n_edges)
        else:
            if n_live > 0:
                raise ValueError(
                    f"SCC did not converge in {max_rounds} outer rounds; "
                    "raise max_rounds")
    return _union_all(done_parts, live_v.select(
        "id", F.col("id").alias("scc")).filter(F.lit(False)))

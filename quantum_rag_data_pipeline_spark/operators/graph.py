"""Distributed connected components — the clustering step of a dedup
pipeline (near-dup PAIRS -> duplicate CLUSTERS -> one canonical doc per
cluster).

Algorithm: iterative min-label propagation with pointer jumping
(``hash-to-min`` family; cf. Kiveris et al., "Connected Components in
MapReduce and Beyond"). Each round does

  1. neighbor-min: every node adopts the smallest label in its closed
     neighborhood (one shuffle on node id, map-side combinable), then
  2. pointer jump: every node re-reads its label's OWN label
     (``L(v) <- L(L(v))``, a self-join on label), which doubles the
     propagation distance per round.

The jump step turns the O(diameter) naive propagation into O(log d)
rounds — a 10^6-hop chain resolves in ~20 rounds. At cluster scale each
round is two hash shuffles over (node, label) longs — no strings, no
vectors. ``localCheckpoint`` truncates the growing lineage each round
(on a real cluster with an unreliable executor pool, swap for
``checkpoint()`` to the cluster FS); convergence is detected with a
changed-label count, the same driver-side loop GraphX/GraphFrames use.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The pointer-jump SELF-JOIN squares the logical plan's sizeInBytes every
# round: SizeInBytesOnlyStatsPlanVisitor.visitJoin multiplies child sizes,
# and localCheckpoint's rewriteStatsAndConstraints re-computes stats over
# the round's plan — so the BigInteger behind sizeInBytes DOUBLES its
# digit count per round and the DRIVER ends up in million-digit
# Karatsuba/Toom-Cook multiplications (measured: a 131k-node path graph
# reads 83 → 16,048,949 stats bits over 18 rounds, with rounds 17-18
# already paying ~1 s of pure BigInt arithmetic each; a 2-jumps/round
# variant quadruples digits per round and ground for 19 minutes inside
# BigInteger.multiplyToomCook3 — tools/r14/cc_stats_growth.py). Every
# STATS_RESET_EVERY rounds the label frame is therefore spilled to
# per-process scratch parquet and re-read: the fresh file-backed relation
# carries file-size stats (~20 bits) and growth restarts from there. The
# cadence never triggers at bench scale (sf0.1 converges in 7 rounds)
# and costs one (node,lbl)-longs write per 8 rounds at cluster scale —
# where a reliable checkpoint at this cadence is standard iterative-graph
# practice anyway.
_STATS_RESET_EVERY = 8
_CC_SPILL_SEQ = itertools.count()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the minimum
    node id of its connected component.

    Returns (node, cluster_id). Raises if ``max_iter`` rounds don't
    converge (pointer jumping makes that ~2^25 effective hops).

    SIZE-ADAPTIVE SOLVE (round 14): when the deduplicated symmetrized
    edge list has at most ``local_max_edges`` rows (default from
    ``SPARK_GRAFT_CC_LOCAL_MAX_EDGES``, 200_000 ≈ 3 MB of long pairs),
    the component labels are computed by a driver-side union-find over
    ONE collect of the already-checkpointed edge list instead of the
    iterative loop — the same philosophy as a broadcast join: below the
    threshold the whole problem fits in one process, and a driver solve
    replaces per-round shuffles + job-scheduling latency (the measured
    cost of the loop on a 3.6k-edge graph is ~7 rounds x ~0.5 s of pure
    job latency). The bound is on EDGES COLLECTED, not on input size —
    a 100 TB corpus whose near-dup pair graph collapses to thousands of
    edges after filtering takes the fast path; a billion-edge graph
    runs the distributed loop unchanged. Labels are identical by
    construction (union-find with min-label roots computes the same
    per-component minimum the propagation fixpoint does; pinned by
    test_connected_components_local_vs_distributed_parity).
    """
    import os

    if local_max_edges is None:
        local_max_edges = int(os.environ.get("SPARK_GRAFT_CC_LOCAL_MAX_EDGES", "200000"))

    # Checkpoint the DIRECTED distinct edge list BEFORE symmetrizing
    # (round 15): `sym = e.union(swap(e))` puts the caller's edge lineage
    # into TWO plan branches, and exchange reuse does NOT unify them (the
    # dedup_pipeline_canonical measurement: the whole candidate-join +
    # exact-verify pairs pipeline — 9 parquet scans, 12 joins, 34
    # aggregates, 0 ReusedExchange — executed twice inside the gate
    # count's job; only the `packed` cache was shared). Materializing e
    # once makes both union branches read the same checkpoint blocks, so
    # an expensive edge derivation runs exactly once however the caller
    # built it. The count is still fused with the materialization
    # (eager=False + first action, the round-14 pattern).
    e = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_e = e.count()
    # Same gate as before: sym is e UNION ALL swap(e), so |sym| == 2·|e|
    # and `2*n_e <= 2*local_max_edges` is the round-14 `n_sym` bound.
    if n_e <= local_max_edges:
        uf_parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while uf_parent[r] != r:
                r = uf_parent[r]
            while uf_parent[x] != r:  # path compression
                uf_parent[x], x = r, uf_parent[x]
            return r

        # collect the DIRECTED edges only (half of sym): the reversed
        # copies are union-find no-ops (union(u,v) == union(v,u)), so the
        # labels are identical and the driver sees half the rows.
        for row in e.collect():
            u, v = row[0], row[1]
            if u not in uf_parent:
                uf_parent[u] = u
            if v not in uf_parent:
                uf_parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN root so every root IS its component minimum
                if ru < rv:
                    uf_parent[rv] = ru
                else:
                    uf_parent[ru] = rv
        # Return the labels through the ARROW createDataFrame path
        # (guide §4 — eliminate the Python boundary): a plain list of
        # tuples becomes a PICKLED Python RDD whose partitions are
        # deserialized by PYTHON WORKER tasks on every downstream action
        # (defaultParallelism tasks; measured in bench context: the
        # canonical pipeline's noop save stage ran 32 python tasks with
        # 69.6 s summed runTime and 0.3 s summed CPU — pure worker wait).
        # A pandas frame converts to Arrow batches ONCE on the driver and
        # executes as a JVM-side scan, no Python workers at all.
        import pandas as pd

        nodes = list(uf_parent)
        pdf = pd.DataFrame({
            "node": pd.Series(nodes, dtype="int64"),
            "cluster_id": pd.Series([find(n) for n in nodes], dtype="int64"),
        })
        # an explicit schema: without Arrow an empty pdf has none to infer
        return edges.sparkSession.createDataFrame(pdf, "node long, cluster_id long")
    # The symmetrized view the loop joins against each round: a UNION ALL
    # of two projections of the checkpointed blocks — cheap to re-read
    # per round, no second copy persisted.
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = (
        sym.select(F.col("u").alias("node")).distinct().withColumn("lbl", F.col("node"))
    ).localCheckpoint(eager=True)

    # NOTE (round 8): scoping AQE OFF for the iteration rounds was tried
    # (per the MMR greedy-loop finding) and measured WORSE here — 6.3 s
    # vs 2.9 s in a same-session A/B at sf0.1. The two loops fail
    # differently: MMR's steps are LAZY (the cost is five catalyst
    # compiles, AQE wrapping is overhead), while these rounds EXECUTE
    # eagerly and AQE's partition coalescing is precisely what collapses
    # each round's 32-task micro-shuffles to 1-2 tasks. Keep AQE on.
    spill_dir: str | None = None
    for rnd in range(1, max_iter + 1):
        nbr_min = (
            sym.join(labels.select(F.col("node").alias("v"), "lbl"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .select(F.col("u").alias("node"), "nbr_lbl")
        )
        # carry the pre-round label through so convergence is a filter on
        # the checkpointed frame, not another join against the old labels
        cand = labels.join(nbr_min, "node", "left").select(
            "node",
            F.col("lbl").alias("old_lbl"),
            F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
        )
        parent_df = cand.select(F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl"))
        # eager=False + the convergence count in ONE job (round 14): the
        # count is the round's first action, so it materializes the
        # checkpoint blocks AND returns the changed-label tally in a
        # single job submission — the eager=True form paid a second
        # job's scheduling latency per round just to re-scan the blocks
        # it had just written (2 jobs/round -> 1; the count reads every
        # partition either way, so no work is added).
        jumped = (
            cand.join(parent_df, cand["lbl"] == parent_df["p_node"], "left")
            .select("node", "old_lbl", F.coalesce("p_lbl", "lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        changed = jumped.filter(F.col("lbl") != F.col("old_lbl")).count()
        labels = jumped.select("node", "lbl")
        if changed == 0:
            return labels.select("node", F.col("lbl").alias("cluster_id"))
        if rnd % _STATS_RESET_EVERY == 0:
            # Catalyst-stats reset (see _STATS_RESET_EVERY above): spill the
            # (node, lbl) longs to per-process scratch parquet and re-read.
            # Values pass through parquet exactly (two int64 columns), so
            # labels are unchanged; the scratch dir lives until process
            # exit (the returned frame's lineage reads these files) and is
            # removed by paths.py's atexit/pruning machinery.
            from quantum_rag_data_pipeline_spark.paths import artifact_root

            if spill_dir is None:
                spill_dir = os.path.join(
                    artifact_root(), f"cc_labels_{next(_CC_SPILL_SEQ)}"
                )
            part = os.path.join(spill_dir, f"round_{rnd}")
            labels.write.mode("overwrite").parquet(part)
            labels = labels.sparkSession.read.parquet(part)
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Near-dup pairs -> (node, cluster_id) with cluster_id = min doc id of
    the transitive-closure cluster. Feed any of the pair generators
    (exact/ngram/minhash/simhash/embedding) straight in."""
    return connected_components(pairs, src=id_a, dst=id_b)


def pagerank(
    edges: DataFrame,
    n_iter: int = 2,
    alpha: float = 0.85,
    src: str = "u",
    dst: str = "v",
    grid: int = 12,
) -> DataFrame:
    """PageRank over an UNDIRECTED edge list (each edge contributes mass
    both ways), fixed ``n_iter`` power iterations — the standard
    iterative-graph shape on Spark: per round one shuffle groupBy on the
    destination node; the rank frame is localCheckpointed each round so
    lineage stays flat (the classic iterative-DataFrame pitfall is an
    exponentially deep plan).

    Determinism contract: neighbor contributions are rounded to a
    ``grid``-decimal DECIMAL before the sum, so cross-partition float
    accumulation order can't change the answer — same device as the
    k-means M-step — and a SQL oracle replays the iteration exactly.
    No dangling-node term: an undirected edge list gives every node
    out-degree ≥ 1 by construction.

    Returns (node, pr) with pr on the decimal grid as DOUBLE."""
    both = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).unionAll(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("t"))
    ).localCheckpoint(eager=False)
    deg = both.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    nodes = deg.select(F.col("s").alias("node"), "d")
    n_nodes = nodes.count()  # one scalar job; the loop itself stays lazy
    pr = nodes.select(
        "node", "d", F.round(F.lit(1.0 / n_nodes), grid).alias("pr")
    )
    dec = f"decimal(28,{grid})"
    for _ in range(n_iter):
        contrib = both.join(
            pr.select(F.col("node").alias("s"), "d", "pr"), "s"
        ).select(
            F.col("t").alias("node"),
            F.round(F.col("pr") / F.col("d"), grid).cast(dec).alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("mass"))
        pr = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                "d",
                F.round(
                    (1.0 - alpha) / n_nodes
                    + alpha * F.coalesce(F.col("mass").cast("double"), F.lit(0.0)),
                    grid,
                ).alias("pr"),
            )
            # eager=False (round 14): the checkpoint still truncates the
            # catalyst plan immediately (round N+1 sees a LogicalRDD,
            # not round N's subtree), but materialization happens inside
            # the caller's single action instead of one extra job per
            # round — same fusion as the connected_components loop
            # (A/B: 16 -> 14 jobs, med 1.48 -> 1.30 s at sf0.1).
            .localCheckpoint(eager=False)
        )
    return pr.select("node", "pr")


# ---------------------------------------------------------------------------
# Shared co-purchase edge artifact
# ---------------------------------------------------------------------------

# Maps fingerprint -> on-disk artifact path (NOT a DataFrame: a cached
# frame is bound to the session that created it, so a second session
# sharing the context — spark.newSession() — would be served a frame
# carrying the other session's conf; the parquet re-read per call is
# cheap and always session-correct).
_EDGE_MEMO: dict[str, str] = {}


def _artifact_root() -> str:
    """Per-user artifact cache root, mode 0700 and ownership-verified —
    see quantum_rag_data_pipeline_spark.paths for the threat model."""
    from quantum_rag_data_pipeline_spark.paths import artifact_root

    return artifact_root()


def _lineitem_fingerprint(sf_dir: str) -> str:
    """Digest of the lineitem parquet files (path, size, mtime) under
    ``sf_dir`` — a testdata regeneration changes it, so a stale artifact
    can never be served for fresh data."""
    import hashlib
    import os

    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    root = os.path.join(sf_dir, "lineitem")
    paths = [root + ".parquet"] if os.path.exists(root + ".parquet") else []
    for dirpath, _dirs, files in os.walk(root):
        paths.extend(os.path.join(dirpath, f) for f in sorted(files))
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def copurchase_edges(spark, sf_dir: str, with_counts: bool = False) -> DataFrame:
    """The co-purchase part graph (item support >= 8 distinct orders,
    pair co-count >= 2) as an undirected edge list (u, v) with u < v —
    MATERIALIZED ONCE per (process, testdata) as a parquet artifact
    (per-process scratch root — round 14: nothing persists into a later
    bench/oracle invocation; each run derives the graph from lineitem).
    ``with_counts=True`` also returns the exact pair co-count ``co``
    (stored in the artifact; weighted-graph consumers like Bellman-Ford
    and the basket-support queries derive weights from it).

    Eight corpus queries (pagerank, triangles, BFS, k-core, LPA,
    assortativity, modularity, rich club) analyze this same graph; each
    used to re-derive it from ``lineitem`` (support groupBy + orderkey
    self-join + pair groupBy, ~2-3 s at sf0.1), which round 5 measured
    as ~25-30 s of the 315 s bench total. The first caller in a process
    pays the build and writes the edge list to a fingerprint-keyed
    parquet under a per-user, per-process 0700 cache root; every later
    caller in the same process gets a plain parquet scan. Each query's DuckDB oracle still derives the
    graph from ``lineitem`` itself, so the artifact's contents stay
    independently verified by every one of those gates.

    At 100 TB this IS the intended design, not a local shortcut: a
    shared derived table, written once (there: bucketed by ``u`` on the
    cluster FS via sinks/bucketed), scanned by every downstream graph
    job instead of re-shuffling the fact table eight times. The edge
    set is deterministic (exact integer thresholds), so materialization
    cannot change any query's result.
    """
    import os
    import shutil

    key = _lineitem_fingerprint(sf_dir)
    if key in _EDGE_MEMO:
        out = spark.read.parquet(_EDGE_MEMO[key])
        return out if with_counts else out.select("u", "v")

    final = os.path.join(_artifact_root(), f"copurchase_edges_v2_{key}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        from quantum_rag_data_pipeline_spark.sources.registry import load_table

        li = load_table(spark, "lineitem", sf_dir)
        sup = (
            li.groupBy("l_partkey")
            .agg(F.count_distinct("l_orderkey").alias("_s"))
            .filter(F.col("_s") >= 8)
            .select("l_partkey")
        )
        items = (
            li.join(F.broadcast(sup), "l_partkey")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        b = items.select(
            F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pk")
        )
        edges = (
            items.join(b, (F.col("l_orderkey") == F.col("_ok"))
                       & (F.col("l_partkey") < F.col("_pk")))
            .groupBy(F.col("l_partkey").alias("u"), F.col("_pk").alias("v"))
            .agg(F.count(F.lit(1)).alias("co"))
            .filter(F.col("co") >= 2)
            .select("u", "v", "co")
        )
        # write-to-temp + atomic rename: a concurrent builder (two
        # harnesses on one box) either wins the rename or discards its
        # copy and reads the winner's.
        tmp = f"{final}.tmp-{os.getpid()}"
        edges.coalesce(4).write.mode("overwrite").parquet(tmp)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        try:
            os.rename(tmp, final)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(os.path.join(final, "_SUCCESS")):
                raise

    _EDGE_MEMO[key] = final
    out = spark.read.parquet(final)
    return out if with_counts else out.select("u", "v")

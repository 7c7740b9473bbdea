"""Clustering stage S7: connected components over the verified-pair graph.

The reference has no explicit clustering (SURVEY.md 2.5: same-bucket grouping
only, implicit); our clusters(file_id, cluster_id = min file_id in component)
are the draw-independent artifact the north_rule's recall target is measured
against.

Distributed algorithm: alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 --
public algorithm). Each round is two groupBy+join shuffles and the edge set
converges to per-component stars in O(log^2 n) rounds worst case (O(log n)
in practice) regardless of graph diameter -- unlike plain min-label
propagation, whose O(diameter) rounds degrade on containment-ladder chains
(VERDICT r2 missing#2). GraphFrames deliberately avoided (SURVEY.md 7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _driver_union_find(edge_rows) -> dict[int, int]:
    """Union-find with path compression over collected edges. Used when the
    edge set is small enough to fit on the driver -- the verified-pair graph
    is orders of magnitude smaller than the corpus, so this path covers all
    but the most extreme runs and avoids ~2 shuffle jobs per label-prop
    iteration (the dominant serial floor at bench scale)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            # min-id root keeps cluster_id = min member id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in list(parent)}


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 25,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """edges: (id_a, id_b). nodes (optional): one column `file_id` -- nodes
    with no edges become singleton clusters. Returns (file_id, cluster_id).

    Scale-adaptive: below `driver_max_edges` the component computation runs
    as driver-side union-find (one bounded collect of two long columns --
    2M edges ~ a few hundred MB of Row objects, sized for a driver heap
    shared with local-mode executors); above it, distributed alternating
    large-star / small-star contraction (`_large_small_star`: O(log^2 n)
    rounds worst case, independent of diameter; raises RuntimeError if
    `max_iter` rounds pass without a fixpoint). Both produce cluster_id =
    min file_id in component, and the node table itself is never collected.
    """
    e = edges.select(
        F.col("id_a").cast("long").alias("src"), F.col("id_b").cast("long").alias("dst")
    )

    # ONE bounded job: collect up to the driver threshold + 1 rows. This both
    # answers "does the edge set fit on the driver" AND delivers the edges --
    # r1 ran a limit().count() probe followed by a sequential toLocalIterator
    # drain (one job per partition, a pure serial floor; VERDICT r1 next#1).
    # Arrow on both driver hops: toPandas instead of Row-object collect, and
    # a pandas frame instead of a pickled tuple list for the labels table --
    # each saves seconds of single-threaded (de)serialization at ~10^5 rows.
    head = e.limit(driver_max_edges + 1).toPandas()
    if len(head) <= driver_max_edges:
        import pandas as pd

        spark = edges.sparkSession
        mapping = _driver_union_find(
            zip(head["src"].to_numpy(), head["dst"].to_numpy())
        )
        if nodes is not None:
            all_nodes = nodes.select(
                F.col(nodes.columns[0]).cast("long").alias("node")
            ).distinct()
        else:
            # component roots are absent from the mapping (they are their
            # own parent) -- recover the full node set from the edges
            all_nodes = (
                e.select(F.col("src").alias("node"))
                .unionByName(e.select(F.col("dst").alias("node")))
                .distinct()
            )
        if mapping:
            mapped = spark.createDataFrame(
                pd.DataFrame(
                    {"node": list(mapping.keys()), "label": list(mapping.values())}
                ).astype("int64")
            )
            labels = (
                all_nodes.join(F.broadcast(mapped), "node", "left")
                .withColumn("label", F.coalesce("label", "node"))
                .select("node", "label")
            )
        else:
            # no edges: every node is its own cluster. Labelled in the JVM
            # -- an empty driver-side labels frame would be a parallelized
            # Python RDD, Python-worker tasks for zero rows.
            labels = all_nodes.select("node", F.col("node").alias("label"))
        return labels.select(
            F.col("node").alias("file_id"), F.col("label").alias("cluster_id")
        )
    labels = _large_small_star(e, max_iter=max_iter)
    if nodes is not None:
        all_nodes = nodes.select(F.col(nodes.columns[0]).cast("long").alias("node")).distinct()
        labels = (
            all_nodes.join(labels, "node", "left")
            .withColumn("label", F.coalesce("label", "node"))
            .select("node", "label")
        )
    return labels.select(F.col("node").alias("file_id"), F.col("label").alias("cluster_id"))


def _large_small_star(e: DataFrame, max_iter: int = 25) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    SoCC'14). Input: (src, dst) edges, any orientation. Output: (node, label)
    for every node that appears in an edge, label = min id of its component.

    Per round:
      large-star(u): with m = min(N(u) + [u]), emit (v, m) for v in N(u),
        v > u  -- strictly-larger neighbors attach to the local minimum.
      small-star(u): over the (big -> small) edges large-star produced, with
        m = min(N(u)), re-attach u and every other small neighbor to m.
    Both operations preserve connectivity and only ever lower the partner a
    node points at; the edge set converges to per-component stars rooted at
    the component minimum in O(log^2 n) rounds worst case -- diameter-
    independent, unlike label propagation (VERDICT r2 missing#2: containment
    ladders make long chains). Each round = 2 groupBy + 2 join shuffles over
    an edge set that shrinks monotonically; localCheckpoint cuts lineage.

    Convergence check: at the fixpoint a full round leaves the (count,
    hash-sum) edge checksum unchanged -- one tiny aggregate per round. No
    fixpoint within `max_iter` rounds raises RuntimeError rather than
    returning unconverged labels.
    """
    edges = e.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    # every node ever seen (roots drop out of the star edge set; singleton
    # edges contracted away must still be labeled)
    seen = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def checksum(df) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return int(row.n), int(row.h or 0)

    prev = checksum(edges)
    for _ in range(max_iter):
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star: m_u = min over N(u) and u itself (min(dst) vs src)
        lmin = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        ls = (
            sym.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star: ls edges all point big -> small, so N(u) here is the
        # small-neighbor set; attach u and all of N(u) to m = min(N(u)).
        smin = ls.groupBy("src").agg(F.min("dst").alias("m"))
        ss = (
            ls.join(smin, "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(smin.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        edges = ss
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected components: no fixpoint after max_iter={max_iter} "
            f"large/small-star rounds ({prev[0]} edges remain); raise max_iter"
        )
    # fixpoint: edges are (member, root) stars; roots label themselves
    return (
        seen.join(
            edges.select(F.col("src").alias("node"), F.col("dst").alias("label")),
            "node",
            "left",
        )
        .withColumn("label", F.coalesce("label", "node"))
        .select("node", "label")
    )


def clusters_to_pairs(clusters: DataFrame) -> DataFrame:
    """All intra-cluster pairs (id_a < id_b) -- the pairwise view recall is
    evaluated on. Cost is quadratic in cluster size by definition of the
    metric; callers should bound cluster sizes before expanding at scale."""
    a = clusters.alias("a")
    b = clusters.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.cluster_id") == F.col("b.cluster_id"),
                F.col("a.file_id") < F.col("b.file_id"),
            ],
        )
        .select(
            F.col("a.file_id").alias("id_a"),
            F.col("b.file_id").alias("id_b"),
        )
    )

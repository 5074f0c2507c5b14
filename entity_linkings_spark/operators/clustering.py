"""Transitive clustering: connected components via alternating
large-star / small-star contraction (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) as an iterative DataFrame algorithm.

The reference has no clustering — it resolves each mention independently by
argmax (/root/reference/entity_linkings/candidate_reranker/crossencoder/
crossencoder.py:159, pipeline.py:48); "reference clusters" are mentions grouped
by resolved entity id. Our match graph generalizes that, and star contraction
is the scalable way to close it transitively (north rule).

Scale properties:
  * Each round is two self-join/groupBy passes over the edge set — shuffle
    keyed by node id; converges in O(log n) rounds (components here are
    surface-form clusters: small diameter, typically 2-3 rounds).
  * Lineage is cut every round with ``localCheckpoint`` (the "checkpointed
    edge frontiers" of the north rule) — without it the iterative plan grows
    unboundedly and re-optimization dominates. The lifecycle layer can swap
    in a durable snapshot-store checkpoint per round for resumability.
  * Convergence test = count + order-insensitive hash-sum of the canonical
    edge set (one cheap aggregate, no expensive subtract()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_linkings_spark.functions.hashing import h60


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edges (u < v), deduped, no self-loops."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .where(u != v)
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's min neighborhood
    element (including u itself)."""
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    out = (
        sym.where(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return _canon(out)


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-or-equal neighborhood, connect everything
    to the minimum."""
    e = _canon(edges).select(F.col("v").alias("u"), F.col("u").alias("v"))  # u > v
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = e.join(m, "u").select("v", "m")  # each small neighbor -> min
    selfe = m.select(F.col("u").alias("v"), "m")  # u itself -> min
    return _canon(nbrs.unionByName(selfe).select(F.col("v").alias("u"), F.col("m").alias("v")))


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        # decimal(38,0) accumulator: a sum of 60-bit hashes overflows int64
        # long before web scale, and ANSI mode (Spark 4 default) would throw
        F.coalesce(
            F.sum(h60(F.concat_ws("|", "u", "v")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _local_components(rows, spark) -> DataFrame:
    """Driver-side union-find finish for a SMALL edge set (pre-collected
    ``rows``) — the standard hybrid: distributed contraction shrinks the
    graph, a local solve closes it without paying per-round Spark job
    overhead (each star round is 2+ jobs; a 200-node tail would otherwise
    cost seconds of pure scheduling). Same contract as the distributed path:
    cluster_id = min node id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for r in rows:
        ru, rv = find(r["u"]), find(r["v"])
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp: dict[str, list[str]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = [(n, min(min(ms), root)) for root, ms in comp.items() for n in ms]
    # min(ms) is the min member; the root is itself a member chain head —
    # with min-root union the root IS the component minimum, but keep the
    # explicit min for clarity
    return spark.createDataFrame(out, "node string, cluster_id string")


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    checkpoint: bool = True,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, cluster_id) for every node in ``edges`` (u,v string columns);
    cluster_id = min node id of the component (FIXTURES.md section 6).

    Hybrid execution: edge sets at or below ``local_threshold`` are closed
    with a driver-side union-find; larger graphs run the large-star/
    small-star contraction loop with per-round checkpointed frontiers until
    the edge fingerprint stabilizes — and drop to the local finish as soon
    as contraction shrinks them under the threshold. Raises if not converged
    in ``max_iterations``.

    The entry path costs exactly ONE action for empty and small graphs: a
    ``limit(local_threshold + 1).collect()`` answers "empty?", "small enough
    to solve locally?" AND (if small) delivers the complete edge set, and
    leaves nothing persisted. Only big graphs checkpoint their first
    frontier; the lazy checkpoint is materialized by the first fingerprint
    action, so the contraction loop starts from a materialized frontier."""
    spark = edges.sparkSession
    cur = _canon(edges)
    head = cur.limit(local_threshold + 1).collect()
    if not head:  # empty graph: skip the contraction loop entirely
        return spark.createDataFrame([], "node string, cluster_id string")
    if len(head) <= local_threshold:  # limit returned everything there is
        return _local_components(head, spark)
    if checkpoint:
        cur = cur.localCheckpoint(eager=False)
    prev_fp = _edge_fingerprint(cur)
    for _ in range(max_iterations):
        nxt = _small_star(_large_star(cur))
        if checkpoint:
            nxt = nxt.localCheckpoint(eager=False)
        fp = _edge_fingerprint(nxt)
        cur = nxt
        if fp == prev_fp:
            break
        prev_fp = fp
        if fp[0] <= local_threshold:
            return _local_components(cur.collect(), spark)
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iterations} rounds")

    # At the fixpoint every component is a star rooted at its minimum node,
    # so canonical (u < v) edges read (root, member). Roots map to themselves.
    members = (
        cur.select(F.col("v").alias("node"), F.col("u").alias("cluster_id"))
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    roots = (
        cur.select(F.col("u").alias("node"))
        .distinct()
        .join(members, "node", "left_anti")
        .withColumn("cluster_id", F.col("node"))
    )
    return members.unionByName(roots)


def incremental_components(labels: DataFrame, delta_edges: DataFrame,
                           **cc_kwargs) -> DataFrame:
    """Update an existing clustering with an EDGE DELTA without re-running
    contraction over the whole graph: given ``labels`` = (node, cluster_id)
    from a previous connected_components run (cluster_id = min node id, the
    operator's contract) and ``delta_edges`` = newly-arrived (u, v) edges,
    returns the labeling connected_components would produce on the UNIONED
    edge set — the oracle-checked contract (cc_incremental).

    Why it's correct: edges are only ever ADDED, so clusters only merge.
    Mapping each delta endpoint through its old label (unseen nodes label
    themselves) contracts every old cluster to its representative; connected
    components of that contracted graph tell exactly which representatives
    merge, and since every old label is the min of its members, the min over
    a merged component's representatives and fresh nodes IS the global min —
    the same label a full recompute assigns.

    Why it scales (VERDICT r4 #4, tightened per ADVICE r5): the
    contraction loop runs only on the DELTA-sized graph. The O(corpus)
    work is exactly TWO passes over the label table — the label-lookup
    equi-join for the delta endpoints (at scale the label table is
    bucketed/partitioned by node, so only the delta side shuffles) and
    the relabel join against the delta-sized relabel map (broadcast, no
    shuffle of the labels at all). Freshness is derived from the
    NULL-ness of the lookup already performed — the earlier version spent
    a third corpus-sized pass (a left_anti with the full label table on
    the unbroadcastable build side) just to find the fresh nodes.
    Re-clustering the world per streaming epoch was the one remaining
    O(corpus) contraction in the incremental path; this removes it."""
    lab = labels.select("node", "cluster_id")
    e = _canon(delta_edges)
    lu = lab.select(F.col("node").alias("u"), F.col("cluster_id").alias("lu"))
    lv = lab.select(F.col("node").alias("v"), F.col("cluster_id").alias("lv"))
    looked_up = e.join(lu, "u", "left").join(lv, "v", "left").localCheckpoint()
    contracted = looked_up.select(
        F.coalesce("lu", F.col("u")).alias("u"),
        F.coalesce("lv", F.col("v")).alias("v"),
    )
    # fresh node ids fall out of the lookup for free: an endpoint whose
    # label came back NULL was never seen before (delta-sized set)
    fresh_ids = (
        looked_up.where(F.col("lu").isNull()).select(F.col("u").alias("node"))
        .unionByName(
            looked_up.where(F.col("lv").isNull()).select(F.col("v").alias("node"))
        )
        .distinct()
    )
    # merged: (node = old label or fresh node, cluster_id = new min label),
    # computed over the delta-sized contracted graph only
    merged = connected_components(contracted, **cc_kwargs)
    relabel = merged.select(
        F.col("node").alias("cluster_id"), F.col("cluster_id").alias("new_label")
    )
    updated = (
        lab.join(F.broadcast(relabel), "cluster_id", "left")
        .select(
            "node",
            F.coalesce("new_label", F.col("cluster_id")).alias("cluster_id"),
        )
    )
    # old labels are themselves member nodes, so merged's nodes split into
    # (old representatives — already covered by `updated`) and the fresh
    # ids; a delta×delta join selects the fresh rows without touching lab
    fresh = merged.join(F.broadcast(fresh_ids), "node", "left_semi")
    return updated.unionByName(fresh.select("node", "cluster_id"))


def decremental_components(
    labels: DataFrame,
    edges: DataFrame,
    removed_edges: DataFrame,
    **cc_kwargs,
) -> DataFrame:
    """Update an existing clustering after EDGE RETRACTIONS — the delete leg
    of the clustering-maintenance matrix (incremental_components handles
    additions, cluster_repair quality splits): given ``labels`` = (node,
    cluster_id) from connected_components over ``edges``, and
    ``removed_edges`` = pairs withdrawn since (a clerical nonmatch verdict,
    a GDPR-retracted record's pairs, a feature fix invalidating old scores),
    returns the labeling a full recompute over ``edges`` minus
    ``removed_edges`` would produce, over the SAME node universe — a member
    that loses every edge stays present as its own singleton, never
    silently dropped.

    Deletions can SPLIT clusters, so there is no local merge argument like
    the incremental case — but the recompute is confined to the clusters
    that actually lost an edge: every other cluster's edge set is
    untouched, hence its labeling is untouched. Affected-cluster selection
    is one label lookup on the retracted endpoints; the re-run is
    connected components on the REMAINING intra edges of affected clusters
    only — O(affected subgraph), never a full-corpus recluster. New labels
    cannot collide with kept ones: every label is its component's min node,
    and each re-clustered component is a subset of a dropped cluster's node
    set (the same disjointness argument as cluster_repair)."""
    lab = labels.select("node", "cluster_id")
    rem = _canon(removed_edges)
    # affected clusters: any cluster owning an endpoint of a retracted edge
    # (a retracted edge whose endpoints were never clustered affects nothing)
    ends = (
        rem.select(F.col("u").alias("node"))
        .unionByName(rem.select(F.col("v").alias("node")))
        .distinct()
    )
    affected = lab.join(ends, "node", "left_semi").select("cluster_id").distinct()
    aff_nodes = lab.join(affected, "cluster_id", "left_semi").localCheckpoint()
    # remaining edges of the affected subgraph only; the anti-join key is the
    # canonical pair, so orientation/duplicates in removed_edges are harmless
    remaining = _canon(edges).join(rem, ["u", "v"], "left_anti")
    sub = (
        remaining.join(
            aff_nodes.withColumnsRenamed({"node": "u", "cluster_id": "cu"}), "u"
        )
        .join(aff_nodes.withColumnsRenamed({"node": "v", "cluster_id": "cv"}), "v")
        .where(F.col("cu") == F.col("cv"))
        .select("u", "v")
    )
    relabeled = clusters_with_singletons(
        connected_components(sub, **cc_kwargs), aff_nodes.select("node")
    )
    kept = lab.join(affected, "cluster_id", "left_anti")
    return kept.unionByName(relabeled.select("node", "cluster_id"))


def clusters_with_singletons(assignments: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """Union in singleton clusters for nodes with no match edge (NIL-like
    mentions stay their own cluster — entity_dictionary.py:51-57 semantics)."""
    singles = (
        all_nodes.join(assignments, all_nodes["node"] == assignments["node"], "left_anti")
        .select(all_nodes["node"])
        .withColumn("cluster_id", F.col("node"))
    )
    return assignments.unionByName(singles)


def cluster_repair(
    labels: DataFrame,
    edges: DataFrame,
    min_density: float,
    strong_edges: DataFrame,
) -> DataFrame:
    """The repair half of the over-merge audit (cluster_density is the
    detection half — same audit/repair split as the IVF list rebalance):
    clusters whose edge density reads below ``min_density`` are re-clustered
    over ``strong_edges`` only (the caller's stricter threshold), restricted
    to intra-cluster edges; flagged-cluster nodes that lose every strong
    edge become singletons. Unflagged clusters pass through untouched.

    New cluster ids cannot collide with kept ones: every id is the minimum
    node of its component, components are disjoint node sets, and a
    repaired component is a strict subset of a flagged (hence dropped)
    cluster. Cost: one density audit + CC on the flagged SUBGRAPH only —
    O(flagged edges), never a full-corpus recluster."""
    # no forced broadcast on flagged: its cardinality is data-dependent (a
    # badly chosen threshold can flag most clusters) — AQE broadcasts it
    # when it is actually small, which is the common case
    flagged = (
        cluster_density(labels, edges)
        .where(F.col("density") < min_density)
        .select("cluster_id")
    )
    fl_nodes = labels.join(flagged, "cluster_id").select("node", "cluster_id")
    sub = (
        strong_edges.join(
            fl_nodes.withColumnsRenamed({"node": "u", "cluster_id": "cu"}), "u"
        )
        .join(fl_nodes.withColumnsRenamed({"node": "v", "cluster_id": "cv"}), "v")
        .where(F.col("cu") == F.col("cv"))
        .select("u", "v")
    )
    sub_labels = connected_components(sub)
    repaired = (
        fl_nodes.select("node")
        .join(sub_labels, "node", "left")
        .select("node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id"))
    )
    kept = labels.join(flagged, "cluster_id", "left_anti").select(
        "node", "cluster_id"
    )
    return kept.unionByName(repaired)


def components_at_thresholds(
    edges: DataFrame,
    thresholds: list[float],
    weight_col: str = "score",
    **cc_kwargs,
) -> DataFrame:
    """Clustering at EVERY threshold of a descending sweep for the cost of
    ~one full run: (threshold, node, cluster_id) for each requested
    threshold, where the labeling at t is EXACTLY what
    ``connected_components(edges where weight >= t)`` plus singletons over
    the sweep's node universe would produce (the oracle-checked contract,
    cc_threshold_sweep). The node universe is every endpoint of an edge at
    or above min(thresholds), so a node whose only edge sits below the
    current threshold appears as its own singleton — the same
    zero-row lesson as blocking_quality / unlinkables.

    Why it scales (the Splink multi-threshold-clustering shape, re-derived
    for star contraction): thresholds are visited highest-first, and each
    step runs connected components on the CONTRACTED graph — previous
    labels become supernodes, and only the edges in the newly-admitted
    weight band [t_k, t_{k-1}) are mapped through them. Lowering a
    threshold can only ADD edges, so clusters only merge, and because
    every label is the min node id of its members, the min over merged
    supernode labels IS the min over their union's members — composition
    reproduces the full-recompute label bit-exactly. A k-threshold sweep
    therefore costs one full CC plus (k-1) band-sized contracted runs,
    instead of k full runs over ever-larger edge sets; the label table is
    the only O(nodes) state and is checkpointed per step because the next
    band consumes it twice (endpoint lookup + relabel)."""
    if not thresholds:
        raise ValueError("components_at_thresholds: need at least one threshold")
    ths = sorted(set(float(t) for t in thresholds), reverse=True)
    w = F.col(weight_col)
    base = _canon(edges.where(w >= ths[-1]).select("u", "v"))
    nodes = (
        base.select(F.col("u").alias("node"))
        .unionByName(base.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)  # read by the first step's singleton union only,
        # but pinning it keeps the sweep's node universe stable across bands
    )
    # weights survive canonicalization via re-join: _canon drops the weight
    # column, so band filters run on the raw edges and canonicalize per band
    out: DataFrame | None = None
    labels: DataFrame | None = None
    prev_t: float | None = None
    for t in ths:
        band_raw = edges.where(w >= t) if prev_t is None else edges.where(
            (w >= t) & (w < prev_t)
        )
        band = _canon(band_raw.select("u", "v"))
        if labels is None:
            labels = clusters_with_singletons(connected_components(band, **cc_kwargs), nodes)
        else:
            lu = labels.select(F.col("node").alias("u"), F.col("cluster_id").alias("su"))
            lv = labels.select(F.col("node").alias("v"), F.col("cluster_id").alias("sv"))
            contracted = (
                band.join(lu, "u").join(lv, "v")
                .select(F.col("su").alias("u"), F.col("sv").alias("v"))
                .where(F.col("u") != F.col("v"))
            )
            merged = connected_components(contracted, **cc_kwargs)
            relabel = merged.select(
                F.col("node").alias("cluster_id"),
                F.col("cluster_id").alias("new_label"),
            )
            # the contracted graph is band-sized; its relabel map is too
            labels = labels.join(F.broadcast(relabel), "cluster_id", "left").select(
                "node", F.coalesce("new_label", F.col("cluster_id")).alias("cluster_id")
            )
        labels = labels.localCheckpoint(eager=False)  # consumed by output AND the next band (lazy: the next CC/count materializes it)
        step = labels.select(F.lit(t).alias("threshold"), "node", "cluster_id")
        out = step if out is None else out.unionByName(step)
        prev_t = t
    return out


def cluster_graph_metrics(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-cluster graph-quality metrics beyond density: triangle count and
    transitivity (global clustering coefficient). A cluster can read a
    respectable density yet be a STAR — one hub record gluing strangers
    together, the canonical over-merge shape in record linkage — and a star
    has ZERO triangles, so transitivity separates hub-glued clusters from
    genuine near-clique duplicate groups in a way density alone cannot
    (density of a k-star is 2/k; its transitivity is exactly 0).

    ``labels`` is (node, cluster_id), ``edges`` the undirected unique match
    pairs. Returns (cluster_id, size, n_edges, n_triangles, n_wedges,
    transitivity) for clusters of size >= 2, where n_wedges = sum over
    member nodes of C(intra_degree, 2) (paths of length 2) and
    transitivity = 3 * n_triangles / n_wedges (0.0 when no wedges) — all
    exact-integer inputs, so an oracle restates the division bit-exactly.

    Scale shape (the degree-ordered node-iterator of Suri & Vassilvitskii,
    WWW'11): every intra-cluster edge is ORIENTED from its lower-(degree,
    node) endpoint to the higher one, wedges are generated by a self-join
    on the oriented source, and a wedge closes into a triangle iff its two
    far endpoints are themselves an edge (one equi-join against the
    canonical edge set). The orientation bounds each node's out-degree by
    O(sqrt(m)), so wedge volume is O(m^1.5) worst case regardless of hub
    skew — a plain unoriented wedge join on a web-scale hub would explode
    quadratically. Cross-cluster edges (labels from a different threshold
    than the edge set) count for neither side, matching cluster_density."""
    lab = labels.select("node", "cluster_id")
    intra = (
        _canon(edges)
        .join(lab.withColumnsRenamed({"node": "u", "cluster_id": "cu"}), "u")
        .join(lab.withColumnsRenamed({"node": "v", "cluster_id": "cv"}), "v")
        .where(F.col("cu") == F.col("cv"))
        .select("u", "v", F.col("cu").alias("cluster_id"))
        .localCheckpoint()  # degrees, orientation, closure join all read it —
        # EAGER deliberately: they run as concurrent stages of one action, and
        # a lazy checkpoint lets them race into redundant recomputation of the
        # whole upstream (measured 3.6s -> 9s when this was briefly lazy)
    )
    deg = (
        intra.select(F.col("u").alias("node"), "cluster_id")
        .unionByName(intra.select(F.col("v").alias("node"), "cluster_id"))
        .groupBy("node", "cluster_id")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        intra.join(deg.withColumnsRenamed({"node": "u", "deg": "du"}),
                   ["u", "cluster_id"])
        .join(deg.withColumnsRenamed({"node": "v", "deg": "dv"}),
              ["v", "cluster_id"])
    )
    # orient low -> high by (degree, node id); ties broken by the id so the
    # orientation is a strict total order and each edge appears exactly once
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        "cluster_id",
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    o2 = oriented.withColumnsRenamed({"dst": "dst2"})
    wedge = (
        oriented.join(o2, ["cluster_id", "src"])
        .where(F.col("dst") < F.col("dst2"))
        .select(
            "cluster_id",
            F.col("dst").alias("u"),  # dst < dst2 already canonical (u < v)
            F.col("dst2").alias("v"),
        )
    )
    tri = (
        wedge.join(intra.select("u", "v"), ["u", "v"], "left_semi")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    per_cluster = (
        deg.groupBy("cluster_id")
        # sum(d*(d-1)) is even term-by-term; integer DIV keeps the wedge
        # count exact past 2^53 (double division would not)
        .agg(F.sum(F.col("deg") * (F.col("deg") - F.lit(1))).alias("_w2"))
        .select("cluster_id", F.expr("CAST(_w2 DIV 2 AS BIGINT)").alias("n_wedges"))
    )
    dens = cluster_density(labels, edges)
    return (
        dens.join(per_cluster, "cluster_id", "left")
        .join(tri, "cluster_id", "left")
        .na.fill({"n_wedges": 0, "n_triangles": 0})
        .select(
            "cluster_id",
            "size",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(F.col("n_wedges") > 0,
                   (3 * F.col("n_triangles")).cast("double") / F.col("n_wedges"))
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
        )
    )


def cluster_density(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-cluster edge density — the over-merge audit for a resolved
    clustering: a transitive-closure cluster glued together by one hub
    node (or one spurious edge) has density far below 1.0, while a genuine
    duplicate group is near-clique. ``labels`` is (node, cluster_id),
    ``edges`` the undirected unique match pairs (u, v) the clustering was
    built from. Returns (cluster_id, size, n_edges, density) for clusters
    of size >= 2, density = 2E / (n*(n-1)) — exact-integer division, so
    an oracle can restate it bit-identically.

    Scale shape: two label-lookup joins on the edge list plus two hash
    aggregates — no pairwise expansion anywhere; cross-cluster edges (a
    labels table from a DIFFERENT threshold than the edge set) are
    counted for neither side, which is exactly what the audit wants."""
    e = (
        edges.join(
            labels.withColumnsRenamed({"node": "u", "cluster_id": "cu"}), "u"
        )
        .join(labels.withColumnsRenamed({"node": "v", "cluster_id": "cv"}), "v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("cluster_id"))
        .agg(F.count("*").alias("n_edges"))
    )
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("size"))
    return (
        sizes.where(F.col("size") >= 2)
        # left join: a size>=2 cluster with ZERO intra edges (labels from a
        # different threshold than the edge set) is the worst offender and
        # must show up as density 0, not vanish
        .join(e, "cluster_id", "left")
        .na.fill({"n_edges": 0})
        .select(
            "cluster_id",
            "size",
            "n_edges",
            (
                (2 * F.col("n_edges")).cast("double")
                / (F.col("size") * (F.col("size") - 1))
            ).alias("density"),
        )
    )


def clustering_agreement(left: DataFrame, right: DataFrame) -> DataFrame:
    """Pair-counting agreement between TWO clusterings of the same node
    universe — Rand index and Adjusted Rand (Hubert & Arabie 1985) plus the
    split/merge decomposition record-linkage audits actually act on: how
    many co-clustered pairs the right clustering separated (``splits``) and
    how many new co-clusterings it introduced (``merges``). This is the
    cross-clustering companion to :func:`~.evaluate.bcubed_table` (which
    scores one clustering against gold) — the question here is "how much
    did the clustering CHANGE", e.g. between two resolve thresholds of
    ``components_at_thresholds``, between an epoch's incremental labels and
    a fresh batch recompute, or before/after ``cluster_repair``.

    ``left`` / ``right``: (node, cluster_id). A node present on only one
    side counts as a singleton of itself on the other (the bcubed_table /
    pairwise_f1 convention), so comparing clusterings built at different
    thresholds needs no explicit universe fill.

    Returns ONE row: (n_nodes, pairs_total, pairs_both, pairs_left,
    pairs_right, splits, merges, rand_index, adjusted_rand). Every count is
    an exact BIGINT — co-membership pair counts are stated arithmetically
    as sum C(n,2) over the contingency / marginal tables, NEVER by
    materializing node pairs, and each sum(n*(n-1)) is halved with integer
    DIV (term-by-term even, and a double division would lose exactness past
    2^53 — the estimate_lambda_deterministic lesson). ``rand_index`` is a
    single division of exact integers; ``adjusted_rand`` is the standard
    expected-index correction evaluated in doubles with a fixed operation
    order (mirrored verbatim by the SQL oracle), with the sklearn
    degenerate-case convention: 1.0 when both clusterings agree on every
    pair (pairs_left == pairs_both == pairs_right), which also covers the
    0/0 all-singletons and single-cluster cases.

    Scale shape: one full-outer equi-join on node, ONE node-keyed shuffle
    into the contingency table, then every further aggregate runs over the
    contingency/marginal tables (bounded by the number of CO-OCCURRING
    label pairs, « node count). No collects, no pair materialization."""
    j = (
        left.select("node", F.col("cluster_id").alias("lc"))
        .join(
            right.select("node", F.col("cluster_id").alias("rc")),
            "node",
            "full",
        )
        .select(
            F.coalesce("lc", F.col("node")).alias("lc"),
            F.coalesce("rc", F.col("node")).alias("rc"),
        )
    )
    cells = j.groupBy("lc", "rc").agg(F.count("*").alias("n"))

    def _pairs2(df: DataFrame, col: str, out: str) -> DataFrame:
        # coalesce: a sum over ZERO rows (empty clusterings) is null, and a
        # null pair count would null-poison every downstream metric instead
        # of yielding the degenerate-perfect 1.0 row
        return (
            df.agg(
                F.coalesce(
                    F.sum(F.col(col) * (F.col(col) - F.lit(1))), F.lit(0)
                ).alias("_p2")
            )
            .select(F.expr(f"CAST(_p2 DIV 2 AS BIGINT) AS {out}"))
        )

    both = _pairs2(cells, "n", "pairs_both")
    lmarg = cells.groupBy("lc").agg(F.sum("n").alias("m"))
    rmarg = cells.groupBy("rc").agg(F.sum("n").alias("m"))
    pl = _pairs2(lmarg, "m", "pairs_left")
    pr = _pairs2(rmarg, "m", "pairs_right")
    nn = cells.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_nodes"))
    base = (
        nn.crossJoin(both).crossJoin(pl).crossJoin(pr)  # four 1-row frames
        .withColumn(
            "pairs_total",
            F.expr("CAST(n_nodes * (n_nodes - 1) DIV 2 AS BIGINT)"),
        )
    )
    a_d = F.col("pairs_both").cast("double")
    pl_d = F.col("pairs_left").cast("double")
    pr_d = F.col("pairs_right").cast("double")
    pt_d = F.col("pairs_total").cast("double")
    expected = pl_d * pr_d / pt_d
    perfect = (F.col("pairs_left") == F.col("pairs_both")) & (
        F.col("pairs_right") == F.col("pairs_both")
    )
    return base.select(
        "n_nodes",
        "pairs_total",
        "pairs_both",
        "pairs_left",
        "pairs_right",
        (F.col("pairs_left") - F.col("pairs_both")).alias("splits"),
        (F.col("pairs_right") - F.col("pairs_both")).alias("merges"),
        F.when(F.col("pairs_total") == 0, F.lit(1.0))
        .otherwise(
            F.round(
                (
                    F.col("pairs_total")
                    - F.col("pairs_left")
                    - F.col("pairs_right")
                    + 2 * F.col("pairs_both")
                ).cast("double")
                / F.col("pairs_total"),
                6,
            )
        )
        .alias("rand_index"),
        F.when(perfect, F.lit(1.0))
        .otherwise(
            F.round(
                (a_d - expected) / ((pl_d + pr_d) / F.lit(2.0) - expected), 6
            )
        )
        .alias("adjusted_rand"),
    )


def stable_cluster_ids(old: DataFrame, new: DataFrame) -> DataFrame:
    """Label continuity across clustering runs: relabel ``new``'s clusters
    so that downstream consumers (golden records, review queues, exported
    entity tables) keep seeing the SAME cluster id for the same real-world
    entity after a recompute, an epoch apply, a threshold change, or a
    repair pass. connected_components labels are min-node ids, so any
    membership change near the min node renames the whole cluster even
    when 99% of members are unchanged — this operator undoes that churn.

    Assignment rule (deterministic, two bounded reductions over the
    contingency table):

    1. Each new cluster CLAIMS the old cluster id it overlaps most
       (ties -> greatest old id under struct ordering).
    2. Each old id is AWARDED to the claimant with the largest overlap
       (ties -> greatest new id) — an old id can survive into at most ONE
       new cluster, so the output labeling stays a partition.
    3. Losing / non-claiming clusters keep their own id under a ``new:``
       prefix. The namespace is what makes non-collision STRUCTURAL: a
       losing cluster's min-node label can coincide with an old id
       awarded to a different cluster (old {b,c,d} splitting into {b} and
       {a,c,d} awards id b to the larger piece while the {b} remnant is
       also labeled b), and without the prefix those two distinct output
       clusters would silently share an id.

    Input/output: (node, cluster_id) frames; returns (node, stable_id)
    over exactly ``new``'s nodes. Scale shape: one node equi-join into a
    (new, old) contingency aggregate, then two cluster-keyed reductions
    over that bounded table and one broadcast-sized mapping join back —
    no windows over node-sized data, no collects."""
    cont = (
        new.join(old.withColumnsRenamed({"cluster_id": "_oc"}), "node")
        .groupBy(F.col("cluster_id").alias("_nc"), "_oc")
        .agg(F.count("*").alias("_n"))
    )
    claim = (
        cont.groupBy("_nc")
        .agg(F.max(F.struct(F.col("_n").alias("o"), F.col("_oc").alias("v"))).alias("_s"))
        .select("_nc", F.col("_s.v").alias("_oc"), F.col("_s.o").alias("_n"))
    )
    award = (
        claim.groupBy("_oc")
        .agg(F.max(F.struct(F.col("_n").alias("o"), F.col("_nc").alias("v"))).alias("_s"))
        .select("_oc", F.col("_s.v").alias("_win"))
    )
    mapping = (
        claim.join(award, "_oc")
        .where(F.col("_nc") == F.col("_win"))
        .select("_nc", F.col("_oc").alias("_stable"))
    )
    return (
        new.join(mapping, new["cluster_id"] == mapping["_nc"], "left")
        .select(
            "node",
            F.coalesce(
                "_stable", F.concat(F.lit("new:"), F.col("cluster_id"))
            ).alias("stable_id"),
        )
    )


def source_conflict_audit(
    labels: DataFrame,
    records: DataFrame,
    id_col: str = "node",
    source_col: str = "source",
) -> DataFrame:
    """Per-cluster audit of the multi-source clean-ER invariant: when every
    source file is internally duplicate-free, a cluster holding two records
    from the SAME source provably contains an error (JedAI's clean-clean
    setting generalized past two sources).

    ``labels`` must carry the clustering operators' output schema —
    columns ``node`` (string-castable record id) and ``cluster_id``;
    ``id_col`` / ``source_col`` rename only the ``records`` side
    (ADVICE r8: the labels schema is fixed, now documented).
    Returns one row per cluster:
    (cluster_id, n_records, n_sources, max_source_multiplicity,
    n_conflicted_sources) — conflicted == any source with multiplicity > 1.
    Records without a label self-singleton (the blocking_quality zero-row
    lesson: the unclustered record must appear, not vanish). Two hash
    aggregates over (cluster, source), never a pairwise join."""
    lab = labels.select(F.col("node").cast("string"), "cluster_id")
    rec = records.select(
        F.col(id_col).cast("string").alias("node"),
        F.col(source_col).cast("string").alias("_src"),
    )
    joined = rec.join(lab, "node", "left").select(
        F.coalesce("cluster_id", F.col("node")).alias("cluster_id"), "_src"
    )
    per_src = joined.groupBy("cluster_id", "_src").agg(
        F.count("*").alias("m")
    )
    return per_src.groupBy("cluster_id").agg(
        F.sum("m").cast("long").alias("n_records"),
        F.count("*").cast("long").alias("n_sources"),
        F.max("m").cast("long").alias("max_source_multiplicity"),
        F.sum(F.when(F.col("m") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_conflicted_sources"),
    )


def source_consistent_components(
    edges: DataFrame,
    sources: DataFrame,
    id_col: str = "node",
    source_col: str = "source",
    max_rounds: int = 30,
    checkpoint: bool = True,
) -> DataFrame:
    """Constrained agglomerative clustering for multi-source clean ER:
    connected components would happily chain records from one source into
    a cluster; here a merge is LEGAL only while the two clusters' source
    sets stay disjoint, so the invariant source_conflict_audit checks is
    enforced BY CONSTRUCTION rather than repaired after.

    Contract (deterministic): a parallel fixpoint of iterated
    locally-dominant legal merges — cluster-level edges carry the MAX
    original score between the two clusters, ordered (score DESC, lo ASC,
    hi ASC); per round, every cluster pair that is the best legal edge of
    BOTH its clusters contracts (the one_to_one_match argument lifted from
    matching to contraction; the globally best legal pair is always
    mutual, so progress is guaranteed, and round merges touch disjoint
    clusters). When the scores are TIE-FREE this equals one-at-a-time
    best-first agglomeration (pinned against a pure-Python model on
    random tie-free graphs). On score ties the result is still
    deterministic and source-disjoint, but merging relabels clusters to
    the min id, which can reorder the (score, lo, hi) tie-break relative
    to the sequential order — parallel and sequential agglomeration may
    then differ (ADVICE r8: the contract is stated for tie-free scores
    only). Labels keep the min-node contract (the canonical lower
    label wins each merge), so outputs compose with
    clusters_with_singletons / stable_cluster_ids unchanged.

    Per round: one edge relabel (two label joins) + one (lo, hi) max
    aggregate + a cluster-sized source-set disjointness join + the two
    dominant-pick aggregates + a broadcast relabel of the merge map
    (merge maps are matching-sized, never corpus-sized). Source sets
    live at CLUSTER granularity and merge by array union — no
    corpus-wide recollect per round. Rounds are bounded by
    ``max_rounds`` (cluster count at least halves along any merge chain,
    so fixpoints arrive in O(log n) rounds on real graphs; hitting the
    cap raises rather than returning a half-contracted labeling).

    ``edges``: (u, v, score). ``sources``: (id_col, source_col) — the
    record universe; every edge endpoint must appear in it (raises
    otherwise: a silently dropped endpoint would fake consistency).
    Returns (node, cluster_id) over the full record universe.
    """
    spark = edges.sparkSession
    src = sources.select(
        F.col(id_col).cast("string").alias("node"),
        F.col(source_col).cast("string").alias("_src"),
    )
    e0 = edges.select(
        F.col("u").cast("string"),
        F.col("v").cast("string"),
        F.col("score").cast("double"),
    ).where(F.col("u") != F.col("v"))
    n_missing = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
        .join(src.select("node"), "node", "left_anti")
        .count()
    )
    if n_missing:
        raise ValueError(
            f"source_consistent_components: {n_missing} edge endpoint(s) "
            "missing from the sources table"
        )
    lab = src.select("node", F.col("node").alias("cluster_id"))
    srcsets = src.select(
        F.col("node").alias("cluster_id"), F.array("_src").alias("_srcs")
    )
    if checkpoint:
        lab = lab.localCheckpoint(eager=False)
        srcsets = srcsets.localCheckpoint(eager=False)
    for _ in range(max_rounds):
        lu = lab.select(F.col("node").alias("u"), F.col("cluster_id").alias("la"))
        lv = lab.select(F.col("node").alias("v"), F.col("cluster_id").alias("lb"))
        ce = (
            e0.join(lu, "u").join(lv, "v")
            .where(F.col("la") != F.col("lb"))
            .select(
                F.least("la", "lb").alias("lo"),
                F.greatest("la", "lb").alias("hi"),
                "score",
            )
            .groupBy("lo", "hi")
            .agg(F.max("score").alias("score"))
        )
        legal = (
            ce.join(
                srcsets.select(F.col("cluster_id").alias("lo"),
                               F.col("_srcs").alias("_sl")), "lo")
            .join(
                srcsets.select(F.col("cluster_id").alias("hi"),
                               F.col("_srcs").alias("_sh")), "hi")
            .where(F.size(F.array_intersect("_sl", "_sh")) == 0)
            .select("lo", "hi", "score")
        )
        # locally dominant legal pairs: best legal edge of BOTH clusters.
        # Unlike the bipartite matching, a cluster takes BOTH orientations
        # in the canonical (lo, hi) edge table, so its best partner must be
        # aggregated over a symmetrized view — per-orientation bests would
        # let one cluster join two merges in a round (a relabel chain that
        # corrupts labels) and let a non-best edge pass as dominant.
        sym = legal.select(
            F.col("lo").alias("c"), F.col("hi").alias("p"), "score"
        ).unionByName(
            legal.select(
                F.col("hi").alias("c"), F.col("lo").alias("p"), "score"
            )
        )
        best = sym.groupBy("c").agg(
            F.min_by(F.col("p"), F.struct(-F.col("score"), F.col("p"))).alias("p")
        )
        merges = (
            legal.join(
                best.select(F.col("c").alias("lo"), F.col("p").alias("_plo")),
                "lo",
            )
            .join(
                best.select(F.col("c").alias("hi"), F.col("p").alias("_phi")),
                "hi",
            )
            .where((F.col("_plo") == F.col("hi")) & (F.col("_phi") == F.col("lo")))
            .select("lo", "hi")
        )
        if checkpoint:
            merges = merges.localCheckpoint(eager=False)
        if merges.limit(1).count() == 0:
            return lab
        remap = merges.select(
            F.col("hi").alias("cluster_id"), F.col("lo").alias("_new")
        )
        lab = lab.join(F.broadcast(remap), "cluster_id", "left").select(
            "node", F.coalesce("_new", F.col("cluster_id")).alias("cluster_id")
        )
        srcsets = (
            srcsets.join(F.broadcast(remap), "cluster_id", "left")
            .select(
                F.coalesce("_new", F.col("cluster_id")).alias("cluster_id"),
                "_srcs",
            )
            .groupBy("cluster_id")
            .agg(F.array_distinct(F.flatten(F.collect_list("_srcs"))).alias("_srcs"))
        )
        if checkpoint:
            lab = lab.localCheckpoint(eager=False)
            srcsets = srcsets.localCheckpoint(eager=False)
    raise RuntimeError(
        f"source_consistent_components: no fixpoint in {max_rounds} rounds"
    )

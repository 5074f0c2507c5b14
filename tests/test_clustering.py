"""Connected components vs a plain union-find oracle (the golden-test pattern
of SURVEY.md section 5), including the star-contraction worst case (chain)."""

import random

import pytest

from entity_linkings_spark.operators.clustering import (
    clusters_with_singletons,
    connected_components,
    incremental_components,
)


def _uf(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    touched = {x for e in edges for x in e}
    comp = {}
    for n in touched:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in comp.values() for n in ms}


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("local_threshold", [0, 100_000])  # star loop AND local finish
def test_random_graphs_match_union_find(spark, seed, local_threshold):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(150)]
    edges = [
        (a, b)
        for a, b in ((rng.choice(nodes), rng.choice(nodes)) for _ in range(120))
        if a != b
    ]
    edf = spark.createDataFrame(edges, "u string, v string")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edf, local_threshold=local_threshold).collect()
    }
    assert got == _uf(edges)


@pytest.mark.parametrize("local_threshold", [0, 100_000])
def test_chain_worst_case(spark, local_threshold):
    edges = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(60)]
    edf = spark.createDataFrame(edges, "u string, v string")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edf, local_threshold=local_threshold).collect()
    }
    assert set(got.values()) == {"c000"}
    assert len(got) == 61


def test_hybrid_handoff_mid_contraction(spark):
    """A graph large enough to start the star loop but which contracts below
    the threshold after one round must hand off to the local finish with the
    same result as a pure distributed run."""
    rng = random.Random(9)
    nodes = [f"h{i:04d}" for i in range(300)]
    edges = list({
        (min(a, b), max(a, b))
        for a, b in ((rng.choice(nodes), rng.choice(nodes)) for _ in range(400))
        if a != b
    })
    edf = spark.createDataFrame(edges, "u string, v string")
    hybrid = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edf, local_threshold=len(edges) - 1).collect()
    }
    assert hybrid == _uf(edges)


def test_empty_edges(spark):
    edf = spark.createDataFrame([], "u string, v string")
    assert connected_components(edf).count() == 0


def test_singletons_fill(spark):
    edges = spark.createDataFrame([("a", "b")], "u string, v string")
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], ["node"])
    got = {
        r["node"]: r["cluster_id"]
        for r in clusters_with_singletons(connected_components(edges), nodes).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "c"}


@pytest.mark.parametrize("seed", [3, 4])
def test_incremental_matches_full_recompute(spark, seed):
    """incremental_components(labels(old), delta) == connected_components(
    old ∪ delta) — the cc_incremental contract, over random graphs with
    cross-cluster merges, intra-cluster no-op edges, and fresh nodes."""
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(120)]
    all_edges = [
        (a, b)
        for a, b in ((rng.choice(nodes), rng.choice(nodes)) for _ in range(140))
        if a != b
    ]
    # deterministic split: ~1/3 of the edges arrive later (plus edges that
    # introduce brand-new nodes, including a fresh-only pair)
    old = [e for i, e in enumerate(all_edges) if i % 3 != 0]
    delta = [e for i, e in enumerate(all_edges) if i % 3 == 0]
    delta += [("n000", "z900"), ("z901", "z902")]
    labels = connected_components(spark.createDataFrame(old, "u string, v string"))
    got = {
        r["node"]: r["cluster_id"]
        for r in incremental_components(
            labels, spark.createDataFrame(delta, "u string, v string")
        ).collect()
    }
    assert got == _uf(old + delta)


def test_incremental_two_epochs_streaming_shape(spark):
    """VERDICT r4 #4's streaming shape: labels maintained across TWO epochs
    of edge deltas (the per-session-close micro-batches of the sessionization
    path) equal one full recompute over everything — replay-idempotent
    epoch-at-a-time maintenance, never an O(corpus) recluster."""
    epoch0 = [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")]
    epoch1 = [("b", "c"), ("i", "j"), ("e", "e2")]   # merge + fresh + grow
    epoch2 = [("d", "e"), ("a", "a"), ("h", "g")]    # chain merge + self/no-ops
    labels = connected_components(
        spark.createDataFrame(epoch0, "u string, v string")
    )
    for delta in (epoch1, epoch2):
        labels = incremental_components(
            labels, spark.createDataFrame(delta, "u string, v string")
        )
    got = {r["node"]: r["cluster_id"] for r in labels.collect()}
    assert got == _uf([e for e in epoch0 + epoch1 + epoch2 if e[0] != e[1]])


def test_incremental_empty_delta_is_identity(spark):
    base = [("a", "b"), ("c", "d")]
    labels = connected_components(spark.createDataFrame(base, "u string, v string"))
    out = incremental_components(
        labels, spark.createDataFrame([], "u string, v string")
    )
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in labels.collect()}


def test_small_graph_cc_costs_at_most_two_jobs(spark):
    """VERDICT r2 item 4 (job-count cut), pinned with a drift-free metric:
    the small-graph CC entry is ONE action — the limit-collect, which AQE
    runs as a shuffle-stage job and a result job. The previous shape
    (eager checkpoint + fingerprint + collect) cost 3 actions / 4+ jobs."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "u string, v string"
    )
    sc = spark.sparkContext
    j0 = sc._jsc.sc().dagScheduler().nextJobId()
    out = connected_components(edges)  # fast path collects during build
    j1 = sc._jsc.sc().dagScheduler().nextJobId()
    assert j1 - j0 <= 2
    assert out.count() == 5  # result itself is a local createDataFrame


def test_driver_solved_and_empty_cc_leave_nothing_persisted(spark):
    """Only the contraction path checkpoints an edge frontier: an empty graph
    and one the driver solves leave no RDD persisted."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    connected_components(spark.createDataFrame([("a", "b"), ("b", "c")], "u string, v string"))
    connected_components(spark.createDataFrame([], "u string, v string"))
    left = set(jsc.getPersistentRDDs().keySet()) - before
    assert not left, f"connected_components left RDDs {left} persisted"


def test_cluster_density_flags_hub_glued_cluster(spark):
    """cluster_density: a star (hub glues 4 leaves) reads density 0.4, a
    4-clique reads 1.0, and a size-2 pair reads 1.0 — the over-merge
    audit's discriminating signal. A size>=2 cluster with ZERO intra
    edges (labels from a different threshold than the edge set) surfaces
    as density 0 instead of vanishing; cross-cluster edges count for
    neither side."""
    from entity_linkings_spark.operators.clustering import cluster_density

    star = [("h", x) for x in ("l1", "l2", "l3", "l4")]
    clique = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    edges = spark.createDataFrame(
        star + clique + [("p", "q"), ("a", "h")], "u string, v string"
    )
    labels = connected_components(edges)
    out = {r["cluster_id"]: (r["size"], r["n_edges"], r["density"])
           for r in cluster_density(labels, edges).collect()}
    # merged star+clique+bridge: 9 nodes, 4+6+1 edges
    assert out["a"] == (9, 11, 11 * 2 / (9 * 8))
    assert out["p"] == (2, 1, 1.0)
    # separate components (no bridge): star vs clique separate cleanly
    edges2 = spark.createDataFrame(star + clique + [("p", "q")],
                                   "u string, v string")
    labels2 = connected_components(edges2)
    out2 = {r["cluster_id"]: (r["size"], r["n_edges"], round(r["density"], 6))
            for r in cluster_density(labels2, edges2).collect()}
    assert out2["h"] == (5, 4, 0.4)
    assert out2["a"] == (4, 6, 1.0)
    # zero-intra-edge cluster: label p,q,r together but give the edge set
    # only (p,q)-external edges -> density 0 row, not a dropped row
    lab3 = spark.createDataFrame(
        [("p", "P"), ("q", "P"), ("r", "P")], "node string, cluster_id string"
    )
    e3 = spark.createDataFrame([("p", "z")], "u string, v string")
    got3 = {r["cluster_id"]: (r["size"], r["n_edges"], r["density"])
            for r in cluster_density(lab3, e3).collect()}
    assert got3["P"] == (3, 0, 0.0)


def test_blocking_quality_metrics_exact(spark):
    """blocking_quality on a hand-computable corpus: 4 records, 2 entities,
    one scheme co-blocks 3 pairs (2 hits), total pairs C(4,2)=6, gold
    pairs 2 -> PC=1.0, PQ=2/3, RR=0.5; a second scheme with one block of
    2 same-entity records -> PC=0.5, PQ=1.0, RR=5/6; a third scheme whose
    blocks are ALL singletons (zero candidate pairs) must still get a row
    — PC=0, PQ=0.0, RR=1.0 — instead of vanishing from the audit
    (ADVICE r7: the worst scheme was the one that disappeared)."""
    from entity_linkings_spark.operators.evaluate import blocking_quality

    records = spark.createDataFrame(
        [("k1", "e1"), ("k2", "e1"), ("k3", "e2"), ("k4", "e2")],
        "skey string, entity_id string",
    )
    keys = spark.createDataFrame(
        # scheme A: block b1={k1,k2,k3}, b2={k3,k4} -> cand {12,13,23,34}
        [("A", "k1", "b1"), ("A", "k2", "b1"), ("A", "k3", "b1"),
         ("A", "k3", "b2"), ("A", "k4", "b2"),
         # scheme B: one block {k1,k2}
         ("B", "k1", "c1"), ("B", "k2", "c1"),
         # scheme C: four singleton blocks -> zero candidate pairs
         ("C", "k1", "d1"), ("C", "k2", "d2"),
         ("C", "k3", "d3"), ("C", "k4", "d4")],
        "scheme string, skey string, bkey string",
    )
    got = {r["scheme"]: r.asDict() for r in blocking_quality(records, keys).collect()}
    assert set(got) == {"A", "B", "C"}
    c = got["C"]
    assert (c["n_cand_pairs"], c["n_hit_pairs"]) == (0, 0)
    assert (c["pair_completeness"], c["pair_quality"], c["reduction_ratio"]) \
        == (0.0, 0.0, 1.0)
    a, b = got["A"], got["B"]
    assert (a["n_records"], a["n_gold_pairs"], a["n_cand_pairs"], a["n_hit_pairs"]) \
        == (4, 2, 4, 2)
    assert (a["pair_completeness"], a["pair_quality"], a["reduction_ratio"]) \
        == (1.0, 0.5, 2 / 6)
    assert (b["n_cand_pairs"], b["n_hit_pairs"]) == (1, 1)
    assert (b["pair_completeness"], b["pair_quality"], b["reduction_ratio"]) \
        == (0.5, 1.0, 5 / 6)


def test_cluster_repair_splits_flagged_only(spark):
    """cluster_repair: the merged star+clique+bridge cluster (density
    11*2/72 < 0.9) is flagged and re-clustered over strong edges (the
    clique only) — the clique survives as one repaired cluster, the hub
    and leaves fall out as singletons; the dense pair cluster (p, q) is
    untouched, id and all."""
    from entity_linkings_spark.operators.clustering import cluster_repair

    star = [("h", x) for x in ("l1", "l2", "l3", "l4")]
    clique = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    weak = spark.createDataFrame(
        star + clique + [("p", "q"), ("a", "h")], "u string, v string"
    )
    strong = spark.createDataFrame(clique + [("p", "q")], "u string, v string")
    labels = connected_components(weak)
    got = {r["node"]: r["cluster_id"]
           for r in cluster_repair(labels, weak, 0.9, strong).collect()}
    assert got["p"] == got["q"]                       # untouched cluster
    assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
    for n in ("h", "l1", "l2", "l3", "l4"):           # lost all strong edges
        assert got[n] == n
    assert len(got) == 11
    # nothing flagged -> pure pass-through (ids included)
    got2 = {r["node"]: r["cluster_id"]
            for r in cluster_repair(labels, weak, 0.05, strong).collect()}
    assert got2 == {r["node"]: r["cluster_id"] for r in labels.collect()}


def _repair_py(weak, strong, tau):
    """Pure-Python cluster_repair model over distinct canonical edges."""
    from collections import defaultdict

    lab = _uf(weak)
    size, intra = defaultdict(int), defaultdict(int)
    for n, c in lab.items():
        size[c] += 1
    for u, v in weak:
        if lab[u] == lab[v]:
            intra[lab[u]] += 1
    flagged = {c for c in size
               if size[c] >= 2 and 2 * intra[c] / (size[c] * (size[c] - 1)) < tau}
    fln = {n for n, c in lab.items() if c in flagged}
    sedges = [(u, v) for u, v in strong
              if u in fln and v in fln and lab[u] == lab[v]]
    slab = _uf(sedges)
    out = {n: c for n, c in lab.items() if c not in flagged}
    for n in fln:
        out[n] = slab.get(n, n)
    return out


def test_cluster_repair_matches_model_random(spark):
    """Spark cluster_repair == the pure-Python model on seeded random
    graphs: weak = distinct canonical edges, strong = a deterministic
    subset, densities land on both sides of the flag threshold."""
    import random

    from entity_linkings_spark.operators.clustering import cluster_repair

    for seed in range(5):
        rng = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(30)]
        weak = sorted({
            (min(a, b), max(a, b))
            for a, b in ((rng.choice(nodes), rng.choice(nodes))
                         for _ in range(45))
            if a != b
        })
        strong = [e for i, e in enumerate(weak) if i % 3 != 0]
        wdf = spark.createDataFrame(weak, "u string, v string")
        sdf = spark.createDataFrame(strong, "u string, v string") \
            if strong else spark.createDataFrame([], "u string, v string")
        labels = connected_components(wdf)
        got = {r["node"]: r["cluster_id"]
               for r in cluster_repair(labels, wdf, 0.75, sdf).collect()}
        assert got == _repair_py(weak, strong, 0.75), f"seed={seed}"


# ---- cluster_graph_metrics: triangles + transitivity ------------------------


def _graph_metrics_py(labels, edges):
    """Pure-Python model: per cluster, brute-force triangle count over node
    triples + wedge count sum(C(deg,2)) over INTRA-cluster edges only."""
    from itertools import combinations

    intra = sorted({
        (min(u, v), max(u, v)) for u, v in edges
        if u != v and labels.get(u) is not None and labels.get(u) == labels.get(v)
    })
    by_c: dict[str, set] = {}
    for u, v in intra:
        by_c.setdefault(labels[u], set()).add((u, v))
    sizes: dict[str, int] = {}
    for n, c in labels.items():
        sizes[c] = sizes.get(c, 0) + 1
    out = {}
    for c, es in by_c.items():
        nodes = sorted({x for e in es for x in e})
        tri = sum(
            1 for a, b, x in combinations(nodes, 3)
            if (a, b) in es and (a, x) in es and (b, x) in es
        )
        deg = {n: 0 for n in nodes}
        for u, v in es:
            deg[u] += 1
            deg[v] += 1
        wedges = sum(d * (d - 1) // 2 for d in deg.values())
        out[c] = (sizes[c], len(es), tri, wedges,
                  (3 * tri / wedges) if wedges else 0.0)
    for c, sz in sizes.items():  # size>=2 clusters with zero intra edges
        if sz >= 2 and c not in out:
            out[c] = (sz, 0, 0, 0, 0.0)
    return out


def test_graph_metrics_triangle_vs_star(spark):
    """The discriminating case density cannot see: a 4-star and a
    triangle-with-pendant both have 4 nodes, but the star has ZERO
    triangles (transitivity 0) while the braced cluster reads 3T/W =
    3/5 = 0.6 — hub-glued vs genuinely mutual."""
    from entity_linkings_spark.operators.clustering import cluster_graph_metrics

    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("1", "3"), ("3", "4"),
         ("5", "6"), ("5", "7"), ("5", "8")],
        "u string, v string",
    )
    labels = connected_components(edges)
    got = {r["cluster_id"]: (r["size"], r["n_edges"], r["n_triangles"],
                             r["n_wedges"], r["transitivity"])
           for r in cluster_graph_metrics(labels, edges).collect()}
    assert got["1"] == (4, 4, 1, 5, 0.6)
    assert got["5"] == (4, 3, 0, 3, 0.0)


def test_graph_metrics_clique_and_cross_cluster_edges(spark):
    """A k-clique reads transitivity 1.0; edges whose endpoints carry
    different labels (edge set from a different threshold than the labels)
    count for NEITHER side, matching cluster_density's contract."""
    from entity_linkings_spark.operators.clustering import cluster_graph_metrics

    clique = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    edges = spark.createDataFrame(
        clique + [("p", "q"), ("a", "p")], "u string, v string"
    )
    labels = spark.createDataFrame(
        [(n, "A") for n in "abcd"] + [("p", "P"), ("q", "P")],
        "node string, cluster_id string",
    )
    got = {r["cluster_id"]: (r["size"], r["n_edges"], r["n_triangles"],
                             r["transitivity"])
           for r in cluster_graph_metrics(labels, edges).collect()}
    assert got["A"] == (4, 6, 4, 1.0)   # C(4,3) triangles, transitivity 1
    assert got["P"] == (2, 1, 0, 0.0)   # the a-p bridge counted nowhere


def test_graph_metrics_match_brute_force_random(spark):
    """Spark degree-oriented node-iterator == brute-force triple scan on
    seeded random graphs (ties in the degree orientation included)."""
    import random

    from entity_linkings_spark.operators.clustering import cluster_graph_metrics

    for seed in range(4):
        rng = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(24)]
        edges = sorted({
            (min(a, b), max(a, b))
            for a, b in ((rng.choice(nodes), rng.choice(nodes))
                         for _ in range(60))
            if a != b
        })
        df = spark.createDataFrame(edges, "u string, v string")
        lab = {r["node"]: r["cluster_id"]
               for r in connected_components(df).collect()}
        labels = spark.createDataFrame(list(lab.items()),
                                       "node string, cluster_id string")
        got = {r["cluster_id"]: (r["size"], r["n_edges"], r["n_triangles"],
                                 r["n_wedges"], r["transitivity"])
               for r in cluster_graph_metrics(labels, df).collect()}
        assert got == _graph_metrics_py(lab, edges), f"seed={seed}"


# ---- components_at_thresholds: multi-threshold sweep -------------------------


def test_components_at_thresholds_matches_independent_runs(spark):
    """The sweep's contract: the labeling at every threshold equals an
    INDEPENDENT connected_components run over edges >= t plus singletons
    over the sweep's node universe — supernode contraction must be
    invisible in the output. Random weighted graphs, weights landing on
    both sides of every threshold."""
    import random

    from entity_linkings_spark.operators.clustering import components_at_thresholds

    ths = [0.8, 0.5, 0.3]
    for seed in range(4):
        rng = random.Random(100 + seed)
        nodes = [f"n{i:02d}" for i in range(30)]
        seen = {}
        for _ in range(50):
            a, b = rng.choice(nodes), rng.choice(nodes)
            if a != b:
                seen[(min(a, b), max(a, b))] = round(rng.random(), 3)
        edges = [(u, v, w) for (u, v), w in sorted(seen.items())]
        df = spark.createDataFrame(edges, "u string, v string, score double")
        got = components_at_thresholds(df, ths).collect()
        universe = sorted({x for u, v, w in edges if w >= min(ths)
                           for x in (u, v)})
        for t in ths:
            model = _uf([(u, v) for u, v, w in edges if w >= t])
            want = {n: model.get(n, n) for n in universe}
            have = {r["node"]: r["cluster_id"] for r in got
                    if r["threshold"] == t}
            assert have == want, f"seed={seed} t={t}"


def test_components_at_thresholds_monotone_coarsening(spark):
    """Lowering the threshold only MERGES: every cluster at a higher
    threshold maps into exactly one cluster at each lower threshold."""
    import random

    from entity_linkings_spark.operators.clustering import components_at_thresholds

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(25)]
    seen = {}
    for _ in range(40):
        a, b = rng.choice(nodes), rng.choice(nodes)
        if a != b:
            seen[(min(a, b), max(a, b))] = round(rng.random(), 3)
    df = spark.createDataFrame(
        [(u, v, w) for (u, v), w in sorted(seen.items())],
        "u string, v string, score double",
    )
    ths = [0.7, 0.4, 0.1]
    rows = components_at_thresholds(df, ths).collect()
    by_t = {t: {r["node"]: r["cluster_id"] for r in rows
                if r["threshold"] == t} for t in ths}
    for hi, lo in [(0.7, 0.4), (0.4, 0.1)]:
        mapping = {}
        for node, c_hi in by_t[hi].items():
            c_lo = by_t[lo][node]
            assert mapping.setdefault(c_hi, c_lo) == c_lo, \
                f"cluster {c_hi}@{hi} split across {lo}"


def test_components_at_thresholds_validates_input(spark):
    import pytest as _pytest

    from entity_linkings_spark.operators.clustering import components_at_thresholds

    df = spark.createDataFrame([("a", "b", 0.9)], "u string, v string, score double")
    with _pytest.raises(ValueError):
        components_at_thresholds(df, [])


# ---- decremental_components: edge retraction --------------------------------


def test_decremental_splits_chain(spark):
    """Retracting the middle edge of a chain splits the cluster in two;
    labels stay component-min node ids and nothing else moves."""
    from entity_linkings_spark.operators.clustering import decremental_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "u string, v string"
    )
    labels = connected_components(edges)
    removed = spark.createDataFrame([("c", "b")], "u string, v string")  # reversed
    got = {r["node"]: r["cluster_id"]
           for r in decremental_components(labels, edges, removed).collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", "x": "x", "y": "x"}


def test_decremental_isolated_node_becomes_singleton(spark):
    """A member that loses its ONLY edge must stay in the output as its own
    singleton — never silently dropped (the blocking_quality zero-row
    lesson applied to retraction)."""
    from entity_linkings_spark.operators.clustering import decremental_components

    edges = spark.createDataFrame([("a", "b")], "u string, v string")
    labels = connected_components(edges)
    removed = spark.createDataFrame([("a", "b")], "u string, v string")
    got = {r["node"]: r["cluster_id"]
           for r in decremental_components(labels, edges, removed).collect()}
    assert got == {"a": "a", "b": "b"}


def test_decremental_absent_edge_is_identity(spark):
    """Retracting an edge that was never in the graph (or whose endpoints
    were never clustered) changes nothing."""
    from entity_linkings_spark.operators.clustering import decremental_components

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "u string, v string")
    labels = connected_components(edges)
    removed = spark.createDataFrame([("p", "q")], "u string, v string")
    got = {r["node"]: r["cluster_id"]
           for r in decremental_components(labels, edges, removed).collect()}
    assert got == {r["node"]: r["cluster_id"] for r in labels.collect()}


def test_decremental_matches_full_recompute_random(spark):
    """The contract: decremental == full recompute over edges minus removed,
    over the original node universe — seeded random graphs, random
    retraction subsets (including retractions that split, that isolate,
    and that touch nothing)."""
    import random

    from entity_linkings_spark.operators.clustering import decremental_components

    for seed in range(4):
        rng = random.Random(200 + seed)
        nodes = [f"n{i:02d}" for i in range(28)]
        edges = sorted({
            (min(a, b), max(a, b))
            for a, b in ((rng.choice(nodes), rng.choice(nodes))
                         for _ in range(45))
            if a != b
        })
        removed = [e for e in edges if rng.random() < 0.4]
        remaining = [e for e in edges if e not in set(removed)]
        df = spark.createDataFrame(edges, "u string, v string")
        labels = connected_components(df)
        rdf = (spark.createDataFrame(removed, "u string, v string")
               if removed else spark.createDataFrame([], "u string, v string"))
        got = {r["node"]: r["cluster_id"]
               for r in decremental_components(labels, df, rdf).collect()}
        model = _uf(remaining)
        universe = {x for e in edges for x in e}
        want = {n: model.get(n, n) for n in universe}
        assert got == want, f"seed={seed}"


def _agreement_model(left, right):
    """Exact pair-counting reference: brute-force over node pairs with the
    singleton-fill convention, returning every column clustering_agreement
    emits (floats unrounded)."""
    from itertools import combinations

    universe = sorted(set(left) | set(right))
    lc = {n: left.get(n, n) for n in universe}
    rc = {n: right.get(n, n) for n in universe}
    a = bl = br = 0
    for x, y in combinations(universe, 2):
        sl, sr = lc[x] == lc[y], rc[x] == rc[y]
        a += sl and sr
        bl += sl
        br += sr
    n = len(universe)
    pt = n * (n - 1) // 2
    rand = 1.0 if pt == 0 else (pt - bl - br + 2 * a) / pt
    if bl == a and br == a:
        ari = 1.0
    else:
        exp = float(bl) * float(br) / float(pt)
        ari = (float(a) - exp) / ((float(bl) + float(br)) / 2.0 - exp)
    return {
        "n_nodes": n, "pairs_total": pt, "pairs_both": a,
        "pairs_left": bl, "pairs_right": br,
        "splits": bl - a, "merges": br - a,
        "rand_index": rand, "adjusted_rand": ari,
    }


def _run_agreement(spark, left, right):
    from entity_linkings_spark.operators.clustering import clustering_agreement

    mk = lambda d: spark.createDataFrame(  # noqa: E731
        list(d.items()), "node string, cluster_id string"
    )
    [row] = clustering_agreement(mk(left), mk(right)).collect()
    return row.asDict()


def test_agreement_identical_clusterings_is_perfect(spark):
    left = {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e"}
    got = _run_agreement(spark, left, dict(left))
    assert got["rand_index"] == 1.0
    assert got["adjusted_rand"] == 1.0
    assert got["splits"] == 0 and got["merges"] == 0
    assert got["pairs_both"] == got["pairs_left"] == got["pairs_right"] == 2


def test_agreement_singletons_vs_one_cluster(spark):
    """All-singletons vs one-big-cluster: chance-level — ARI exactly 0,
    Rand exactly 0 (every pair disagrees), merges = every pair."""
    nodes = [f"n{i}" for i in range(6)]
    left = {n: n for n in nodes}
    right = {n: "c" for n in nodes}
    got = _run_agreement(spark, left, right)
    assert got["adjusted_rand"] == 0.0
    assert got["rand_index"] == 0.0
    assert got["splits"] == 0 and got["merges"] == 15


def test_agreement_degenerate_both_singletons(spark):
    """The 0/0 corner: both sides all singletons agree on every pair —
    the sklearn convention says 1.0, not NaN."""
    left = {"a": "a", "b": "b"}
    got = _run_agreement(spark, left, dict(left))
    assert got["adjusted_rand"] == 1.0
    assert got["rand_index"] == 1.0


def test_agreement_singleton_fill_for_missing_nodes(spark):
    """A node absent from one side counts as its own singleton there:
    {a,b} co-clustered on the left, b unknown to the right -> that pair is
    a split, never a silent drop."""
    got = _run_agreement(spark, {"a": "g", "b": "g"}, {"a": "a"})
    assert got["n_nodes"] == 2
    assert got["pairs_left"] == 1 and got["pairs_right"] == 0
    assert got["splits"] == 1 and got["merges"] == 0


def test_agreement_matches_brute_force_random(spark):
    """Seeded random label maps (uneven cluster sizes, partial node
    overlap) vs the exact pair-enumeration model — counts integer-exact,
    floats to the operator's 6dp rounding."""
    import random

    for seed in range(4):
        rng = random.Random(300 + seed)
        nodes = [f"n{i:02d}" for i in range(40)]
        left = {n: f"L{rng.randrange(6)}" for n in nodes if rng.random() < 0.9}
        right = {n: f"R{rng.randrange(9)}" for n in nodes if rng.random() < 0.9}
        got = _run_agreement(spark, left, right)
        want = _agreement_model(left, right)
        for k in ("n_nodes", "pairs_total", "pairs_both", "pairs_left",
                  "pairs_right", "splits", "merges"):
            assert got[k] == want[k], f"seed={seed} {k}"
        assert got["rand_index"] == pytest.approx(want["rand_index"], abs=5e-7)
        assert got["adjusted_rand"] == pytest.approx(
            want["adjusted_rand"], abs=5e-7
        ), f"seed={seed}"


def _run_stable(spark, old, new):
    from entity_linkings_spark.operators.clustering import stable_cluster_ids

    mk = lambda d: spark.createDataFrame(  # noqa: E731
        list(d.items()), "node string, cluster_id string"
    )
    return {r["node"]: r["stable_id"]
            for r in stable_cluster_ids(mk(old), mk(new)).collect()}


def _stable_model(old, new):
    """Pure-python restatement of the claim/award/namespace rule."""
    cont = {}
    for n, nc in new.items():
        if n in old:
            key = (nc, old[n])
            cont[key] = cont.get(key, 0) + 1
    claim = {}
    for (nc, oc), n in cont.items():
        cur = claim.get(nc)
        if cur is None or (n, oc) > cur:
            claim[nc] = (n, oc)
    award = {}
    for nc, (n, oc) in claim.items():
        cur = award.get(oc)
        if cur is None or (n, nc) > cur:
            award[oc] = (n, nc)
    out = {}
    for node, nc in new.items():
        if nc in claim and award[claim[nc][1]][1] == nc:
            out[node] = claim[nc][1]
        else:
            out[node] = "new:" + nc
    return out


def test_stable_ids_identity_on_unchanged_clustering(spark):
    old = {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e"}
    got = _run_stable(spark, old, dict(old))
    assert got == old  # every cluster is awarded its own id, no namespace


def test_stable_ids_merge_takes_bigger_overlap(spark):
    old = {"a": "a", "b": "a", "c": "c", "d": "c", "e": "c"}
    new = {n: "a" for n in old}  # the two old clusters merged
    got = _run_stable(spark, old, new)
    assert set(got.values()) == {"c"}  # 3-member old cluster outweighs 2


def test_stable_ids_split_keeps_id_on_larger_piece(spark):
    old = {"a": "a", "b": "a", "c": "a", "d": "a"}
    new = {"a": "a", "b": "a", "c": "a", "d": "d"}  # d split off
    got = _run_stable(spark, old, new)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["d"] == "new:d"  # the remnant must NOT also read 'a'


def test_stable_ids_namespace_prevents_label_collision(spark):
    """Old {b,c,d} splits into {b} and {a,c,d}: the larger piece wins old
    id 'b', and the {b} remnant's own min-node label is ALSO 'b' — the
    namespace is what keeps the two output clusters distinct."""
    old = {"b": "b", "c": "b", "d": "b"}
    new = {"b": "b", "a": "a", "c": "a", "d": "a"}
    got = _run_stable(spark, old, new)
    assert got["a"] == got["c"] == got["d"] == "b"
    assert got["b"] == "new:b"
    # distinct new clusters -> distinct stable ids
    assert len({got["a"], got["b"]}) == 2


def test_stable_ids_all_new_nodes_get_namespaced_own_id(spark):
    got = _run_stable(spark, {"x": "x"}, {"p": "p", "q": "p"})
    assert got == {"p": "new:p", "q": "new:p"}


def test_stable_ids_match_model_random(spark):
    import random

    for seed in range(4):
        rng = random.Random(500 + seed)
        nodes = [f"n{i:02d}" for i in range(36)]
        old = {n: f"o{rng.randrange(7)}" for n in nodes if rng.random() < 0.8}
        new = {n: f"c{rng.randrange(5)}" for n in nodes if rng.random() < 0.9}
        got = _run_stable(spark, old, new)
        want = _stable_model(old, new)
        assert got == want, f"seed={seed}"
        # partition sanity: same new cluster -> same stable id; distinct
        # new clusters -> distinct stable ids
        by_nc = {}
        for n, nc in new.items():
            by_nc.setdefault(nc, set()).add(got[n])
        assert all(len(v) == 1 for v in by_nc.values())
        ids = [next(iter(v)) for v in by_nc.values()]
        assert len(ids) == len(set(ids)), f"seed={seed}: id collision"


def test_stable_ids_compose_with_incremental_epoch(spark):
    """The operational story the operator exists for: a streaming epoch
    delivers new edges, incremental_components folds them in (min-node
    labels, so a merge RENAMES the surviving cluster whenever the absorbed
    side holds the smaller min node), and stable_cluster_ids restores
    continuity — every cluster untouched by the delta keeps its exact old
    id, and a merged cluster inherits the old id of its larger
    constituent."""
    from entity_linkings_spark.operators.clustering import stable_cluster_ids

    base = [("m1", "m2"), ("m2", "m3"),       # cluster m1 (3 members)
            ("a1", "a2"),                      # cluster a1 (2 members)
            ("z8", "z9")]                      # cluster z8 (untouched)
    df = spark.createDataFrame(base, "u string, v string")
    old = connected_components(df).localCheckpoint()
    # epoch delta: a0 joins the a-cluster (renames it a0), and a bridge
    # merges the a-cluster into the m-cluster (min node a0 takes over)
    delta = spark.createDataFrame(
        [("a0", "a1"), ("a2", "m1")], "u string, v string"
    )
    new = incremental_components(old, delta)
    got = {r["node"]: r["stable_id"]
           for r in stable_cluster_ids(old, new).collect()}
    # min-node labeling renamed the merged cluster to a0 in `new`...
    assert {r["node"]: r["cluster_id"] for r in new.collect()}["m3"] == "a0"
    # ...but the stable relabel hands back the LARGER constituent's old id
    for n in ("m1", "m2", "m3", "a1", "a2", "a0"):
        assert got[n] == "m1", n
    # the untouched cluster keeps its id verbatim
    assert got["z8"] == got["z9"] == "z8"


def test_agreement_empty_inputs_degenerate_perfect(spark):
    """Two empty clusterings agree on every (zero) pair: the row must be
    the exact-integer zeros + 1.0/1.0, never null-poisoned by the empty
    aggregates."""
    from entity_linkings_spark.operators.clustering import clustering_agreement

    empty = spark.createDataFrame([], "node string, cluster_id string")
    [row] = clustering_agreement(empty, empty).collect()
    d = row.asDict()
    assert d == {
        "n_nodes": 0, "pairs_total": 0, "pairs_both": 0,
        "pairs_left": 0, "pairs_right": 0, "splits": 0, "merges": 0,
        "rand_index": 1.0, "adjusted_rand": 1.0,
    }


# ---------------------------------------------------------------------------
# source-consistent clustering (multi-source clean ER)
# ---------------------------------------------------------------------------

def _scc(spark, edges, sources, **kw):
    from entity_linkings_spark.operators.clustering import (
        source_consistent_components,
    )

    e = spark.createDataFrame(edges, "u string, v string, score double")
    s = spark.createDataFrame(sources, "node string, source string")
    rows = source_consistent_components(e, s, **kw).collect()
    out = {}
    for r in rows:
        out.setdefault(r["cluster_id"], set()).add(r["node"])
    return {frozenset(v) for v in out.values()}


def _scc_model(edges, sources):
    """One-at-a-time agglomeration: repeatedly merge the best legal cluster
    pair, cluster edges = max original score, order (score desc, lo, hi),
    legal = source sets disjoint."""
    src = dict(sources)
    label = {n: n for n, _ in sources}

    def cluster_nodes():
        cl = {}
        for n, c in label.items():
            cl.setdefault(c, set()).add(n)
        return cl

    while True:
        cl = cluster_nodes()
        ce = {}
        for u, v, s in edges:
            a, b = label[u], label[v]
            if a == b:
                continue
            lo, hi = min(a, b), max(a, b)
            ce[(lo, hi)] = max(ce.get((lo, hi), s), s)
        legal = [
            (lo, hi, s) for (lo, hi), s in ce.items()
            if not ({src[n] for n in cl[lo]} & {src[n] for n in cl[hi]})
        ]
        if not legal:
            return {frozenset(v) for v in cl.values()}
        lo, hi, _ = min(legal, key=lambda t: (-t[2], t[0], t[1]))
        for n in cl[hi]:
            label[n] = lo


def test_scc_blocks_same_source_merge(spark):
    # a-b legal; c shares a source with a, so {a,b}-c stays split even
    # though the edge score is high
    edges = [("a", "b", 0.9), ("b", "c", 0.95), ("a", "c", 0.2)]
    sources = [("a", "s1"), ("b", "s2"), ("c", "s1")]
    # b-c is the best edge and legal FIRST (b:s2, c:s1) — so greedy merges
    # b-c, then a (s1) conflicts with {b,c} -> a stays singleton
    got = _scc(spark, edges, sources)
    assert got == {frozenset({"b", "c"}), frozenset({"a"})}


def test_scc_equals_unconstrained_cc_when_sources_unique(spark):
    edges = [("a", "b", 0.5), ("b", "c", 0.4), ("d", "e", 0.9)]
    sources = [(n, f"s_{n}") for n in "abcdef"]
    got = _scc(spark, edges, sources)
    assert got == {frozenset("abc"), frozenset("de"), frozenset("f")}


def test_scc_min_label_contract_and_singletons(spark):
    edges = [("n3", "n1", 0.7)]
    sources = [("n1", "x"), ("n3", "y"), ("n9", "z")]
    from entity_linkings_spark.operators.clustering import (
        source_consistent_components,
    )

    e = spark.createDataFrame(edges, "u string, v string, score double")
    s = spark.createDataFrame(sources, "node string, source string")
    got = {r["node"]: r["cluster_id"]
           for r in source_consistent_components(e, s).collect()}
    assert got == {"n1": "n1", "n3": "n1", "n9": "n9"}


def test_scc_missing_endpoint_raises(spark):
    import pytest as _pytest

    from entity_linkings_spark.operators.clustering import (
        source_consistent_components,
    )

    e = spark.createDataFrame([("a", "zz", 0.5)], "u string, v string, score double")
    s = spark.createDataFrame([("a", "s1")], "node string, source string")
    with _pytest.raises(ValueError, match="missing from the sources"):
        source_consistent_components(e, s)


def test_scc_parity_with_sequential_agglomeration(spark):
    import random

    rng = random.Random(59)
    for trial in range(3):
        n = rng.randint(8, 14)
        nodes = [f"n{i:02d}" for i in range(n)]
        sources = [(x, f"s{rng.randint(0, 3)}") for x in nodes]
        # tie-free scores (ADVICE r8): the parallel-equals-sequential
        # contract is stated for tie-free scores only — on ties the merge
        # relabeling can reorder the (score, lo, hi) tie-break, so random
        # tie-heavy scores made this parity flaky by construction
        n_edges = rng.randint(8, 20)
        distinct_scores = rng.sample(range(1, 100_000), n_edges)
        edges = []
        for sc in distinct_scores:
            u, v = rng.sample(nodes, 2)
            edges.append((u, v, sc / 100_000.0))
        got = _scc(spark, edges, sources, max_rounds=40)
        want = _scc_model(edges, sources)
        assert got == want, f"trial {trial}"
        # invariant: no cluster ever holds two records of one source
        src = dict(sources)
        for cl in got:
            srcs = [src[x] for x in cl]
            assert len(srcs) == len(set(srcs))


def test_source_conflict_audit_counts(spark):
    from entity_linkings_spark.operators.clustering import source_conflict_audit

    labels = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c2")],
        "node string, cluster_id string",
    )
    records = spark.createDataFrame(
        [("a", "s1"), ("b", "s1"), ("c", "s2"), ("d", "s1"), ("e", "s9")],
        "node string, source string",
    )
    got = {r["cluster_id"]: r.asDict()
           for r in source_conflict_audit(labels, records).collect()}
    assert got["c1"]["n_records"] == 3 and got["c1"]["n_sources"] == 2
    assert got["c1"]["max_source_multiplicity"] == 2
    assert got["c1"]["n_conflicted_sources"] == 1
    assert got["c2"]["max_source_multiplicity"] == 1
    assert got["e"]["n_records"] == 1  # unlabeled record self-singletons

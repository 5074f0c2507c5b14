"""End-to-end golden test (SURVEY.md section 5): full pipeline on the tiny
synthetic table -> pairwise F1 on labeled same-block pairs must be perfect at
this scale; per-turn text equality invariant; reference parity floor
(metrics in [0,1], stable ordering)."""

import pyspark.sql.functions as F
import pytest

from entity_linkings_spark.operators.evaluate import (
    gold_surface_pairs,
    inkb_micro_f1,
    pairwise_f1,
    top1_accuracy,
)
from entity_linkings_spark.plans.pipeline import LinkagePipeline


@pytest.fixture(scope="module")
def run(tiny):
    pipe = LinkagePipeline(tiny["dictionary"])
    out = pipe.run(tiny["transcripts"])
    out["resolved_mentions"] = out["resolved_mentions"].cache()
    out["clusters"] = out["clusters"].cache()
    return out


def test_pairwise_f1_gate(run, tiny):
    lp = gold_surface_pairs(tiny["gold"], tiny["transcripts"])
    row = pairwise_f1(run["clusters"], lp).collect()[0]
    assert row["f1"] >= 0.99  # BASELINE.json acceptance metric
    assert 0.0 <= row["precision"] <= 1.0 and 0.0 <= row["recall"] <= 1.0


def test_concurrent_branches_carry_job_groups(run, spark):
    """run() populates scored and resolved from pool threads; each thread
    sets its branch's job group itself, so both groups hold jobs."""
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup("scored")
    assert tracker.getJobIdsForGroup("resolved")


def test_run_and_run_linkage_agree_and_resume(run, spark, tiny, tmp_path):
    """run() and run_linkage walk one stage graph, so their resolved mentions
    hold the same rows. Deleting a committed stage's manifest rebuilds that
    stage and every stage downstream of it; the others resume, and the
    output does not change."""
    import os

    from entity_linkings_spark.plans.lifecycle import run_linkage

    def rows(df):
        return sorted(map(repr, df.collect()))

    want = rows(run["resolved_mentions"])
    assert len(want) == 286
    root = str(tmp_path / "store")
    first = run_linkage(spark, tiny["transcripts"], tiny["dictionary"], root, "tiny")
    assert rows(first["resolved_mentions"].df) == want

    store = first["runner"].store
    os.remove(store._manifest("clusters", first["clusters"].snapshot_id))
    again = run_linkage(spark, tiny["transcripts"], tiny["dictionary"], root, "tiny")
    stages = [k for k in first if k != "runner"]
    assert [k for k in again if k != "runner"] == stages
    assert {k for k in stages if not again[k].resumed} == {"clusters", "resolved_mentions"}
    assert all(again[k].snapshot_id == first[k].snapshot_id for k in stages)
    assert rows(again["resolved_mentions"].df) == want
    # a rebuild replaces its snapshot's lineage rows instead of adding a set
    lineage = again["runner"].metrics().groupBy("stage", "snapshot_id").agg(
        F.sum("rows_out").alias("rows"),
        (F.count("*") - F.countDistinct("partition_id")).alias("dup_partitions"),
    )
    got = {r["stage"]: (r["snapshot_id"], r["rows"], r["dup_partitions"])
           for r in lineage.collect()}
    assert {k: got[k] for k in stages} == {
        k: (first[k].snapshot_id, first[k].rows, 0) for k in stages
    }


def _table_digest():
    """perfbench's order-insensitive digest, imported from its script."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "perfbench" / "run.py"
    spec = importlib.util.spec_from_file_location("perfbench_run", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_digest


def test_resolved_mentions_digest_is_pinned(run):
    """Planted-gold F1 is 1.000 on tiny whatever the scores, so pin the rows
    themselves: a change to a score or a cluster id changes this digest."""
    assert _table_digest()(run["resolved_mentions"]) == "286:152745747990701156345"


def test_per_turn_text_invariant(run, tiny, tiny_paths, spark):
    """BASELINE input_hint: per-turn text equality under stable
    (conv_id, turn_idx) ordering — the pipeline never mutates its source."""
    before = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in tiny["transcripts"].orderBy("conv_id", "turn_idx").collect()
    ]
    # force the full pipeline, then re-read the source
    run["resolved_mentions"].count()
    after_df = spark.read.parquet(tiny_paths["transcripts"])
    after = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in after_df.orderBy("conv_id", "turn_idx").collect()
    ]
    assert before == after
    # (conv_id, turn_idx) unique -> the ordering is total and stable
    assert len({(c, t) for c, t, _ in before}) == len(before)


def test_top1_accuracy_and_inkb(run, tiny):
    acc = top1_accuracy(run["resolved_mentions"], tiny["gold"]).collect()[0][0]
    assert 0.0 <= acc <= 1.0 and acc >= 0.99
    preds = run["resolved_mentions"].select(
        "conv_id", "turn_idx", "start", "end", F.array("entity_id").alias("labels")
    )
    row = inkb_micro_f1(preds, tiny["gold"]).collect()[0]
    assert 0.0 <= row["f1"] <= 1.0 and row["f1"] >= 0.99


def test_inkb_duplicate_span_keys_do_not_inflate(spark):
    """ADVICE r2+r3: duplicate span keys count once per UNIQUE key — the
    reference's calculate_inkb_f1 collapses spans into a dict keyed by
    (start, end) before counting, so neither the full-outer join nor row
    multiplicity may inflate any counter."""
    schema = "conv_id string, turn_idx int, start int, end int"
    preds = spark.createDataFrame(
        [("c", 0, 1, 5, ["e1"]), ("c", 0, 1, 5, ["e1"]), ("c", 1, 2, 6, ["e9"])],
        schema + ", labels array<string>",
    )
    golds = spark.createDataFrame(
        [("c", 0, 1, 5, ["e1"]), ("c", 0, 1, 5, ["e2"]), ("c", 2, 0, 3, ["e3"])],
        schema + ", label array<string>",
    )
    row = inkb_micro_f1(preds, golds).collect()[0]
    assert row["n_pred"] == 2  # 2 unique pred keys (dict-dedup), NOT 3 rows
    assert row["n_gold"] == 2
    assert row["n_hit"] == 1  # the (1,5) key hits the e1/e2 gold union once
    # metrics stay in [0,1] even with asymmetric duplication (3 dup preds on
    # 1 gold: P=1, R=1, F1=1 — never recall 3.0)
    p2 = spark.createDataFrame(
        [("c", 0, 1, 5, ["e1"])] * 3, "conv_id string, turn_idx int, start int, end int, labels array<string>"
    )
    g2 = spark.createDataFrame(
        [("c", 0, 1, 5, ["e1"])], "conv_id string, turn_idx int, start int, end int, label array<string>"
    )
    r2 = inkb_micro_f1(p2, g2).collect()[0]
    assert r2["precision"] == 1.0 and r2["recall"] == 1.0 and r2["f1"] == 1.0


def test_output_ordering_stable(run):
    rows = run["resolved_mentions"].collect()
    keys = [(r["conv_id"], r["turn_idx"], r["start"]) for r in rows]
    assert keys == sorted(keys)  # T6 stable output ordering


def test_nil_fallback_for_unknown_surfaces(run):
    # every resolved mention has an entity id; unknown ones got NIL "-1"
    assert run["resolved_mentions"].where(F.col("entity_id").isNull()).count() == 0


def test_resolve_with_reused_keys_identical(spark, tiny):
    """resolve(surfaces, keys) with precomputed stage-3 keys must equal
    resolve(surfaces) recomputing them (key derivation is per-row and
    deterministic, so blocking semantics cannot depend on reuse)."""
    from entity_linkings_spark.plans.pipeline import LinkagePipeline

    pipe = LinkagePipeline(tiny["dictionary"])
    mentions = pipe.mentions(tiny["transcripts"])
    surfaces = pipe.surfaces(mentions).cache()
    keys = pipe.surface_keys(surfaces)
    a = sorted(map(tuple, pipe.resolve(surfaces).collect()))
    b = sorted(map(tuple, pipe.resolve(surfaces, keys).collect()))
    assert a == b


def test_blocking_audit_shapes_and_dominance(spark, tiny):
    """blocking_audit over the pipeline's own keys: one row per key family
    (tok, lsh) plus union; the union scheme's completeness dominates each
    family's and its candidate count is at least each family's; ratios
    stay in [0, 1] and gold-pair counts are shared across schemes."""
    pipe = LinkagePipeline(tiny["dictionary"], alias_counts=tiny["alias_counts"])
    mentions = pipe.mentions(tiny["transcripts"])
    surfaces = pipe.surfaces(mentions).cache()
    keys = pipe.surface_keys(surfaces)
    rows = {r["scheme"]: r.asDict()
            for r in pipe.blocking_audit(surfaces, keys).collect()}
    assert set(rows) == {"tok", "lsh", "union"}
    golds = {r["n_gold_pairs"] for r in rows.values()}
    assert len(golds) == 1  # label-derived constant, scheme-independent
    for r in rows.values():
        assert 0.0 <= r["pair_completeness"] <= 1.0
        assert 0.0 <= r["pair_quality"] <= 1.0
        assert 0.0 <= r["reduction_ratio"] <= 1.0
    u = rows["union"]
    for fam in ("tok", "lsh"):
        assert u["pair_completeness"] >= rows[fam]["pair_completeness"]
        assert u["n_cand_pairs"] >= rows[fam]["n_cand_pairs"]
    # the pipeline's blocking must actually co-block most silver-labeled
    # same-entity surface pairs on this corpus
    assert u["pair_completeness"] >= 0.8


def test_bcubed_table_hand_computed(spark):
    """B-cubed cells on the textbook example: clusters {a,b,c} (a,b gold X;
    c gold Y) and {d} (gold Y). Precision mass per cell = overlap^2 /
    cluster_size, recall mass = overlap^2 / class_size; global B3
    P = (4/3 + 1/3 + 1)/4 = 2/3, R = (4/2 + 1/2 + 1/2)/4 = 3/4 when the
    consumer sums the masses. A node missing from assignments counts as
    its own singleton cluster."""
    from entity_linkings_spark.operators.evaluate import bcubed_table

    assignments = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1")], "node string, cluster_id string"
    )  # d missing -> singleton
    golds = spark.createDataFrame(
        [("a", "X"), ("b", "X"), ("c", "Y"), ("d", "Y")],
        "node string, entity_id string",
    )
    rows = {(r["cluster_id"], r["entity_id"]): r.asDict()
            for r in bcubed_table(assignments, golds).collect()}
    assert rows[("c1", "X")]["overlap"] == 2
    assert rows[("c1", "X")]["cluster_size"] == 3
    assert rows[("c1", "X")]["class_size"] == 2
    assert rows[("c1", "X")]["precision_mass"] == 4 / 3
    assert rows[("c1", "X")]["recall_mass"] == 4 / 2
    assert rows[("c1", "Y")]["precision_mass"] == 1 / 3
    assert rows[("d", "Y")]["cluster_size"] == 1  # singleton fill
    n = 4
    p = sum(r["precision_mass"] for r in rows.values()) / n
    rcl = sum(r["recall_mass"] for r in rows.values()) / n
    assert abs(p - 2 / 3) < 1e-12 and abs(rcl - 3 / 4) < 1e-12
    # perfect clustering -> every mass sums to N on both sides
    perfect = spark.createDataFrame(
        [("a", "X"), ("b", "X"), ("c", "Y"), ("d", "Y")],
        "node string, cluster_id string",
    )
    tot = bcubed_table(perfect, golds).collect()
    assert sum(r["precision_mass"] for r in tot) == n
    assert sum(r["recall_mass"] for r in tot) == n


def test_cluster_repair_recovers_precision_on_real_scored_pairs(spark, tiny):
    """Audit -> repair on the REAL scorer's output in the similarity-only
    regime (the over-merge-prone path per the module docstring; the
    engine's shipping path is resolution-first): a sloppy 0.70 edge
    threshold chains confusable surfaces, the density audit flags the
    chained clusters, and repairing over strong (>= 0.90) edges
    (a) only ever SPLITS — predicted-match pairs after repair are a
    subset of before, (b) raises pairwise precision on the labeled gate
    pairs by a wide margin. Recall drops correspondingly — repair is a
    precision instrument; the F1-optimal operating point remains
    resolution-first clustering (pairwise F1 = 1.0, test_pipeline)."""
    from entity_linkings_spark.operators.clustering import (
        cluster_density,
        cluster_repair,
        clusters_with_singletons,
        connected_components,
    )
    from entity_linkings_spark.operators.evaluate import (
        gold_surface_pairs,
        pairwise_f1,
    )

    lp = gold_surface_pairs(tiny["gold"], tiny["transcripts"]).localCheckpoint()
    pipe = LinkagePipeline(tiny["dictionary"])
    mentions = pipe.mentions(tiny["transcripts"]).cache()
    surfaces = pipe.surfaces(mentions).cache()
    scored = pipe.scored_pairs(
        pipe.pairs(surfaces, pipe.surface_keys(surfaces)), surfaces
    ).localCheckpoint()
    nodes = surfaces.select(F.col("skey").alias("node"))
    weak = scored.where(F.col("combined") >= 0.70).select(
        F.col("skey_a").alias("u"), F.col("skey_b").alias("v")
    ).localCheckpoint()
    labels = connected_components(weak)
    assert cluster_density(labels, weak).where("density < 0.99").count() > 0
    strong = scored.where(F.col("combined") >= 0.90).select(
        F.col("skey_a").alias("u"), F.col("skey_b").alias("v")
    )
    repaired = cluster_repair(labels, weak, 0.99, strong)

    def stats(assign):
        return pairwise_f1(clusters_with_singletons(assign, nodes), lp).collect()[0]

    def matched_pairs(assign):
        full = clusters_with_singletons(assign, nodes)
        side = lambda s: full.select(  # noqa: E731
            F.col("node").alias(f"skey_{s}"), F.col("cluster_id").alias(f"c_{s}")
        )
        j = lp.join(side("a"), "skey_a").join(side("b"), "skey_b")
        return {(r["skey_a"], r["skey_b"])
                for r in j.where(F.col("c_a") == F.col("c_b")).collect()}

    before, after = stats(labels), stats(repaired)
    assert after["precision"] > before["precision"] + 0.2  # 0.50 -> 0.90 here
    assert matched_pairs(repaired) <= matched_pairs(labels)  # split-only


def test_bcubed_on_resolution_first_clusters(spark, tiny):
    """B-cubed masses on the SHIPPING path: the resolution-first clustering
    that scores pairwise F1 = 1.0 should also be (near-)perfect under
    B-cubed over the gold surface classes — both global masses sum to ~N.
    Gold classes come from unambiguous planted surfaces (the same
    derivation gold_surface_pairs uses)."""
    from entity_linkings_spark.functions.strings import mention_substring, norm_exact
    from entity_linkings_spark.operators.evaluate import bcubed_table

    pipe = LinkagePipeline(tiny["dictionary"], alias_counts=tiny["alias_counts"])
    out = pipe.run(tiny["transcripts"])
    golds = (
        tiny["gold"].join(
            tiny["transcripts"].select("conv_id", "turn_idx", "text"),
            ["conv_id", "turn_idx"],
        )
        .select(
            norm_exact(mention_substring("text", "start", "end")).alias("surface"),
            F.element_at("label", 1).alias("entity_id"),
        )
        .groupBy("surface")
        .agg(F.collect_set("entity_id").alias("ents"))
        .where(F.size("ents") == 1)
        .select(
            F.md5("surface").alias("node"),
            F.element_at("ents", 1).alias("entity_id"),
        )
    )
    assignments = out["clusters"].select("node", "cluster_id")
    cells = bcubed_table(assignments, golds).collect()
    n = golds.count()
    p = sum(r["precision_mass"] for r in cells) / n
    r_ = sum(r["recall_mass"] for r in cells) / n
    assert p >= 0.99 and r_ >= 0.99, (p, r_)


def test_unlinkables_table_exact_and_counts_no_pair_records(spark):
    """unlinkables_table == a pure-Python model on a hand corpus; a
    record with NO candidate pairs counts as unlinkable at EVERY
    threshold and is reported in n_no_pairs (the audit's worst case must
    not vanish from the audit)."""
    from entity_linkings_spark.operators.evaluate import unlinkables_table

    records = spark.createDataFrame(
        [("r1",), ("r2",), ("r3",), ("r4",)], "skey string"
    )
    scored = spark.createDataFrame(
        [
            ("r1", "r2", 0.95),
            ("r1", "r3", 0.40),
            ("r2", "r3", 0.70),
        ],
        "skey_a string, skey_b string, combined double",
    )  # best: r1=0.95 r2=0.95 r3=0.70; r4 has no pairs
    ths = [0.5, 0.8, 0.99]
    got = {
        r["threshold"]: (r["n_unlinkable"], r["prop_unlinkable"], r["n_no_pairs"])
        for r in unlinkables_table(records, scored, ths).collect()
    }
    best = {"r1": 0.95, "r2": 0.95, "r3": 0.70, "r4": None}
    for t in ths:
        n = sum(1 for b in best.values() if b is None or b < t)
        assert got[t] == (n, n / 4, 1), (t, got[t])
    assert got[0.5] == (1, 0.25, 1)    # only r4
    assert got[0.8] == (2, 0.5, 1)     # r3 + r4
    assert got[0.99] == (4, 1.0, 1)    # everyone
    # monotone: raising the threshold never links more records
    ordered = [got[t][0] for t in sorted(ths)]
    assert ordered == sorted(ordered)


def test_unlinkables_on_real_scored_pairs(spark, tiny):
    """On the real pipeline's scored pairs: the proportion is monotone in
    the threshold, surfaces with no candidates are counted, and at the
    shipping match threshold the unlinkable share includes every
    singleton surface (those the blocker found nothing for)."""
    from entity_linkings_spark.operators.evaluate import unlinkables_table

    pipe = LinkagePipeline(tiny["dictionary"])
    surfaces = pipe.surfaces(pipe.mentions(tiny["transcripts"])).cache()
    scored = pipe.scored_pairs(pipe.pairs(surfaces), surfaces)
    tab = unlinkables_table(
        surfaces, scored, [0.5, 0.90, 0.999]
    ).collect()
    props = [r["prop_unlinkable"] for r in tab]
    assert props == sorted(props)
    assert all(r["n_no_pairs"] == tab[0]["n_no_pairs"] for r in tab)
    assert all(r["n_unlinkable"] >= r["n_no_pairs"] for r in tab)
    assert 0.0 < props[0] < 1.0


def test_threshold_sweep_exact_vs_hand_model(spark):
    """threshold_sweep == a pure-Python model on a hand corpus covering
    every row class: labeled match scored high (tp), labeled match scored
    low (tp->fn as t rises), labeled non-match scored (fp until t passes
    it), labeled match the scorer NEVER saw (fn at every threshold — the
    blocking-miss path), labeled non-match never scored (tn everywhere),
    an UNLABELED scored pair (ignored entirely — the Splink contract),
    and reversed orientation on both sides (canonicalization)."""
    from entity_linkings_spark.operators.evaluate import threshold_sweep

    scored = spark.createDataFrame(
        [
            ("a", "b", 0.95),   # labeled match, high
            ("c", "a", 0.60),   # labeled match (reversed orientation), mid
            ("b", "c", 0.70),   # labeled NON-match
            ("d", "e", 0.20),   # labeled NON-match, low
            ("x", "y", 0.99),   # UNLABELED: must not appear in any count
        ],
        "skey_a string, skey_b string, combined double",
    )
    labels = spark.createDataFrame(
        [
            ("a", "b", True),
            ("a", "c", True),
            ("f", "a", True),   # never scored: fn at every threshold
            ("c", "b", False),  # reversed orientation on the label side
            ("d", "e", False),
            ("g", "h", False),  # never scored: tn at every threshold
        ],
        "skey_a string, skey_b string, is_match boolean",
    )
    ths = [0.5, 0.65, 0.9, 0.99]
    model_scored = {("a", "b"): 0.95, ("a", "c"): 0.60, ("b", "c"): 0.70,
                    ("d", "e"): 0.20}
    model = {("a", "b"): True, ("a", "c"): True, ("a", "f"): True,
             ("b", "c"): False, ("d", "e"): False, ("g", "h"): False}
    got = {r["threshold"]: r.asDict()
           for r in threshold_sweep(scored, labels, ths).collect()}
    for t in ths:
        linked = {p for p, s in model_scored.items() if s >= t}
        tp = sum(1 for p, m in model.items() if m and p in linked)
        fp = sum(1 for p, m in model.items() if not m and p in linked)
        fn = sum(1 for p, m in model.items() if m and p not in linked)
        tn = sum(1 for p, m in model.items() if not m and p not in linked)
        r = got[t]
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn), (t, r)
        assert r["precision"] == tp / max(tp + fp, 1)
        assert r["recall"] == tp / max(tp + fn, 1)
        assert r["f1"] == 2.0 * tp / max(2 * tp + fp + fn, 1)
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == len(model)
    # the never-scored labeled match is fn at EVERY threshold
    assert all(got[t]["fn"] >= 1 for t in ths)
    # monotone: tp and fp never rise, fn and tn never fall
    seq = [got[t] for t in sorted(ths)]
    assert all(x["tp"] >= y["tp"] and x["fp"] >= y["fp"]
               and x["fn"] <= y["fn"] and x["tn"] <= y["tn"]
               for x, y in zip(seq, seq[1:]))


def test_threshold_sweep_on_real_scored_pairs(spark, tiny):
    """On the real pipeline's scored pairs vs the planted labeled-pair
    table (gold_surface_pairs — positives AND negatives): some threshold
    decides this corpus at the quality pairwise_f1 reports for the full
    pipeline, and extreme thresholds degrade in the expected directions."""
    from entity_linkings_spark.operators.evaluate import (
        gold_surface_pairs,
        threshold_sweep,
    )

    pipe = LinkagePipeline(tiny["dictionary"])
    surfaces = pipe.surfaces(pipe.mentions(tiny["transcripts"])).cache()
    scored = pipe.scored_pairs(pipe.pairs(surfaces), surfaces)
    lp = gold_surface_pairs(tiny["gold"], tiny["transcripts"])
    sc = scored.select("skey_a", "skey_b", "combined")
    grid = [0.05, 0.5, 0.75, 0.90, 0.9999]
    tab = {r["threshold"]: r for r in threshold_sweep(sc, lp, grid).collect()}
    # the sweep's whole point: a bare pair-score cut is measurably WEAKER
    # than the composed pipeline (whose pairwise_f1 is 1.0 on this corpus
    # via priors + clustering transitivity) — best single-threshold F1 is
    # ~0.85 at 0.75, and the sweep is the tool that reveals where
    best = max(tab.values(), key=lambda r: r["f1"])
    assert 0.80 < best["f1"] < 1.0 and 0.05 < best["threshold"] < 0.9999
    # extremes degrade in the expected directions
    assert tab[0.05]["recall"] == 1.0          # links every scored pair
    assert tab[0.9999]["precision"] in (0.0, 1.0)  # links (almost) nothing
    assert tab[0.9999]["fp"] <= tab[0.05]["fp"]
    # label volume is conserved at every threshold
    n = lp.count()
    assert all(r["tp"] + r["fp"] + r["fn"] + r["tn"] == n for r in tab.values())


def test_run_output_plans_stay_lineage_truncated(run):
    """Round-9 planning-cost gate: run()'s composed outputs must NOT nest
    the shared intermediates' plans (the five stages used to compose via
    cache(), so resolved_mentions' printed tree reached ~3.2 MB with 230
    repeated InMemoryRelation subtrees and Catalyst planning dominated the
    query — see OPTIMIZATION_r09.md). With the lazy-localCheckpoint shape
    every shared stage is a LogicalRDD leaf: the analyzed tree stays small
    and contains no nested pipeline scan."""
    plan = run["resolved_mentions"]._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 200_000, f"composed plan blew up again: {len(plan)} chars"
    # the shared intermediates must appear as materialized leaves, not as
    # re-analyzed subtrees re-reading the transcript source
    assert "LogicalRDD" in plan
    assert "parquet" not in plan.lower()


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _left_persisted(spark, before):
    """RDD ids persisted now and not in ``before``, lazy local checkpoints
    aside: ``InMemory`` hands its stages to the caller as lazy local
    checkpoints, and the context cleaner drops them once their frame is
    garbage, whereas a cache stays until its owner releases it."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {i for i in set(rdds.keySet()) - before
            if not rdds.get(i).rdd().isLocallyCheckpointed()}


def _own_dictionary(spark, tiny, tmp_path):
    """The tiny dictionary under a plan no other test has cached, so the
    cache manager cannot share its derived state with another pipeline's."""
    path = str(tmp_path / "dictionary")
    tiny["dictionary"].write.parquet(path)
    return spark.read.parquet(path)


def test_run_linkage_leaves_nothing_persisted(spark, tiny, tmp_path):
    from entity_linkings_spark.plans.lifecycle import run_linkage

    dic = _own_dictionary(spark, tiny, tmp_path)
    before = _persisted(spark)
    run_linkage(spark, tiny["transcripts"], dic, str(tmp_path / "store"), "tiny")
    left = _persisted(spark) - before
    assert not left, f"run_linkage left RDDs {left} persisted"


def test_close_releases_the_dictionary_state(spark, tiny, tmp_path):
    pipe = LinkagePipeline(_own_dictionary(spark, tiny, tmp_path))
    before = _persisted(spark)
    surfaces = pipe.surfaces(pipe.mentions(tiny["transcripts"]))
    pipe.resolve(surfaces).count()
    assert _persisted(spark) - before, "the pipeline persisted nothing"
    pipe.close()
    left = _left_persisted(spark, before)
    assert not left, f"close() left RDDs {left} persisted"


def test_resumed_run_linkage_derives_no_dictionary_state(spark, tiny, tmp_path, monkeypatch):
    from entity_linkings_spark.operators import blocking as B
    from entity_linkings_spark.operators import prior as P
    from entity_linkings_spark.plans import pipeline
    from entity_linkings_spark.plans.lifecycle import run_linkage

    root = str(tmp_path / "store")
    run_linkage(spark, tiny["transcripts"], tiny["dictionary"], root, "tiny")
    calls = []
    for mod, name in ((pipeline, "dictionary_token_sets"), (P, "prior_table"),
                      (B, "surface_block_keys")):
        monkeypatch.setattr(mod, name, lambda *a, _n=name, **k: calls.append(_n))
    again = run_linkage(spark, tiny["transcripts"], tiny["dictionary"], root, "tiny")
    assert all(r.resumed for k, r in again.items() if k != "runner")
    assert calls == []


def test_ambiguous_dictionary_surface_counts_per_entity_at_the_cap(spark):
    """A dictionary surface shared by two entities counts once per entity
    toward the size of a resolve block: with max_block_size=1 (resolve caps
    blocks at 2) every block holding the typo and the shared surface holds 3
    rows and is dropped, so the typo stays NIL; with max_block_size=2 the
    blocks survive and the tie between the two entities goes to the smaller
    id."""
    from entity_linkings_spark.plans.pipeline import LinkageConfig
    from entity_linkings_spark.sources.dictionary import DICTIONARY_SCHEMA

    dic = spark.createDataFrame(
        [("E1", "Acme Corporation", None, []),
         ("E2", "Orion Group", None, ["Acme Corporation"])],
        schema=DICTIONARY_SCHEMA,
    )
    mentions = spark.createDataFrame([("acme corporaton",)], "mention string")
    got = {}
    for size in (1, 2):
        pipe = LinkagePipeline(dic, config=LinkageConfig(max_block_size=size))
        try:
            [row] = pipe.resolve(pipe.surfaces(mentions)).collect()
        finally:
            pipe.close()
        got[size] = (row["entity_id"], row["score"] > 0.62)
    assert got == {1: ("-1", False), 2: ("E1", True)}


def test_run_leaves_no_cache(spark, tiny, tmp_path):
    """run() releases the dictionary state once its stages are checkpointed."""
    pipe = LinkagePipeline(_own_dictionary(spark, tiny, tmp_path))
    before = _persisted(spark)
    out = pipe.run(tiny["transcripts"])
    assert out["resolved_mentions"].count() > 0
    left = _left_persisted(spark, before)
    assert not left, f"run() left RDDs {left} persisted"


def test_a_peer_close_leaves_a_live_pipeline_cached(spark, tiny, tmp_path):
    """Two pipelines over one dictionary share Spark's cache entries, so one's
    close() uncaches them; the other's next use caches them again, and its
    own close() releases them."""
    dic = _own_dictionary(spark, tiny, tmp_path)
    turns = tiny["transcripts"]
    a, b = LinkagePipeline(dic), LinkagePipeline(dic)
    before = _persisted(spark)
    for pipe in (a, b):
        pipe.resolve(pipe.surfaces(pipe.mentions(turns))).count()
    a.close()
    assert not _left_persisted(spark, before)
    b.resolve(b.surfaces(b.mentions(turns))).count()
    assert len(_left_persisted(spark, before)) == 2  # prior table, dictionary keys
    b.close()
    left = _left_persisted(spark, before)
    assert not left, f"close() left RDDs {left} persisted"

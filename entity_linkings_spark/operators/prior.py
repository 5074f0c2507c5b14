"""Alias-dictionary prior — the reference's prior retriever re-expressed as
aggregations + a broadcast-join cascade.

Reference provenance (/root/reference/entity_linkings/candidate_retriever/prior/):
  * indexer.py:22-37 / 40-55 — two progressively simpler normalized mention
    dicts, counts merged by sum on collision  -> A1 aggregations here
  * indexer.py:113-117 — probe cascade: exact key, then lowercase-despace,
    then punctuation-stripped                -> 3 broadcast left joins +
    coalesce (J3/J4)
  * indexer.py:121-126 — top-k by count, score = count / sum(top-k counts)
    -> window row_number + sum-over-partition (A2/T1)

The alias table is a dimension-table derivative: at any corpus scale it stays
broadcastable (distinct (mention, entity) counts), so every probe here is a
broadcast hash join — no shuffle on the fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_linkings_spark.functions.strings import norm_alnum, norm_despace, norm_exact
from entity_linkings_spark.sources.dictionary import surface_forms


def alias_tier_tables(alias_counts: DataFrame) -> dict[str, DataFrame]:
    """Three normalized aggregates of (mention, entity_id, count): exact
    (trimmed lowercase), despaced, alnum-only — counts summed on collision
    exactly as the reference merges colliding simplified mentions."""
    tiers = {}
    for name, norm in (
        ("exact", norm_exact("mention")),
        ("despace", norm_despace("mention")),
        ("alnum", norm_alnum("mention")),
    ):
        tiers[name] = (
            alias_counts.select(norm.alias("key"), "entity_id", "count")
            .where(F.length("key") > 0)
            .groupBy("key", "entity_id")
            .agg(F.sum("count").alias("count"))
        )
    return tiers


def best_entity_per_key(tier: DataFrame) -> DataFrame:
    """(key, entity_id, prior): argmax-count entity per key with its
    normalized prior = count / total count for the key."""
    w = Window.partitionBy("key")
    wo = w.orderBy(F.desc("count"), F.asc("entity_id"))  # deterministic ties
    return (
        tier.withColumn("rn", F.row_number().over(wo))
        .withColumn("total", F.sum("count").over(w))
        .where(F.col("rn") == 1)
        .select("key", "entity_id", (F.col("count") / F.col("total")).alias("prior"))
    )


def topk_prior(alias_counts: DataFrame, k: int) -> DataFrame:
    """Reference prior search_knn semantics (T1/A2): top-k entities per exact
    mention key, score normalized over the *kept* k counts
    (prior/indexer.py:121-126 divides by the top-k sum, not the full sum)."""
    tier = alias_tier_tables(alias_counts)["exact"]
    wo = Window.partitionBy("key").orderBy(F.desc("count"), F.asc("entity_id"))
    kept = tier.withColumn("rank", F.row_number().over(wo)).where(F.col("rank") <= k)
    wk = Window.partitionBy("key")
    return kept.select(
        "key",
        "entity_id",
        "rank",
        (F.col("count") / F.sum("count").over(wk)).alias("score"),
    )


def _tiered_best(alias_counts: DataFrame) -> DataFrame:
    """All three tiers' argmax tables in ONE pass over the alias dimension:
    (tier, key, entity_id, prior), numerically identical to running
    ``best_entity_per_key(alias_tier_tables(...)[t])`` per tier — the explode
    adds ``tier`` to every group/partition key, so the per-group sums, the
    deterministic tie-break and the prior normalization see exactly the same
    groups. One aggregation exchange + one window exchange replace the six of
    the per-tier shape (guide §2.4), and the cache makes the three broadcast
    probes build from the same materialized rows instead of re-aggregating
    the dimension three times."""
    tiered = (
        alias_counts.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("exact").alias("tier"),
                        norm_exact("mention").alias("key"),
                    ),
                    F.struct(
                        F.lit("despace").alias("tier"),
                        norm_despace("mention").alias("key"),
                    ),
                    F.struct(
                        F.lit("alnum").alias("tier"),
                        norm_alnum("mention").alias("key"),
                    ),
                )
            ).alias("tk"),
            "entity_id",
            "count",
        )
        .select(F.col("tk.tier").alias("tier"), F.col("tk.key").alias("key"),
                "entity_id", "count")
        .where(F.length("key") > 0)
        .groupBy("tier", "key", "entity_id")
        .agg(F.sum("count").alias("count"))
    )
    w = Window.partitionBy("tier", "key")
    wo = w.orderBy(F.desc("count"), F.asc("entity_id"))
    return (
        tiered.withColumn("rn", F.row_number().over(wo))
        .withColumn("total", F.sum("count").over(w))
        .where(F.col("rn") == 1)
        .select(
            "tier", "key", "entity_id",
            (F.col("count") / F.col("total")).alias("prior"),
        )
        .cache()
    )


def resolve_by_prior(surfaces: DataFrame, alias_counts: DataFrame) -> DataFrame:
    """Probe cascade over the three tiers (broadcast left joins + coalesce):
    adds (prior_entity, prior_score, prior_tier) to a surface table; NULL
    entity = no dictionary evidence (the NIL-ish outcome of the exact probes,
    entity_dictionary.py:51-57)."""
    best = _tiered_best(alias_counts)
    tiers = {
        name: best.where(F.col("tier") == name).drop("tier")
        for name in ("exact", "despace", "alnum")
    }
    out = surfaces
    for name, norm in (
        ("exact", norm_exact("surface")),
        ("despace", norm_despace("surface")),
        ("alnum", norm_alnum("surface")),
    ):
        t = tiers[name].select(
            F.col("key").alias(f"k_{name}"),
            F.col("entity_id").alias(f"e_{name}"),
            F.col("prior").alias(f"p_{name}"),
        )
        out = out.join(F.broadcast(t), norm == t[f"k_{name}"], "left").drop(f"k_{name}")
    return out.select(
        *surfaces.columns,
        F.coalesce("e_exact", "e_despace", "e_alnum").alias("prior_entity"),
        F.coalesce("p_exact", "p_despace", "p_alnum").alias("prior_score"),
        F.when(F.col("e_exact").isNotNull(), "exact")
        .when(F.col("e_despace").isNotNull(), "despace")
        .when(F.col("e_alnum").isNotNull(), "alnum")
        .alias("prior_tier"),
    )


def dictionary_alias_counts(dic: DataFrame) -> DataFrame:
    """Derive an alias_counts-shaped table from the entity dictionary itself
    (name + aliases, count=1) — used when no mention-counter resource exists,
    and unioned with observed counts when it does."""
    forms = surface_forms(dic).withColumnsRenamed({"id": "entity_id", "surface": "mention"})
    return forms.withColumn("count", F.lit(1).cast("long"))

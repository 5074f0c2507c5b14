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

# The probe cascade in order: each tier's name and the normalizer that keys it.
TIERS = (("exact", norm_exact), ("despace", norm_despace), ("alnum", norm_alnum))


def _summed(keyed: DataFrame, *keys: str) -> DataFrame:
    """(*keys, entity_id, count) with counts summed on collision, exactly as
    the reference merges colliding simplified mentions; empty keys dropped."""
    return (
        keyed.where(F.length("key") > 0)
        .groupBy(*keys, "entity_id")
        .agg(F.sum("count").alias("count"))
    )


def _best(counts: DataFrame, *keys: str) -> DataFrame:
    """(*keys, entity_id, prior): argmax-count entity per group with its
    normalized prior = count / total count of the group."""
    w = Window.partitionBy(*keys)
    wo = w.orderBy(F.desc("count"), F.asc("entity_id"))  # deterministic ties
    return (
        counts.withColumn("rn", F.row_number().over(wo))
        .withColumn("total", F.sum("count").over(w))
        .where(F.col("rn") == 1)
        .select(*keys, "entity_id", (F.col("count") / F.col("total")).alias("prior"))
    )


def alias_tier_tables(alias_counts: DataFrame) -> dict[str, DataFrame]:
    """Three normalized aggregates of (mention, entity_id, count): exact
    (trimmed lowercase), despaced, alnum-only; one aggregation per tier, so
    a caller that reads one tier aggregates only that tier."""
    return {
        t: _summed(alias_counts.select(norm("mention").alias("key"), "entity_id", "count"), "key")
        for t, norm in TIERS
    }


def best_entity_per_key(tier: DataFrame) -> DataFrame:
    """(key, entity_id, prior): argmax-count entity per key with its
    normalized prior = count / total count for the key."""
    return _best(tier, "key")


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


def prior_table(alias_counts: DataFrame) -> DataFrame:
    """(tier, key, entity_id, prior): every tier's argmax table, equal to
    ``best_entity_per_key(alias_tier_tables(...)[tier])`` per tier, from one
    aggregation exchange and one window exchange instead of six: the explode
    adds ``tier`` to every group key, so each tier sums its own groups. Lazy;
    an owner that probes it repeatedly persists it (LinkagePipeline does)."""
    keyed = F.array(*[F.struct(F.lit(t).alias("tier"), norm("mention").alias("key"))
                      for t, norm in TIERS])
    tiered = alias_counts.select(F.explode(keyed).alias("tk"), "entity_id", "count")
    return _best(_summed(tiered.select("tk.tier", "tk.key", "entity_id", "count"),
                         "tier", "key"), "tier", "key")


def probe_prior(surfaces: DataFrame, table: DataFrame) -> DataFrame:
    """Probe cascade over a ``prior_table`` (broadcast left joins + coalesce):
    adds (prior_entity, prior_score, prior_tier) to a surface table; NULL
    entity = no dictionary evidence (the NIL-ish outcome of the exact probes,
    entity_dictionary.py:51-57)."""
    # every probe reads the whole table keyed "tier:key", so the three build
    # sides are one plan: Spark aggregates and broadcasts it once
    keyed = table.select(F.concat("tier", F.lit(":"), "key").alias("tk"), "entity_id", "prior")
    out = surfaces
    for t, norm in TIERS:
        hit = keyed.withColumnsRenamed({"tk": f"k_{t}", "entity_id": f"e_{t}", "prior": f"p_{t}"})
        probe = F.concat(F.lit(f"{t}:"), norm("surface"))
        out = out.join(F.broadcast(hit), probe == hit[f"k_{t}"], "left").drop(f"k_{t}")
    return out.select(
        *surfaces.columns,
        F.coalesce(*[F.col(f"e_{t}") for t, _ in TIERS]).alias("prior_entity"),
        F.coalesce(*[F.col(f"p_{t}") for t, _ in TIERS]).alias("prior_score"),
        F.coalesce(*[F.when(F.col(f"e_{t}").isNotNull(), F.lit(t)) for t, _ in TIERS])
        .alias("prior_tier"),
    )


def resolve_by_prior(surfaces: DataFrame, alias_counts: DataFrame) -> DataFrame:
    """``probe_prior`` over the ``prior_table`` of ``alias_counts``."""
    return probe_prior(surfaces, prior_table(alias_counts))


def dictionary_alias_counts(dic: DataFrame) -> DataFrame:
    """Derive an alias_counts-shaped table from the entity dictionary itself
    (name + aliases, count=1) — used when no mention-counter resource exists,
    and unioned with observed counts when it does."""
    forms = surface_forms(dic).withColumnsRenamed({"id": "entity_id", "surface": "mention"})
    return forms.withColumn("count", F.lit(1).cast("long"))

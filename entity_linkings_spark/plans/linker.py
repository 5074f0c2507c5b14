"""Clean-clean two-dataset record linkage — "linker mode".

``LinkagePipeline`` (plans/pipeline.py) dedupes ONE corpus: its blocking
self-joins a surface set and its clustering may put many records in one
entity. When linking TWO individually duplicate-free files (the setting
Fellegi & Sunter 1969 formalized, Splink's ``link_type="link_only"``),
both of those are wrong tools: candidate pairs must be CROSS-source only
(intra-source pairs are non-matches by assumption, so generating them
wastes the dominant scoring cost and can only add errors), and the
decision stage must produce a one-to-one MATCHING, not clusters.

``link_datasets`` composes the engine's existing stages into that plan:

  1. per-side normalized surfaces (functions/strings.norm_exact);
  2. per-side blocking keys — the SAME token + MinHash-LSH band derivation
     the dedup pipeline uses (operators/blocking.surface_block_keys);
  3. bipartite candidate generation: one equi-join of left keys with
     right keys on block_key — never a self-join, so intra-source pairs
     are structurally impossible — deduped per (left, right) record pair;
     blocks whose CROSS product exceeds ``max_block_pairs`` are dropped
     before the join (the bipartite analogue of cap_blocks: the cap must
     bound n_left x n_right, not either side alone);
  4. pair scoring with the batched Arrow scorer (operators/scoring.py) —
     the blended ``combined`` score, or the full feature struct when
     Fellegi-Sunter decisioning is on;
  5. (optional) unsupervised FS fit on the candidate pairs' own gamma
     patterns (operators/linkage_model.fit_fs_model — one bounded
     aggregate + driver EM) with the posterior as the decision score;
  6. one-to-one assignment via iterated locally-dominant-edge matching
     (operators/assignment.one_to_one_match) over candidates at or above
     the decision floor, plus unmatched-record audit tables on both sides
     (the blocking_quality zero-row lesson: the records that got NO
     candidate are the ones an audit must not lose).

The reference links each mention independently to a dictionary and never
constrains two mentions from claiming one entity
(candidate_reranker/crossencoder/crossencoder.py:142-162); linker mode is the
classical two-file contract that per-row argmax cannot express.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import norm_exact
from ..operators.assignment import one_to_one_match
from ..operators.blocking import surface_block_keys
from ..operators.linkage_model import fit_fs_model
from ..operators.scoring import score_pairs, score_pairs_combined

# FS gamma discretization over the scorer's feature columns: ascending
# thresholds per feature, the shape linkage_model.comparison_levels reads.
_FS_THRESHOLDS = {
    "jaro_winkler": [0.80, 0.94],
    "lev_ratio": [0.60, 0.85],
    "ngram_jaccard": [0.30, 0.60],
}


@dataclass(frozen=True)
class LinkerConfig:
    num_bands: int = 8
    rows_per_band: int = 4
    use_tokens: bool = True
    use_lsh: bool = True
    max_block_pairs: int = 100_000  # cap on a block's n_left * n_right
    min_score: float = 0.5  # decision floor on the blended score
    fs_match: bool = False  # learn FS weights on the candidates' own
    # gamma patterns and decide on the posterior instead of the blend
    fs_posterior_threshold: float = 0.5
    max_rounds: int = 20  # locally-dominant-edge rounds (fixpoint cap)


def _side_keys(records: DataFrame, id_col: str, surface_col: str,
               cfg: LinkerConfig) -> DataFrame:
    surfaces = records.select(
        F.col(id_col).cast("string").alias("skey"),
        norm_exact(surface_col).alias("surface"),
    )
    return surface_block_keys(
        surfaces, cfg.num_bands, cfg.rows_per_band,
        use_tokens=cfg.use_tokens, use_lsh=cfg.use_lsh,
    )


def candidate_pairs_bipartite(
    keys_l: DataFrame, keys_r: DataFrame, max_block_pairs: int
) -> DataFrame:
    """(left_id, right_id, surface_a, surface_b, block_key): equi-join of
    the two sides' block keys, deduped per record pair (min block_key
    wins, deterministically). Blocks whose cross product n_l * n_r would
    exceed ``max_block_pairs`` are dropped BEFORE the join — a hot token
    shared by 10^4 records on each side is a 10^8-pair block; at 100 TB
    the cap is what keeps the join's fan-out bounded, and multi-key
    blocking (token AND LSH bands) recovers pairs the dropped block
    would have contributed, exactly as in the dedup pipeline."""
    cl = keys_l.groupBy("block_key").agg(F.count("*").alias("nl"))
    cr = keys_r.groupBy("block_key").agg(F.count("*").alias("nr"))
    ok = (
        cl.join(cr, "block_key")
        .where(F.col("nl") * F.col("nr") <= max_block_pairs)
        .select("block_key")
    )
    a = keys_l.join(ok, "block_key").select(
        "block_key", F.col("skey").alias("left_id"),
        F.col("surface").alias("surface_a"),
    )
    b = keys_r.select(
        "block_key", F.col("skey").alias("right_id"),
        F.col("surface").alias("surface_b"),
    )
    return (
        a.join(b, "block_key")
        .groupBy("left_id", "right_id")
        .agg(
            F.min("block_key").alias("block_key"),
            F.first("surface_a").alias("surface_a"),
            F.first("surface_b").alias("surface_b"),
        )
    )


def link_datasets(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "record_id",
    surface_col: str = "surface",
    config: LinkerConfig | None = None,
) -> dict[str, DataFrame]:
    """Link two clean datasets; returns the stage tables:

    - ``pairs``: bipartite candidates (cross-source only, by construction);
    - ``scored``: candidates + scorer features (+ gamma/fs columns when
      ``fs_match``) + the ``decision_score`` column the matching uses;
    - ``matches``: one row per matched record pair (left_id, right_id,
      decision_score, round) — one-to-one on both sides;
    - ``unmatched_left`` / ``unmatched_right``: records with no match,
      each tagged ``reason`` = 'no_candidate' (blocking produced nothing
      — feasibility, not decision) or 'below_floor_or_lost' (had
      candidates; every one fell under the floor or lost its partner to
      a better claimant).
    """
    cfg = config or LinkerConfig()
    keys_l = _side_keys(left, id_col, surface_col, cfg)
    keys_r = _side_keys(right, id_col, surface_col, cfg)
    pairs = candidate_pairs_bipartite(keys_l, keys_r, cfg.max_block_pairs)

    if cfg.fs_match:
        full = score_pairs(pairs)
        # fit consumes the pairs once for the bounded pattern aggregate and
        # once for scoring — checkpoint so the Arrow pass runs exactly once
        full = full.localCheckpoint(eager=False)
        scored, _params = fit_fs_model(full, _FS_THRESHOLDS)
        scored = scored.withColumn("decision_score", F.col("fs_posterior"))
        floor = cfg.fs_posterior_threshold
    else:
        scored = score_pairs_combined(pairs).withColumn(
            "decision_score", F.col("combined")
        )
        floor = cfg.min_score

    candidates = scored.where(F.col("decision_score") >= floor).select(
        "left_id", "right_id", "decision_score"
    )
    matches = one_to_one_match(
        candidates,
        left_col="left_id",
        right_col="right_id",
        score_col="decision_score",
        max_rounds=cfg.max_rounds,
    )

    def _unmatched(records: DataFrame, side: str) -> DataFrame:
        ids = records.select(F.col(id_col).cast("string").alias(f"{side}_id"))
        had_pair = pairs.select(f"{side}_id").distinct()
        return (
            ids.join(matches.select(f"{side}_id"), f"{side}_id", "left_anti")
            .join(
                had_pair.withColumn("_had", F.lit(True)), f"{side}_id", "left"
            )
            .select(
                f"{side}_id",
                F.when(F.col("_had").isNotNull(), F.lit("below_floor_or_lost"))
                .otherwise(F.lit("no_candidate"))
                .alias("reason"),
            )
        )

    return {
        "pairs": pairs,
        "scored": scored,
        "matches": matches,
        "unmatched_left": _unmatched(left, "left"),
        "unmatched_right": _unmatched(right, "right"),
    }

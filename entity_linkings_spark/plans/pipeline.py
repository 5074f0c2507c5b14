"""The end-to-end linkage pipeline — the Spark equivalent of the reference's
``ELPipeline`` (/root/reference/entity_linkings/pipeline.py:23-53):

    reference                          this engine
    ---------                          -----------
    spaCy NER (:16-21)                 extract_mentions (pure Catalyst)
    retriever top-k index probe        blocking_pairs (token + MinHash-LSH)
      (:46-48)
    reranker pairwise scoring          score_pairs (one Arrow/pandas UDF)
      (crossencoder :142-162)
    argmax top-1 (:48, T4)             match threshold + prior cascade ->
                                       connected components -> clusters;
                                       resolve(): windowed top-1 vs the
                                       dictionary with NIL fallback
    calculate_inkb_f1 (:38)            operators.evaluate

Match semantics are **resolution-first**, mirroring the reference's argmax
top-1 (each mention resolved independently; "reference clusters" = mentions
grouped by resolved entity id — SURVEY.md section 7 hard part (d)):
  * every distinct surface is resolved against the dictionary: exact/
    normalized alias hit via the prior cascade (fast path), else blocked +
    scored argmax over dictionary surface forms with a resolve threshold;
  * surfaces resolving to the same entity cluster together (cluster id =
    ``ent:<entity_id>``);
  * unresolved (NIL) surfaces cluster among themselves by string-similarity
    edges >= ``match_threshold`` closed by large-star/small-star connected
    components; untouched NIL surfaces stay singletons
    (entity_dictionary.py:51-57 NIL fallback).

Pairwise-threshold-only clustering (ignore the dictionary, edges purely from
the scorer) cannot do this: on data with confusable entities ("Vera
Tanaka"/"Sara Tanaka" both typo-mentioned) no pairwise threshold separates
same-entity typo pairs from cross-entity near-misses; resolution-first is what
makes F1>=0.99 reachable, exactly as the reference's own design implies.
"""

from __future__ import annotations

from collections import namedtuple
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import cached_property, partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_linkings_spark.operators import blocking as B
from entity_linkings_spark.operators import clustering as C
from entity_linkings_spark.operators import prior as P
from entity_linkings_spark.operators import scoring as S
from entity_linkings_spark.operators.mentions import extract_mentions
from entity_linkings_spark.sources.dictionary import (
    NIL_ID,
    dictionary_token_sets,
)


@dataclass(frozen=True)
class LinkageConfig:
    max_block_size: int = 1000
    num_bands: int = 8
    rows_per_band: int = 4
    match_threshold: float = 0.90  # NIL-NIL string-edge threshold
    resolve_threshold: float = 0.62  # argmax-vs-dictionary acceptance
    hot_block_threshold: int = 256  # triangle-salt blocks hotter than this
    n_salt: int = 8


# The paper's dataflow in build order: each stage's name, the stages it reads
# ("transcripts" is the caller's input) and the LinkagePipeline method that
# builds it. Names double as durable snapshot names: renaming one orphans them.
Stage = namedtuple("Stage", "name inputs method")
STAGES = (
    Stage("mentions", ("transcripts",), "mentions"),
    Stage("surfaces", ("mentions",), "surfaces"),
    Stage("blocking_keys", ("surfaces",), "surface_keys"),
    Stage("pairs", ("surfaces", "blocking_keys"), "pairs"),
    Stage("scored", ("pairs", "surfaces"), "scored_pairs"),
    Stage("resolved", ("surfaces", "blocking_keys"), "resolve"),
    Stage("clusters", ("scored", "surfaces", "resolved"), "clusters"),
    Stage("resolved_mentions", ("mentions", "clusters", "resolved"), "resolved_mentions"),
)


class LinkagePipeline:
    """Composable stage plans. Every method returns a DataFrame (lazy); the
    lifecycle runner materializes stage outputs as snapshots.

    The pipeline owns the state it derives from the dictionary (the anchor
    token sets, the prior table, the keyed dictionary surfaces): each is built
    on first use, reused by every later call and stream epoch, and released by
    ``close()``, which ``run()`` and ``run_linkage`` run themselves and a
    stream's caller runs when the query ends."""

    def __init__(self, dic: DataFrame, alias_counts: DataFrame | None = None,
                 config: LinkageConfig | None = None):
        self.cfg = config or LinkageConfig()
        self.dic = dic
        # dictionary-derived alias counts always participate; observed
        # mention-counter counts (S4) are unioned in when provided
        self.dictionary_forms = derived = P.dictionary_alias_counts(dic)
        self.alias_counts = (
            derived.unionByName(alias_counts) if alias_counts is not None else derived
        )

    # ---- dictionary state: built on first use, released by close() ----------
    @cached_property
    def token_sets(self) -> tuple[list[str], list[str]]:
        """(word tokens, abbrev-dot tokens) that anchor mention extraction."""
        return dictionary_token_sets(self.dic)

    def _cached(self, name: str, build) -> DataFrame:
        """The table ``build()`` makes, kept as ``name`` and cached. Spark keys
        a cache by plan, so pipelines over the same dictionary and alias counts
        share it and one's ``close()`` uncaches it for all: a use re-caches it."""
        df = self.__dict__.get(name)
        if df is None:
            df = self.__dict__[name] = build()
        if not df.storageLevel.useMemory:
            df.cache()
        return df

    def _dictionary_keys(self) -> DataFrame:
        """(skey, surface, entity_id, block_key): each distinct lowercase
        dictionary surface form of each entity, once per uncapped block key."""
        forms = (
            self.dictionary_forms.select(F.lower(F.trim("mention")).alias("surface"), "entity_id")
            .distinct()
            .withColumn("skey", F.md5("surface"))
        )
        keys = B.surface_block_keys(forms.select("skey", "surface").distinct(),
                                    self.cfg.num_bands, self.cfg.rows_per_band)
        return keys.join(forms, ["skey", "surface"])

    def close(self) -> None:
        """Release the dictionary state built so far; a later use rebuilds it."""
        for name in ("token_sets", "prior_table", "dictionary_keys"):
            state = self.__dict__.pop(name, None)
            if isinstance(state, DataFrame):
                state.unpersist()

    # ---- stage 1: mentions --------------------------------------------------
    def mentions(self, transcripts: DataFrame) -> DataFrame:
        return extract_mentions(transcripts, *self.token_sets)

    # ---- stage 2: distinct surfaces + prior evidence ------------------------
    def surfaces(self, mentions: DataFrame) -> DataFrame:
        table = self._cached("prior_table", lambda: P.prior_table(self.alias_counts))
        return P.probe_prior(B.distinct_surfaces(mentions), table)

    # ---- stage 3: blocking --------------------------------------------------
    def surface_keys(self, surfaces: DataFrame) -> DataFrame:
        """Shared blocking-key derivation (token + LSH bands, uncapped).
        Computed once and fed to BOTH pairs() and resolve() — the two
        consumers block on identical keys, so deriving them twice would
        double the minhash cost of the pipeline."""
        return B.surface_block_keys(
            surfaces, self.cfg.num_bands, self.cfg.rows_per_band
        )

    def pairs(self, surfaces: DataFrame, keys: DataFrame | None = None) -> DataFrame:
        if keys is None:
            keys = self.surface_keys(surfaces)
        return B.blocking_pairs(
            surfaces,
            max_block_size=self.cfg.max_block_size,
            num_bands=self.cfg.num_bands,
            rows_per_band=self.cfg.rows_per_band,
            hot_threshold=self.cfg.hot_block_threshold,
            n_salt=self.cfg.n_salt,
            keys=keys,
        )

    # ---- stage 4: scoring ----------------------------------------------------
    def scored_pairs(self, pairs: DataFrame, surfaces: DataFrame) -> DataFrame:
        """Mention-mention pair scores with both sides' resolved entities
        attached; ``is_match`` = same resolved entity when both resolve, else
        the NIL-NIL string threshold."""
        ev = surfaces.select("skey", "prior_entity")
        joined = S.score_pairs(pairs).join(
            ev.withColumnsRenamed({"skey": "skey_a", "prior_entity": "ent_a"}), "skey_a", "left"
        ).join(
            ev.withColumnsRenamed({"skey": "skey_b", "prior_entity": "ent_b"}), "skey_b", "left"
        )
        return joined.withColumn(
            "is_match",
            F.when(
                F.col("ent_a").isNotNull() & F.col("ent_b").isNotNull(),
                F.col("ent_a") == F.col("ent_b"),
            ).otherwise(F.col("combined") >= F.lit(self.cfg.match_threshold)),
        )

    # ---- stage 5: clustering (resolution-first) ------------------------------
    def clusters(
        self, scored: DataFrame, surfaces: DataFrame, resolved: DataFrame
    ) -> DataFrame:
        """(node=skey, cluster_id): resolved surfaces cluster by entity;
        NIL surfaces cluster by string edges via star-contraction CC."""
        ent = resolved.where(F.col("entity_id") != NIL_ID).select(
            F.col("skey").alias("node"),
            F.concat(F.lit("ent:"), "entity_id").alias("cluster_id"),
        )
        nil_keys = resolved.where(F.col("entity_id") == NIL_ID).select("skey")
        nil_edges = (
            scored.where(F.col("combined") >= self.cfg.match_threshold)
            .join(nil_keys.withColumnRenamed("skey", "skey_a"), "skey_a")
            .join(nil_keys.withColumnRenamed("skey", "skey_b"), "skey_b")
            .select(F.col("skey_a").alias("u"), F.col("skey_b").alias("v"))
        )
        nil_assign = C.connected_components(nil_edges)
        assign = ent.unionByName(nil_assign)
        return C.clusters_with_singletons(
            assign, surfaces.select(F.col("skey").alias("node"))
        )

    # ---- stage 6: map clusters back to mention instances --------------------
    def mention_clusters(self, mentions: DataFrame, clusters: DataFrame) -> DataFrame:
        inst = B.attach_skey(mentions)
        return inst.join(
            clusters.withColumnRenamed("node", "skey"), "skey", "left"
        ).withColumn("cluster_id", F.coalesce("cluster_id", "skey"))

    def resolved_mentions(self, mentions: DataFrame, clusters: DataFrame,
                          resolved: DataFrame) -> DataFrame:
        """One row per mention instance with its cluster and resolved entity."""
        return self.mention_clusters(mentions, clusters).join(
            resolved.select("skey", "entity_id", "score"), "skey", "left"
        ).select(
            "conv_id", "turn_idx", "start", "end", "mention",
            "mention_id", "cluster_id", "entity_id", "score",
        )

    # ---- top-1 entity resolution (reference predict semantics) --------------
    def resolve(self, surfaces: DataFrame, keys: DataFrame | None = None) -> DataFrame:
        """(skey, surface, entity_id, score): prior fast path, else blocked +
        scored against dictionary surface forms, windowed argmax (T4), NIL
        fallback below threshold (entity_dictionary.py:51-57).

        ``keys``: precomputed surface_keys() for the mention surfaces — the
        mention side reuses them (filtered to unresolved surfaces) instead of
        re-deriving token+LSH keys; the dictionary side is the pipeline's
        cached ``_dictionary_keys``. Key derivation is per-row and
        deterministic, so the blocking semantics are identical either way
        (asserted in tests)."""
        need = surfaces.where(F.col("prior_entity").isNull()).select("skey")

        # block mention surfaces against dictionary surfaces: reused mention
        # keys (semi-joined to the unresolved subset) + the dictionary's keys
        mention_keys = keys if keys is not None else self.surface_keys(surfaces)
        mk = mention_keys.join(need, "skey").withColumn("side", F.lit("m"))
        dk = self._cached("dictionary_keys", self._dictionary_keys).withColumn("side", F.lit("d"))
        keys = B.cap_blocks(
            mk.unionByName(dk, allowMissingColumns=True), self.cfg.max_block_size * 2
        )
        m = keys.where(F.col("side") == "m").select(
            "block_key", F.col("skey").alias("skey_a"), F.col("surface").alias("surface_a")
        )
        d = keys.where(F.col("side") == "d").select(
            "block_key", F.col("skey").alias("skey_b"), F.col("surface").alias("surface_b"),
            "entity_id",
        )
        # a dictionary surface keeps one row per entity through the cap, so
        # it counts once per entity toward a block's size; it is scored once
        cand = (
            m.join(d, "block_key")
            .groupBy("skey_a", "skey_b")
            .agg(F.first("surface_a").alias("surface_a"), F.first("surface_b").alias("surface_b"),
                 F.collect_set("entity_id").alias("entities"))
        )
        scored = S.score_pairs_combined(cand).withColumn("entity_id", F.explode("entities"))
        w = Window.partitionBy("skey_a").orderBy(F.desc("combined"), F.asc("entity_id"))
        best = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                F.col("skey_a").alias("skey"),
                F.col("entity_id").alias("scored_entity"),
                F.col("combined").alias("scored_score"),
            )
        )
        return surfaces.join(best, "skey", "left").select(
            "skey",
            "surface",
            F.coalesce(
                "prior_entity",
                F.when(
                    F.col("scored_score") >= self.cfg.resolve_threshold,
                    F.col("scored_entity"),
                ),
                F.lit(NIL_ID),
            ).alias("entity_id"),
            F.coalesce("prior_score", "scored_score", F.lit(0.0)).alias("score"),
        )

    # ---- observability: blocking-scheme audit --------------------------------
    def blocking_audit(
        self,
        surfaces: DataFrame,
        keys: DataFrame | None = None,
        golds: DataFrame | None = None,
    ) -> DataFrame:
        """Pair completeness / pair quality / reduction ratio of the
        pipeline's OWN blocking keys, per key family (``tok`` / ``lsh`` by
        block-key prefix) plus their union — one row per scheme, shaped
        for the lifecycle metrics table (operators/evaluate.py
        blocking_quality). ``golds`` is (skey, entity_id) labeled records;
        by default the prior-resolved surfaces stand in as silver labels,
        which is exactly the audit you can run at full scale with no
        annotation. Run this BEFORE a big linkage job: at 10^12 turns the
        blocking choice is the job cost, and a completeness drop here is
        cheaper to catch than a recall drop after scoring."""
        from entity_linkings_spark.operators.evaluate import blocking_quality

        if keys is None:
            keys = self.surface_keys(surfaces)
        if golds is None:
            golds = surfaces.where(F.col("prior_entity").isNotNull()).select(
                "skey", F.col("prior_entity").alias("entity_id")
            )
        # families: "tok:*" is token blocking; the per-band "mh<i>:*" keys
        # are all one LSH scheme (a pair is LSH-co-blocked if ANY band hits)
        k = keys.join(golds.select("skey"), "skey").select(
            F.when(F.col("block_key").startswith("tok:"), "tok")
            .otherwise("lsh")
            .alias("fam"),
            "skey",
            F.col("block_key").alias("bkey"),
        )
        keyed = k.select(F.col("fam").alias("scheme"), "skey", "bkey").unionByName(
            k.select(F.lit("union").alias("scheme"), "skey", "bkey")
        )
        return blocking_quality(golds, keyed)

    # ---- the stage graph, walked in order ------------------------------------
    def build(self, transcripts: DataFrame, materialize, upto: str = "resolved_mentions"):
        """Build ``upto`` and its ancestors in ``STAGES`` order. Each stage goes
        through ``materialize(stage, build)``, which runs ``build()`` and
        returns the DataFrame later stages read."""
        need = {upto}
        for st in reversed(STAGES):
            if st.name in need:
                need.update(st.inputs)
        out = {"transcripts": transcripts}
        for st in STAGES:
            if st.name in need:
                build = partial(getattr(self, st.method), *(out[i] for i in st.inputs))
                out[st.name] = materialize(st, build)
        del out["transcripts"]
        return out

    def run(self, transcripts: DataFrame) -> dict[str, DataFrame]:
        """The whole graph through ``InMemory``, ``resolved_mentions`` in T6
        stable order. Its lazy localCheckpoints are lost on executor loss or
        dynamic-allocation scale-in; resilient runs use ``run_linkage``. The
        dictionary state is released on return."""
        try:
            out = self.build(transcripts, InMemory())
        finally:
            self.close()  # every stage that read the state is checkpointed
        del out["blocking_keys"]
        out["resolved_mentions"] = out["resolved_mentions"].orderBy("conv_id", "turn_idx", "start")
        return out


class InMemory:
    """``LinkagePipeline.run``'s materializer. A stage read by several later
    stages becomes a lazy localCheckpoint: computed once per run and, unlike
    cache(), with its lineage cut (nested cached plans made planning time
    dominate). Checkpointed partitions live only in executor memory: executor
    loss or dynamic-allocation scale-in fails the run, where ``run_linkage``'s
    durable snapshots would resume. One count() on ``PIN`` computes the shared
    prefix; the ``CONCURRENT`` branches, disjoint above it, are then populated
    by concurrent jobs. Scored is checkpointed although clusters alone reads
    it, because connected components runs one action per round over it."""

    PIN = "blocking_keys"
    CONCURRENT = ("scored", "resolved")

    def __init__(self):
        self.branches = []

    def __call__(self, stage: Stage, build) -> DataFrame:
        df = build()
        readers = sum(stage.name in st.inputs for st in STAGES)
        if readers > 1 or stage.name in self.CONCURRENT:
            df = df.localCheckpoint(eager=False)
        if stage.name == self.PIN:
            df.count()
        if stage.name in self.CONCURRENT:
            self.branches.append((stage.name, df))
            if len(self.branches) == len(self.CONCURRENT):
                with ThreadPoolExecutor(len(self.branches)) as pool:
                    list(pool.map(_populate, self.branches))
        return df


def _populate(branch: tuple[str, DataFrame]) -> None:
    """count() one branch under a job group named after it, set in the worker
    because pool threads do not inherit the caller's local properties."""
    name, df = branch
    df.sparkSession.sparkContext.setJobGroup(name, name)
    df.count()

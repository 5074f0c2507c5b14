"""Candidate-pair generation: token blocking + MinHash-LSH banding.

Replaces the reference's index probes — BM25 top-k
(/root/reference/entity_linkings/candidate_retriever/bm25/indexer.py:85-114)
and FAISS dense top-k (candidate_retriever/dualencoder/indexer.py:94-132) —
with *blocking joins* that produce candidate pairs directly (SURVEY.md J5/J6).

Scale design (10^12 turns):
  * Blocking operates on **distinct normalized surfaces**, not mention
    instances — identical strings are trivially the same entity, so the pair
    space shrinks from O(instances^2) to O(distinct^2) long before any join.
  * Block-size cap: token blocks have power-law sizes; blocks larger than
    ``max_block_size`` are dropped (standard token-blocking practice — their
    tokens are stopword-like and carry no discriminative signal). Dropped
    blocks are observable via ``block_stats``, never silent.
  * Skew: the self-join shuffles by block key; AQE skew-join splitting
    (enabled in session.py) handles residual hot keys under the cap. For
    extreme dictionaries, an explicit triangle-salted self-join can be slotted
    in here without touching callers (pairs schema is the contract).
  * Pair dedup: canonical ``skey_a < skey_b`` ordering (SURVEY.md section 4
    item 2) and a groupBy that keeps the first block key per pair — one
    shuffle, map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_linkings_spark.functions.hashing import h60, minhash_signature
from entity_linkings_spark.functions.strings import char_ngrams, norm_exact, tokenize


def distinct_surfaces(mentions: DataFrame) -> DataFrame:
    """Collapse mention instances to distinct normalized surfaces.

    Returns (skey, surface, n_instances): ``surface`` is the lowercased
    trimmed form (scoring operates on it), ``skey`` = md5(surface) is the
    stable join key back to instances.
    """
    return (
        mentions.select(norm_exact("mention").alias("surface"))
        .groupBy("surface")
        .agg(F.count("*").alias("n_instances"))
        .withColumn("skey", F.md5("surface"))
    )


def attach_skey(mentions: DataFrame) -> DataFrame:
    """Add the surface key to a mention-instance DataFrame (no shuffle)."""
    return mentions.withColumn("skey", F.md5(norm_exact("mention")))


def token_block_keys(surfaces: DataFrame, min_token_len: int = 2) -> DataFrame:
    """(skey, surface, block_key) — one row per (surface, distinct token)."""
    return (
        surfaces.select(
            "skey",
            "surface",
            F.explode(F.array_distinct(tokenize("surface"))).alias("block_key"),
        )
        .where(F.length("block_key") >= min_token_len)
        .withColumn("block_key", F.concat(F.lit("tok:"), F.col("block_key")))
    )


def lsh_block_keys(
    surfaces: DataFrame,
    num_bands: int = 8,
    rows_per_band: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """(skey, surface, block_key) via MinHash-LSH banding over character
    n-gram shingles: b bands x r rows; two surfaces share a band key with
    probability 1-(1-s^r)^b for Jaccard similarity s.

    Pure Catalyst (functions/hashing.py minhash) — no UDF, no ML pipeline;
    banding keys are md5 of the band's row slice, salted with the band index.
    """
    sig = minhash_signature(char_ngrams(norm_exact("surface"), ngram), num_bands * rows_per_band)
    bands = F.array(
        *[
            F.concat(
                F.lit(f"mh{b}:"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ),
            )
            for b in range(num_bands)
        ]
    )
    return (
        surfaces.withColumn("sig", sig)
        # NULL signature (empty n-gram set) -> no band keys for the surface
        .select(
            "skey",
            "surface",
            F.explode(F.when(F.col("sig").isNotNull(), bands)).alias("block_key"),
        )
    )


def cap_blocks(keys: DataFrame, max_block_size: int) -> DataFrame:
    """Drop blocks with fewer than 2 or more than ``max_block_size`` members.
    One shuffle (window count over block_key); hot stopword-like blocks die
    here, which is also the skew guard for the pair join."""
    w = Window.partitionBy("block_key")
    return (
        keys.withColumn("bsize", F.count("*").over(w))
        .where((F.col("bsize") >= 2) & (F.col("bsize") <= max_block_size))
        .drop("bsize")
    )


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_ranges: int | None = None,
) -> DataFrame:
    """Distributed 1-based global rank by ``order_cols`` (which must form a
    unique total order) WITHOUT a single-partition window: range-partition
    on the order key, materialize (the two downstream jobs must see the
    SAME sampled range boundaries), take per-partition row_numbers, and
    add driver-computed partition offsets — the collect is one row per
    range partition, bounded by the parallelism knob, never by the data.
    The rank values themselves depend only on the total order, not on
    where the sampled boundaries fell."""
    spark = df.sparkSession
    n = num_ranges or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    parts = (
        df.repartitionByRange(n, *cols)
        .withColumn("_pid", F.spark_partition_id())
        # LAZY: the counts aggregation below is always the first action and
        # reads every partition, so the checkpoint materializes inside that
        # job instead of costing its own (guide §1.2 fixed-overhead audit);
        # the rank join then reads the pinned partitions, which is the
        # "downstream jobs must see the SAME boundaries" requirement.
        .localCheckpoint(eager=False)
    )
    counts = sorted(
        parts.groupBy("_pid").agg(F.count("*").alias("c")).collect(),
        key=lambda r: r["_pid"],
    )
    offs, acc = [], 0
    for r in counts:
        offs.append((r["_pid"], acc))
        acc += r["c"]
    off_df = spark.createDataFrame(offs, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        parts.join(F.broadcast(off_df), "_pid")
        .withColumn(
            rank_col, (F.row_number().over(w) + F.col("_off")).cast("long")
        )
        .drop("_pid", "_off")
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    sort_col: str,
    id_col: str = "skey",
    window: int = 5,
    num_ranges: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): rank all
    records by ``sort_col`` (id tiebreak) and pair each with the next
    ``window - 1`` — the third classical blocking family next to token
    and LSH keys, catching near-misses that share a sort prefix but no
    whole token. Candidate volume is exactly n*(window-1) minus the tail,
    LINEAR in n — no block-size skew at all.

    Physical shape: global_rank's bounded-collect ranking, then the
    neighborhood expands as an explode of the next window-1 rank slots
    equi-joined back on rank — fan-out window-1, never a range join.
    Output (id_a, id_b, gap) with id_a the LOWER-ranked record."""
    if window < 2:
        # sequence(rank+1, rank+window-1) DESCENDS when window < 2 (Spark
        # sequences run backwards for b < a) — it would silently self-pair
        raise ValueError(f"window must be >= 2, got {window}")
    ranked = global_rank(records, [sort_col, id_col], num_ranges=num_ranges)
    left = ranked.select(
        F.col("rank").alias("r_a"),
        F.col(id_col).alias(f"{id_col}_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + window - 1)
        ).alias("r_b"),
    )
    right = ranked.select(
        F.col("rank").alias("r_b"), F.col(id_col).alias(f"{id_col}_b")
    )
    return left.join(right, "r_b").select(
        f"{id_col}_a",
        f"{id_col}_b",
        (F.col("r_b") - F.col("r_a")).cast("int").alias("gap"),
    )


def meta_blocking_wnp(keys: DataFrame, id_col: str = "skey") -> DataFrame:
    """Meta-blocking with weighted node pruning (Papadakis et al., TKDE
    2014): weight every co-blocked pair by its common-block count (CBS),
    then keep a pair iff its weight is >= the local mean weight of EITHER
    endpoint — the redundancy-positive prune that cuts the quadratic tail
    of low-signal candidates while keeping every pair that is strong for
    at least one of its nodes.

    ``keys``: (id, block_key), df-capped upstream. Output
    (id_a, id_b, cbs) for surviving pairs, id_a < id_b.

    Exactness: the mean comparison is done in integers —
    ``cbs * deg(node) >= sum_weights(node)`` — so an oracle can restate
    it bit-identically with no float threshold. Shape: one block
    self-join (bounded by the cap), one pair aggregate, one node
    aggregate over both pair directions, two broadcast-size joins back;
    no node ever compares against anything but its own incident pairs."""
    a = keys.select("block_key", F.col(id_col).alias("id_a"))
    b = keys.select("block_key", F.col(id_col).alias("id_b"))
    pairs = (
        a.join(b, "block_key")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("cbs"))
    )
    incident = pairs.select(F.col("id_a").alias("node"), "cbs").unionByName(
        pairs.select(F.col("id_b").alias("node"), "cbs")
    )
    stats = incident.groupBy("node").agg(
        F.count("*").alias("deg"), F.sum("cbs").alias("wsum")
    )
    return (
        pairs.join(
            stats.withColumnsRenamed(
                {"node": "id_a", "deg": "deg_a", "wsum": "wsum_a"}
            ),
            "id_a",
        )
        .join(
            stats.withColumnsRenamed(
                {"node": "id_b", "deg": "deg_b", "wsum": "wsum_b"}
            ),
            "id_b",
        )
        .where(
            (F.col("cbs") * F.col("deg_a") >= F.col("wsum_a"))
            | (F.col("cbs") * F.col("deg_b") >= F.col("wsum_b"))
        )
        .select("id_a", "id_b", "cbs")
    )


def key_size_histogram(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """(bucket_size, n_keys): EXACT histogram of per-key group sizes — the
    skew diagnostic to run before any keyed join/agg at scale (a fat tail
    here is what salting/AQE-skew-join exist for). Two aggregations, both
    with map-side partial combine; the histogram itself is tiny (distinct
    sizes), so no percentile-semantics ambiguity and bit-exact across
    engines."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_keys"))
    )


def block_stats(keys: DataFrame) -> DataFrame:
    """Block-size histogram (observability for the cap; A6-style aggregate)."""
    return (
        key_size_histogram(keys, ["block_key"])
        .select(F.col("bucket_size").alias("block_size"),
                F.col("n_keys").alias("n_blocks"))
        .orderBy("block_size")
    )


def candidate_pairs(keys: DataFrame) -> DataFrame:
    """Self-join within block keys -> canonical deduped pairs.

    Output: (skey_a, skey_b, surface_a, surface_b, block_key) with
    skey_a < skey_b and one row per pair (first block key wins,
    deterministically = min). AQE splits skewed block partitions at runtime.
    """
    a = keys.select(
        F.col("block_key"),
        F.col("skey").alias("skey_a"),
        F.col("surface").alias("surface_a"),
    )
    b = keys.select(
        F.col("block_key"),
        F.col("skey").alias("skey_b"),
        F.col("surface").alias("surface_b"),
    )
    pairs = a.join(b, "block_key").where(F.col("skey_a") < F.col("skey_b"))
    return pairs.groupBy("skey_a", "skey_b").agg(
        F.min("block_key").alias("block_key"),
        F.first("surface_a").alias("surface_a"),
        F.first("surface_b").alias("surface_b"),
    )


def candidate_pairs_salted(
    keys: DataFrame, hot_threshold: int = 256, n_salt: int = 8
) -> DataFrame:
    """Candidate pairs with explicit **triangle salting** for hot blocks
    (north rule: "salted keys + AQE skew-join handling for hot blocks").

    Blocks with more than ``hot_threshold`` members are split: each member
    gets a deterministic bucket b = h60(skey) mod n_salt, and the self-join
    runs on (block_key, i, j) for every bucket pair i <= j — the left side
    replicates a member with bucket b to keys (b, b..n-1), the right side to
    (0..b, b). A hot block's pair generation thus spreads over
    n(n+1)/2 reducers instead of one, with every canonical pair produced
    exactly once. Cold blocks keep the plain join. Semantics are identical
    to ``candidate_pairs`` (asserted in tests); only the physical key space
    changes — salting the join, never the blocking semantics (SURVEY.md
    section 4 item 1).
    """
    w = Window.partitionBy("block_key")
    sized = keys.withColumn("bsize", F.count("*").over(w))
    cold = sized.where(F.col("bsize") <= hot_threshold).drop("bsize")
    hot = sized.where(F.col("bsize") > hot_threshold).drop("bsize")

    cold_pairs = (
        cold.alias("a")
        .join(cold.alias("b"), "block_key")
        .where(F.col("a.skey") < F.col("b.skey"))
        .select(
            "block_key",
            F.col("a.skey").alias("skey_a"),
            F.col("a.surface").alias("surface_a"),
            F.col("b.skey").alias("skey_b"),
            F.col("b.surface").alias("surface_b"),
        )
    )

    bucket = (h60("skey") % F.lit(n_salt)).cast("int")
    hb = hot.withColumn("b", bucket)
    left = hb.select(
        "block_key", "skey", "surface", "b",
        F.explode(F.sequence(F.col("b"), F.lit(n_salt - 1))).alias("j"),
    ).withColumnRenamed("b", "i")
    right = hb.select(
        "block_key", "skey", "surface",
        F.explode(F.sequence(F.lit(0), F.col("b"))).alias("i"),
        F.col("b").alias("j"),
    )
    # a member with bucket b_x matches a member with bucket b_y >= b_x at
    # exactly (i, j) = (b_x, b_y): cross-bucket pairs (i != j) already appear
    # once, so only same-bucket combos need the ordering filter; the output
    # is canonicalized with least/greatest because the smaller skey can sit
    # in either bucket
    a_lt_b = F.col("a.skey") < F.col("b.skey")
    hot_pairs = (
        left.alias("a")
        .join(right.alias("b"), ["block_key", "i", "j"])
        .where((F.col("i") != F.col("j")) | a_lt_b)
        .where(F.col("a.skey") != F.col("b.skey"))
        .select(
            "block_key",
            F.least("a.skey", "b.skey").alias("skey_a"),
            F.when(a_lt_b, F.col("a.surface")).otherwise(F.col("b.surface")).alias("surface_a"),
            F.greatest("a.skey", "b.skey").alias("skey_b"),
            F.when(a_lt_b, F.col("b.surface")).otherwise(F.col("a.surface")).alias("surface_b"),
        )
    )
    both = cold_pairs.unionByName(hot_pairs)
    return both.groupBy("skey_a", "skey_b").agg(
        F.min("block_key").alias("block_key"),
        F.first("surface_a").alias("surface_a"),
        F.first("surface_b").alias("surface_b"),
    )


def surface_block_keys(
    surfaces: DataFrame,
    num_bands: int = 8,
    rows_per_band: int = 4,
    use_tokens: bool = True,
    use_lsh: bool = True,
) -> DataFrame:
    """UNCAPPED union of token + LSH band keys for a surface table — the
    shared key derivation. Compute once per surface set and reuse across
    consumers (pair blocking AND dictionary resolution block on the same
    keys; deriving them twice doubles the minhash cost of the pipeline)."""
    parts = []
    if use_tokens:
        parts.append(token_block_keys(surfaces))
    if use_lsh:
        parts.append(lsh_block_keys(surfaces, num_bands, rows_per_band))
    keys = parts[0]
    for p in parts[1:]:
        keys = keys.unionByName(p)
    return keys


def blocking_pairs(
    surfaces: DataFrame,
    max_block_size: int = 1000,
    use_tokens: bool = True,
    use_lsh: bool = True,
    num_bands: int = 8,
    rows_per_band: int = 4,
    hot_threshold: int | None = 256,
    n_salt: int = 8,
    keys: DataFrame | None = None,
) -> DataFrame:
    """Full blocking stage: union of token and LSH band keys, capped, paired
    (triangle-salted for blocks hotter than ``hot_threshold``; pass None to
    disable salting and rely on AQE alone). Pass precomputed ``keys``
    (surface_block_keys output) to skip re-deriving them."""
    if keys is None:
        keys = surface_block_keys(surfaces, num_bands, rows_per_band, use_tokens, use_lsh)
    capped = cap_blocks(keys, max_block_size)
    if hot_threshold is None:
        return candidate_pairs(capped)
    return candidate_pairs_salted(capped, hot_threshold, n_salt)

"""Mention extraction — the model-free replacement of the reference's spaCy
NER step (/root/reference/entity_linkings/pipeline.py:16-21 ``ner_predict``)
and marker parsing (cli/run_pipeline.py:50-56).

Implemented as a **pure Catalyst plan** (no Python anywhere):

  1. split each turn's text into space-tokens with exact char offsets, using a
     single ``aggregate()`` over the split array (cumulative-length scan) —
     no shuffle, no UDF;
  2. classify each token: *anchor* if any of its word-tokens appears in the
     (lowercased) dictionary token set; *name-like* if anchor, or capitalized
     non-stopword, or an initial ("A.");
  3. assemble maximal runs of adjacent name-like tokens into spans with the
     gaps-and-islands trick (row_number window per turn);
  4. keep islands containing >= 1 anchor (precision guard), extend a trailing
     '.' only for known abbreviation tokens, and slice the surface form back
     out of the turn text.

Scale notes (10^12 turns): the dictionary token set is attached as a literal
array (dimension-table derivative, fine to ~200k tokens; beyond that swap step
2 for an explode + broadcast-join + re-aggregate, same semantics). The window
in step 3 and the join in step 4 both hash-partition by (conv_id, turn_idx) —
with the transcript table bucketed by conv_id these become local. The guard
P8 (reference pipeline.py:43-45 raises on zero spans) becomes a metric, not an
exception: turns with no mentions simply produce no rows, and the lifecycle
layer logs extraction counts per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Small standard English stopword list: words never treated as name-like by
# capitalization alone (they can still anchor if a dictionary surface form
# contains them). Covers determiners / pronouns / modals / prepositions.
STOPWORDS = [
    "a", "an", "the", "this", "that", "these", "those", "i", "you", "he",
    "she", "it", "we", "they", "me", "him", "her", "us", "them", "my", "your",
    "his", "its", "our", "their", "is", "am", "are", "was", "were", "be",
    "been", "being", "do", "does", "did", "can", "could", "will", "would",
    "shall", "should", "may", "might", "must", "have", "has", "had", "in",
    "on", "at", "by", "for", "with", "about", "against", "between", "into",
    "through", "during", "before", "after", "above", "below", "to", "from",
    "up", "down", "out", "off", "over", "under", "again", "further", "then",
    "once", "here", "there", "when", "where", "why", "how", "and", "but",
    "or", "nor", "not", "no", "so", "if", "as", "of", "let", "according",
    "thanks", "running", "understood",
]

_WORD_STRUCT = "array<struct<w:string,s:int>>"


def words_with_offsets(text_col: str = "text") -> F.Column:
    """array<struct<w,s>> of non-empty space-tokens with 0-based char offsets.

    A single left-to-right aggregate over split(text, ' '): the accumulator
    carries (next_offset, collected_words); empty tokens (double spaces, e.g.
    from the duplicate-char typo class) advance the offset but emit nothing,
    so word indexes stay contiguous and islands are not broken.
    """
    return F.aggregate(
        F.split(F.col(text_col), " "),
        F.struct(
            F.lit(0).cast("int").alias("pos"),
            F.array().cast(_WORD_STRUCT).alias("arr"),
        ),
        lambda acc, w: F.struct(
            (acc["pos"] + F.length(w) + F.lit(1)).cast("int").alias("pos"),
            F.when(
                F.length(w) > 0,
                F.array_append(
                    acc["arr"], F.struct(w.alias("w"), acc["pos"].alias("s"))
                ),
            )
            .otherwise(acc["arr"])
            .alias("arr"),
        ),
        lambda acc: acc["arr"],
    )


def extract_mentions(
    transcripts: DataFrame,
    dict_tokens: list[str],
    abbrev_tokens: list[str] | None = None,
) -> DataFrame:
    """(conv_id, turn_idx, start, end, mention, mention_id) per detected span.

    ``dict_tokens`` and ``abbrev_tokens``: the lowercase anchor tokens and the
    tokens whose trailing '.' is part of the surface form, in that order the
    two lists of ``sources.dictionary.dictionary_token_sets``.
    """
    abbrev_tokens = abbrev_tokens or []

    toks = transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(words_with_offsets("text")).alias("widx", "tok"),
    )

    w = F.col("tok.w")
    core = F.regexp_extract(w, r"^[^\w]*([\w](?:[\w-]*[\w])?)", 1)
    lead = F.length(F.regexp_extract(w, r"^[^\w]*", 0))
    classified = toks.select(
        "conv_id",
        "turn_idx",
        "widx",
        core.alias("core"),
        (F.col("tok.s") + lead).alias("core_start"),
        w.substr(lead + F.length(core) + 1, F.lit(8)).alias("trail"),
    )

    core_tokens = F.regexp_extract_all(F.lower("core"), F.lit(r"[\w]+"), 0)
    anchor = F.arrays_overlap(core_tokens, F.lit(dict_tokens))
    capitalized = F.col("core").rlike(r"^[A-Z]")
    initial_dot = (
        (F.length("core") == 1) & capitalized & F.col("trail").startswith(".")
    )
    # Mid-sentence capitalized tokens are name-like even if stopwords ("Osaka
    # By" with a typo); sentence-initial capitalized tokens need the stopword
    # filter, else every "The ..." would seed an island.
    name_like = (
        anchor
        | initial_dot
        | (
            capitalized
            & (F.length("core") > 1)
            & ((F.col("widx") > 0) | ~F.lower("core").isin(STOPWORDS))
        )
    )
    abbrev_dot = F.col("trail").startswith(".") & F.lower("core").isin(
        abbrev_tokens
    ) if abbrev_tokens else F.lit(False)

    flagged = classified.withColumns(
        {"anchor": anchor, "abbrev_dot": abbrev_dot}
    ).where(name_like)

    # gaps-and-islands: adjacent name-like tokens share (widx - row_number)
    win = Window.partitionBy("conv_id", "turn_idx").orderBy("widx")
    islands = flagged.withColumn("grp", F.col("widx") - F.row_number().over(win))

    spans = (
        islands.groupBy("conv_id", "turn_idx", "grp")
        .agg(
            F.min("core_start").alias("start"),
            F.max(
                F.col("core_start")
                + F.length("core")
                + F.when(F.col("abbrev_dot"), 1).otherwise(0)
            ).alias("end"),
            F.max(F.col("anchor").cast("int")).alias("has_anchor"),
        )
        .where(F.col("has_anchor") == 1)
        .drop("grp", "has_anchor")
    )

    out = spans.join(
        transcripts.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    ).select(
        "conv_id",
        "turn_idx",
        F.col("start").cast("int").alias("start"),
        F.col("end").cast("int").alias("end"),
        F.expr("substring(text, start + 1, end - start)").alias("mention"),
    )
    return out.withColumn(
        "mention_id",
        F.md5(
            F.concat_ws(
                ":", "conv_id", F.col("turn_idx").cast("string"),
                F.col("start").cast("string"), F.col("end").cast("string"),
            )
        ),
    )

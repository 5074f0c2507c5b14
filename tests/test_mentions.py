"""Mention extraction: exact recovery of planted gold spans (the NER-
replacement contract) + hostile inputs."""

import datetime as dt

import pyspark.sql.functions as F

from entity_linkings_spark.operators.mentions import extract_mentions
from entity_linkings_spark.sources.dictionary import dictionary_token_sets
from entity_linkings_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def test_extraction_matches_gold_exactly(tiny):
    toks = dictionary_token_sets(tiny["dictionary"])[0]
    ab = dictionary_token_sets(tiny["dictionary"])[1]
    m = extract_mentions(tiny["transcripts"], toks, ab)
    j = m.join(tiny["gold"], ["conv_id", "turn_idx", "start", "end"], "full_outer")
    assert j.where(F.col("mention").isNull()).count() == 0  # no missed gold
    assert j.where(F.col("label").isNull()).count() == 0  # no spurious spans


def test_extraction_slices_match_text(tiny):
    # the (start, end) offsets must slice exactly the reported mention string
    m = extract_mentions(
        tiny["transcripts"],
        dictionary_token_sets(tiny["dictionary"])[0],
        dictionary_token_sets(tiny["dictionary"])[1],
    )
    j = m.join(tiny["transcripts"].select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    bad = j.where(
        F.expr("substring(text, start + 1, end - start)") != F.col("mention")
    ).count()
    assert bad == 0


def test_hostile_inputs(spark):
    rows = [
        ("c1", 0, "user", "", "", dt.datetime(2025, 1, 1)),
        ("c1", 1, "user", "...!!! ???", "", dt.datetime(2025, 1, 1)),
        ("c1", 2, "user", None, "", dt.datetime(2025, 1, 1)),
        ("c1", 3, "user", "Akira Tanaka", "", dt.datetime(2025, 1, 1)),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = extract_mentions(df, ["akira", "tanaka"], []).collect()
    assert len(out) == 1
    assert (out[0]["start"], out[0]["end"], out[0]["mention"]) == (0, 12, "Akira Tanaka")


def test_empty_dictionary_yields_no_mentions(spark):
    df = spark.createDataFrame(
        [("c1", 0, "user", "Akira Tanaka", "", dt.datetime(2025, 1, 1))], TRANSCRIPT_SCHEMA
    )
    assert extract_mentions(df, [], []).count() == 0


def test_extraction_hostile_inputs(spark):
    """Unicode tokens, 1000-char words, empty/whitespace-only turns: the
    extractor must neither crash nor emit malformed spans."""
    from entity_linkings_spark.operators.mentions import extract_mentions

    rows = [
        ("c1", 0, "日本語 テキスト Acme Systems のテスト"),
        ("c1", 1, "x" * 1000 + " Acme " + "y" * 1000),
        ("c1", 2, ""),
        ("c1", 3, "    "),
        ("c1", 4, "(((Acme))) !!! ... ---"),
    ]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = extract_mentions(tr, ["acme", "systems"]).collect()
    assert len(out) >= 2  # the Acme mentions surface
    for r in out:
        assert 0 <= r["start"] < r["end"]
        assert len(r["mention"]) == r["end"] - r["start"]
        assert "acme" in r["mention"].lower()

"""Entity dictionary source (S3) — the broadcast dimension of the pipeline.

Mirrors the reference's dictionary contract
(/root/reference/entity_linkings/data_utils/entity_dictionary.py:11-49):
rows ``{id, name, description}`` (+ ``aliases`` in our engine), with a NIL row
appended exactly as the reference ctor does at :38-42 (id ``-1``, name
``[NIL]``). The reference's two hash indexes (id_to_index / title_to_index,
:43-44) have no materialized equivalent — lookups are broadcast hash joins
(J1/J2) and Catalyst builds the hash table at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from entity_linkings_spark.functions.strings import tokenize

NIL_ID = "-1"
NIL_NAME = "[NIL]"

DICTIONARY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("aliases", T.ArrayType(T.StringType()), True),
    ]
)


def load_dictionary(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.schema(DICTIONARY_SCHEMA).parquet(path)
    return with_nil_row(spark, df)


def with_nil_row(spark: SparkSession, dic: DataFrame) -> DataFrame:
    """Append the NIL row if absent (U4: unionByName of a single-row DF)."""
    nil = spark.createDataFrame(
        [(NIL_ID, NIL_NAME, None, [])], schema=DICTIONARY_SCHEMA
    )
    return dic.where(F.col("id") != NIL_ID).unionByName(nil)


def with_default_description(dic: DataFrame) -> DataFrame:
    """Apply the reference's description template default
    (entity_dictionary.py:95-99: '"{name}" is an entity...')."""
    return dic.withColumn(
        "description",
        F.coalesce(
            F.col("description"),
            F.format_string('"%s" is an entity.', F.col("name")),
        ),
    )


def surface_forms(dic: DataFrame) -> DataFrame:
    """One row per known surface form (name + each alias), non-NIL."""
    return (
        dic.where(F.col("id") != NIL_ID)
        .select(
            "id",
            F.explode(
                F.array_union(F.array(F.col("name")), F.coalesce("aliases", F.array()))
            ).alias("surface"),
        )
    )


def dictionary_token_sets(dic: DataFrame, min_len: int = 2) -> tuple[list[str], list[str]]:
    """(word tokens, abbrev-dot tokens) of the dictionary's surface forms, in
    ONE Spark action.

    Word tokens: all distinct lowercase word tokens of names+aliases, length
    >= min_len (single-char tokens like the 'A' of 'A. Tanaka' would make
    every article an anchor — initials are handled by the extractor's
    initial-dot rule).

    Abbrev-dot tokens: lowercase tokens that appear immediately before a '.'
    inside any surface form (e.g. 'Sys' of 'Acme Sys.', 'A' of 'A. Tanaka').
    The extractor extends a mention span over a trailing '.' only for these,
    so sentence-final periods are never swallowed."""
    forms = surface_forms(dic)
    words = (
        forms.select(F.explode(tokenize("surface")).alias("tok"))
        .where(F.length("tok") >= min_len)
        .withColumn("kind", F.lit("w"))
    )
    abbrevs = forms.select(
        F.explode(
            F.regexp_extract_all(F.lower("surface"), F.lit(r"([\w]+)\."), 1)
        ).alias("tok"),
        F.lit("a").alias("kind"),
    )
    rows = words.unionByName(abbrevs).distinct().collect()
    return (
        sorted(r["tok"] for r in rows if r["kind"] == "w"),
        sorted(r["tok"] for r in rows if r["kind"] == "a"),
    )

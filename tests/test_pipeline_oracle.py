"""Flagship-oracle integrity: the SQL replica's stated assumptions hold on
the driver corpus, and the generated SQL is well-formed."""

import duckdb
import pytest


def test_part_dictionary_has_no_abbrev_dot_tokens(spark):
    """oracle_pipeline assumes the part-derived dictionary contains no
    abbreviation-dot surface forms (the extractor's abbrev-dot extension is
    a no-op); if part names ever grow dots this must fail loudly."""
    import __spark_entry__ as E
    from entity_linkings_spark.sources.dictionary import dictionary_token_sets

    dic = E._part_dictionary(spark, "/root/testdata/sf0.001")
    assert dictionary_token_sets(dic)[1] == []


@pytest.mark.parametrize("sf", ["0.001"])
def test_oracle_sql_parses_and_runs(sf):
    from entity_linkings_spark.oracle_pipeline import pipeline_linkage_sql

    con = duckdb.connect()
    for t in ("part", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf{sf}/{t}.parquet'"
        )
    df = con.execute(pipeline_linkage_sql()).df()
    assert len(df) > 1000
    assert sorted(df.columns) == [
        "cluster_id", "conv_id", "end", "entity_id",
        "mention", "mention_id", "score", "start", "turn_idx",
    ]
    # every mention resolved or explicitly NIL; scores in [0, 1]
    assert df["entity_id"].notna().all()
    assert ((df["score"] >= 0) & (df["score"] <= 1)).all()

"""Scorer unit tests: DuckDB is the independent oracle for Jaro-Winkler and
Levenshtein (same conventions: 0.7 boost threshold, empty-string -> 0), plus
hand-computed n-gram set math and batch-chunking boundaries. Mirrors the
reference's structural score assertions (metric ranges, pipeline_test.py:49-57).
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from entity_linkings_spark.operators.scoring import _CHUNK, score_batch


def _score(a, b):
    return score_batch(pd.Series([a]), pd.Series([b])).iloc[0]


def test_known_values_vs_duckdb():
    cases = [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("kitten", "sitting"),
        ("acme systems", "acme sytsems"),
        ("a", "a"),
        ("ab", ""),
        ("", ""),
        ("akira tanaka", "a. tanaka"),
    ]
    df = pd.DataFrame(cases, columns=["a", "b"])
    got = score_batch(df["a"], df["b"])
    con = duckdb.connect()
    con.register("t", df)
    exp = con.execute(
        "select jaro_winkler_similarity(a,b) jw, levenshtein(a,b) d from t"
    ).df()
    assert np.allclose(got["jaro_winkler"], exp["jw"], atol=1e-12)
    ml = np.maximum(df["a"].str.len(), df["b"].str.len()).clip(lower=1)
    assert np.allclose(got["lev_ratio"], 1 - exp["d"] / ml, atol=1e-12)


def test_random_fuzz_vs_duckdb():
    rng = np.random.default_rng(42)
    alpha = list("abcdefg hij")
    def rs():
        return "".join(rng.choice(alpha, size=rng.integers(0, 18))).strip()
    df = pd.DataFrame([(rs(), rs()) for _ in range(2000)], columns=["a", "b"])
    got = score_batch(df["a"], df["b"])
    con = duckdb.connect()
    con.register("t", df)
    exp = con.execute(
        "select jaro_winkler_similarity(a,b) jw, levenshtein(a,b) d from t"
    ).df()
    assert np.allclose(got["jaro_winkler"], exp["jw"], atol=1e-12)
    ml = np.maximum(df["a"].str.len(), df["b"].str.len()).clip(lower=1)
    assert np.allclose(got["lev_ratio"], 1 - exp["d"] / ml, atol=1e-12)


def test_ngram_set_math():
    # "abcd" grams {abc,bcd}; "abce" grams {abc,bce}: inter=1, union=3
    r = _score("abcd", "abce")
    assert r["ngram_jaccard"] == pytest.approx(1 / 3)
    assert r["ngram_cosine"] == pytest.approx(1 / 2)  # 1/sqrt(2*2)
    # identical strings
    r2 = _score("hello", "hello")
    assert r2["ngram_cosine"] == pytest.approx(1.0)
    assert r2["ngram_jaccard"] == pytest.approx(1.0)
    assert r2["combined"] == pytest.approx(1.0)


def test_scores_bounded_unit_interval():
    rng = np.random.default_rng(7)
    alpha = list("abcde ")
    df = pd.DataFrame(
        [
            ("".join(rng.choice(alpha, size=rng.integers(0, 30))),
             "".join(rng.choice(alpha, size=rng.integers(0, 30))))
            for _ in range(500)
        ],
        columns=["a", "b"],
    )
    got = score_batch(df["a"], df["b"])
    for c in got.columns:
        assert (got[c] >= 0).all() and (got[c] <= 1).all(), c


def test_chunk_boundary():
    n = _CHUNK + 17  # force two internal chunks
    df = pd.DataFrame({"a": ["alpha"] * n, "b": ["alphb"] * n})
    got = score_batch(df["a"], df["b"])
    assert got["jaro_winkler"].nunique() == 1
    assert len(got) == n


def test_long_string_truncation_safe():
    r = _score("x" * 500, "x" * 499 + "y")
    assert r["combined"] > 0.9  # truncated at MAXLEN, still sane

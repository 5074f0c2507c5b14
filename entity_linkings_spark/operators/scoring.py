"""Pairwise similarity scoring — the single Arrow/pandas-UDF boundary of the
scored path (BASELINE.json: "no per-row Python anywhere").

Replaces the reference's neural pair scorers (cross-encoder forward at
/root/reference/entity_linkings/candidate_reranker/crossencoder/crossencoder.py:142-162,
FEVRY span scorer fevry/fevry.py:139-157) with deterministic string-similarity
features computed **batch-at-a-time in numpy** — no Python-level loop over
rows anywhere:

  * Levenshtein ratio — DP vectorized across the whole batch: the classic
    row recurrence is broken into a substitution/deletion minimum (pure
    elementwise) plus an insertion pass expressed as a prefix-scan
    ``min-accumulate(row - j) + j``, so the only loop is over the <=64
    character positions, never over pairs.
  * Jaro-Winkler — windowed greedy matching vectorized the same way: the
    loop is over character positions; candidate masks, matched-flag updates
    and transposition counting are (batch, L) numpy ops.
  * Character n-gram cosine + Jaccard — n-grams encoded as uint64
    (c0*2^42 + c1*2^21 + c2), set-deduped by row-sort, intersected via a
    (batch, L, L) equality tensor; every gram weighs the same.

Strings are scored on their normalized (lowercased, trimmed) surfaces and
truncated to MAXLEN=64 chars (mention surfaces are short; the cap bounds the
tensor sizes). Batches are internally chunked to keep the (chunk, L, L)
tensors under ~100 MB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAXLEN = 64
# 2048-pair chunks keep the per-chunk tensor working set inside shared L3
# even with 16-32 concurrent workers — measured best per-worker throughput
# retention under parallelism (the scorer is memory-bandwidth-bound)
_CHUNK = 2048
_NGRAM_SHIFT = 2**21  # > max unicode codepoint

SCORE_SCHEMA = T.StructType(
    [
        T.StructField("jaro_winkler", T.DoubleType()),
        T.StructField("lev_ratio", T.DoubleType()),
        T.StructField("osa_ratio", T.DoubleType()),
        T.StructField("ngram_cosine", T.DoubleType()),
        T.StructField("ngram_jaccard", T.DoubleType()),
        T.StructField("combined", T.DoubleType()),
    ]
)

# combined-score blend, grid-calibrated against the synthetic gold
# (tests/test_pipeline): the edit-distance component is OSA (Damerau with
# non-overlapping transpositions) because mention typos are dominated by
# transpositions, which plain Levenshtein double-counts ("omra"/"omar" = 2
# vs OSA 1) — and 3-gram cosine actively prefers the WRONG candidate on a
# transposed site (it destroys 3 shingles), so set-Jaccard carries the
# n-gram evidence instead.
W_JW, W_OSA, W_COS, W_JAC = 0.35, 0.45, 0.0, 0.20


def _char_matrix(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(codes[N, MAXLEN] codepoints 0-padded, lengths[N]). Codes shrink to
    uint16 when the chunk is BMP-only (the overwhelmingly common case) —
    smaller dtypes matter because the (N, L, L) comparison tensors are the
    scorer's main memory traffic."""
    vals = s.fillna("").str.slice(0, MAXLEN)
    u = np.asarray(vals.to_numpy(dtype=object), dtype=f"<U{MAXLEN}")
    codes = u.view(np.uint32).reshape(len(u), MAXLEN)
    lengths = (codes > 0).sum(axis=1).astype(np.int32)
    if codes.max(initial=0) < 65536:
        codes = codes.astype(np.uint16)
    return codes, lengths


def _levenshtein(A, la, B, lb) -> np.ndarray:
    """Edit distance per row; loops over character positions only.
    int16 DP (distances <= MAXLEN) halves memory traffic — the scorer is
    memory-bandwidth-bound at high worker counts."""
    n, L = A.shape
    j = np.arange(L + 1, dtype=np.int16)
    dp = np.broadcast_to(j, (n, L + 1)).astype(np.int16).copy()
    out = dp.copy()  # rows with la == 0
    max_la = int(la.max(initial=0))
    for i in range(1, max_la + 1):
        cost = (A[:, i - 1, None] != B).astype(np.int16)
        cand = np.minimum(dp[:, :-1] + cost, dp[:, 1:] + np.int16(1))
        row = np.concatenate([np.full((n, 1), i, np.int16), cand], axis=1)
        # insertion pass: dp[j] = min(dp[j-1]+1, row[j]) as a prefix scan
        dp = np.minimum.accumulate(row - j, axis=1) + j
        done = la == i
        if done.any():
            out[done] = dp[done]
    return out[np.arange(n), lb].astype(np.int32)


def _osa(A, la, B, lb) -> np.ndarray:
    """Optimal-string-alignment distance (Damerau, non-overlapping
    transpositions) per row — same prefix-scan vectorization as
    ``_levenshtein`` with a dp[i-2][j-2]+1 transposition term folded into
    the pre-scan minimum."""
    n, L = A.shape
    j = np.arange(L + 1, dtype=np.int16)
    dp = np.broadcast_to(j, (n, L + 1)).astype(np.int16).copy()
    dp2 = None  # dp from two rows back
    out = dp.copy()
    max_la = int(la.max(initial=0))
    for i in range(1, max_la + 1):
        cost = (A[:, i - 1, None] != B).astype(np.int16)
        cand = np.minimum(dp[:, :-1] + cost, dp[:, 1:] + np.int16(1))
        if i >= 2:
            # transposition a[i-2:i] <-> b[j-2:j]: cand column jj maps to
            # j = jj+1, so for jj >= 1 the condition is
            # a[i-1] == b[j-2] (= B[:, jj-1]) and a[i-2] == b[j-1] (= B[:, jj]),
            # candidate value dp[i-2][j-2] + 1 (= dp2[:, jj-1] + 1)
            tmask = (A[:, i - 1, None] == B[:, :-1]) & (A[:, i - 2, None] == B[:, 1:])
            trans = np.full_like(cand, np.int16(MAXLEN + 1))
            trans[:, 1:] = np.where(tmask, dp2[:, : L - 1] + np.int16(1), np.int16(MAXLEN + 1))
            cand = np.minimum(cand, trans)
        row = np.concatenate([np.full((n, 1), i, np.int16), cand], axis=1)
        dp2 = dp
        dp = np.minimum.accumulate(row - j, axis=1) + j
        done = la == i
        if done.any():
            out[done] = dp[done]
    return out[np.arange(n), lb].astype(np.int32)


def _jaro_winkler(A, la, B, lb) -> np.ndarray:
    n, L = A.shape
    valid_a = np.arange(L) < la[:, None]
    valid_b = np.arange(L) < lb[:, None]
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    ij = np.abs(np.arange(L)[:, None] - np.arange(L)[None, :])
    M = (
        (A[:, :, None] == B[:, None, :])
        & valid_a[:, :, None]
        & valid_b[:, None, :]
        & (ij[None, :, :] <= window[:, None, None])
    )
    matched_b = np.zeros((n, L), bool)
    a_match = np.full((n, L), -1, np.int32)
    rows = np.arange(n)
    for i in range(int(la.max(initial=0))):
        cand = M[:, i, :] & ~matched_b
        jj = cand.argmax(axis=1)
        has = cand[rows, jj]
        matched_b[rows[has], jj[has]] = True
        a_match[has, i] = jj[has]
    m = (a_match >= 0).sum(axis=1)

    # compact matched chars preserving order (stable argsort pushes them left)
    ord_a = np.argsort(a_match < 0, axis=1, kind="stable")
    seq_a = np.take_along_axis(np.where(a_match >= 0, A, 0), ord_a, axis=1)
    ord_b = np.argsort(~matched_b, axis=1, kind="stable")
    seq_b = np.take_along_axis(np.where(matched_b, B, 0), ord_b, axis=1)
    t = ((seq_a != seq_b) & (seq_a > 0)).sum(axis=1) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        mf = m.astype(np.float64)
        jaro = (mf / la + mf / lb + (mf - t) / mf) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)  # empty strings score 0.0 (DuckDB-compatible)

    # Winkler prefix boost, applied only above the 0.7 boost threshold
    # (the standard convention; verified bit-identical to DuckDB)
    pref_eq = (A[:, :4] == B[:, :4]) & (A[:, :4] > 0)
    prefix = np.minimum(np.cumprod(pref_eq, axis=1).sum(axis=1), 4)
    return np.where(jaro > 0.7, jaro + prefix * 0.1 * (1.0 - jaro), jaro)


def _ngram_codes(A: np.ndarray, la: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 3-gram codes per row (deduped-ready), invalid slots = UINT64MAX.
    Strings shorter than 3 chars contribute their whole padded form as one
    code (mirrors functions.strings.char_ngrams); empty strings contribute
    ZERO grams (the all-zero padding code is not a gram — two blanks must not
    read as a perfect n-gram match)."""
    a = A.astype(np.uint64)
    g = a[:, :-2] * (_NGRAM_SHIFT**2) + a[:, 1:-1] * _NGRAM_SHIFT + a[:, 2:]
    n, Lg = g.shape
    valid = np.arange(Lg) < np.where(la == 0, 0, np.maximum(la - 2, 1))[:, None]
    g = np.where(valid, g, np.uint64(np.iinfo(np.uint64).max))
    g.sort(axis=1)
    # compact: invalid sentinels sorted to the right, slice to widest row
    width = max(int(valid.sum(axis=1).max(initial=1)), 1)
    g = g[:, :width]
    first = np.ones_like(g, bool)
    first[:, 1:] = g[:, 1:] != g[:, :-1]
    dedup_valid = first & (g != np.iinfo(np.uint64).max)
    return g, dedup_valid


def _ngram_scores(A, la, B, lb, need_cos: bool = True):
    ga, va = _ngram_codes(A, la)
    gb, vb = _ngram_codes(B, lb)
    eq = (ga[:, :, None] == gb[:, None, :]) & va[:, :, None] & vb[:, None, :]
    has = eq.any(axis=2)
    inter = has.sum(axis=1).astype(np.float64)
    ca, cb = va.sum(axis=1), vb.sum(axis=1)
    union = ca + cb - inter
    # masked divide (np.where evaluates inter/union BEFORE masking, emitting
    # RuntimeWarning on the union==0 lanes even though they are discarded)
    jac = np.divide(inter, union, out=np.zeros_like(inter), where=union > 0)
    if not need_cos:
        # cosine weight is 0: skip the cosine entirely (the combined blend is
        # unchanged because x + 0.0*cos == x for any finite cos)
        return np.zeros(len(la)), jac
    # deduped grams weigh 1 each: the dot product is the intersection size
    # and each norm the square root of the gram count
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where((ca > 0) & (cb > 0), inter / (np.sqrt(ca) * np.sqrt(cb)), 0.0)
    # float round-trip can land a hair above 1 (sqrt(3)*sqrt(3) < 3)
    cos = np.clip(cos, 0.0, 1.0)
    return cos, jac


def score_batch(sa: pd.Series, sb: pd.Series, need_cos: bool = True) -> pd.DataFrame:
    """Score one Arrow batch of surface pairs; returns the SCORE_SCHEMA frame.

    ``need_cos=False`` (valid only when W_COS == 0) skips the cosine —
    ngram_cosine comes back 0.0 and ``combined`` is unchanged. Used by the
    combined-only hot path; the full-schema UDF always computes it.
    """
    out = {k.name: np.empty(len(sa)) for k in SCORE_SCHEMA.fields}
    for lo in range(0, len(sa), _CHUNK):
        hi = min(lo + _CHUNK, len(sa))
        A, la = _char_matrix(sa.iloc[lo:hi])
        B, lb = _char_matrix(sb.iloc[lo:hi])
        # slice to the chunk's effective max length: tensor costs are
        # quadratic in L, and mention surfaces are much shorter than MAXLEN.
        # Floor of 3 keeps the n-gram code matrix (width L-2) non-empty even
        # for a chunk of sub-3-char strings.
        Lm = max(int(la.max(initial=1)), int(lb.max(initial=1)), 3)
        A, B = A[:, :Lm], B[:, :Lm]
        jw = _jaro_winkler(A, la, B, lb)
        ml = np.maximum(np.maximum(la, lb), 1)
        lev = 1.0 - _levenshtein(A, la, B, lb) / ml
        osa = 1.0 - _osa(A, la, B, lb) / ml
        cos, jac = _ngram_scores(A, la, B, lb, need_cos)
        out["jaro_winkler"][lo:hi] = jw
        out["lev_ratio"][lo:hi] = lev
        out["osa_ratio"][lo:hi] = osa
        out["ngram_cosine"][lo:hi] = cos
        out["ngram_jaccard"][lo:hi] = jac
        out["combined"][lo:hi] = W_JW * jw + W_OSA * osa + W_COS * cos + W_JAC * jac
    return pd.DataFrame(out)


def make_scorer_udf(combined_only: bool = False):
    """Build the pandas UDF. ``combined_only=True`` returns a single double
    instead of the 5-field struct — 1/5 the Arrow result bandwidth for hot
    paths that only threshold on the blended score."""
    if combined_only:
        # cosine contributes to `combined` only via W_COS: with a zero
        # weight it is dead compute for a combined-only caller
        need_cos = W_COS != 0.0

        @F.pandas_udf("double")
        def pair_score_combined(sa: pd.Series, sb: pd.Series) -> pd.Series:
            return score_batch(sa, sb, need_cos)["combined"]

        return pair_score_combined

    @F.pandas_udf(SCORE_SCHEMA)
    def pair_score(sa: pd.Series, sb: pd.Series) -> pd.DataFrame:
        return score_batch(sa, sb)

    return pair_score


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Attach the score struct columns to a candidate-pair DataFrame."""
    udf = make_scorer_udf()
    scored = pairs.withColumn("score", udf(F.col("surface_a"), F.col("surface_b")))
    return scored.select("*", "score.*").drop("score")


def score_pairs_combined(pairs: DataFrame) -> DataFrame:
    """Attach only the blended ``combined`` column — 1/5 the Arrow result
    bandwidth and (with W_COS == 0) no cosine. The hot path for consumers
    that threshold/argmax on the blend (pipeline ``resolve()``)."""
    udf = make_scorer_udf(combined_only=True)
    return pairs.withColumn("combined", udf(F.col("surface_a"), F.col("surface_b")))

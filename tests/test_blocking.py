"""Blocking: pair canonicality, block-size cap, LSH banding behavior, and
perfect recall of labeled matches on the tiny dataset."""

import pyspark.sql.functions as F

from entity_linkings_spark.operators import blocking as B
from entity_linkings_spark.operators.evaluate import gold_surface_pairs
from entity_linkings_spark.operators.mentions import extract_mentions
from entity_linkings_spark.sources.dictionary import dictionary_token_sets


def _surfaces(spark, rows):
    return (
        spark.createDataFrame([(s,) for s in rows], ["surface"])
        .withColumn("skey", F.md5("surface"))
        .withColumn("n_instances", F.lit(1))
    )


def test_pairs_canonical_and_deduped(spark):
    sf = _surfaces(spark, ["acme systems", "acme labs", "acme systms"])
    pairs = B.blocking_pairs(sf, max_block_size=100).collect()
    seen = set()
    for p in pairs:
        assert p["skey_a"] < p["skey_b"]
        assert (p["skey_a"], p["skey_b"]) not in seen
        seen.add((p["skey_a"], p["skey_b"]))
    # all three share the 'acme' token -> all 3 pairs
    assert len(pairs) == 3


def test_block_cap_drops_hot_blocks(spark):
    sf = _surfaces(spark, [f"common name{i}" for i in range(20)])
    keys = B.token_block_keys(sf)
    capped = B.cap_blocks(keys, max_block_size=10)
    # 'common' block (20 members) must be gone; the unique nameN blocks are
    # singletons and are dropped by the >=2 rule
    assert capped.where(F.col("block_key") == "tok:common").count() == 0


def test_lsh_bands_pair_similar_strings(spark):
    sf = _surfaces(spark, ["jonathan smithers", "jonathan smithersx", "zzzz qqqq"])
    keys = B.lsh_block_keys(sf, num_bands=8, rows_per_band=2)
    pairs = B.candidate_pairs(B.cap_blocks(keys, 100))
    got = {
        tuple(sorted((r["surface_a"], r["surface_b"]))) for r in pairs.collect()
    }
    assert ("jonathan smithers", "jonathan smithersx") in got
    assert all("zzzz qqqq" not in p for p in got)


def test_blocking_recall_on_tiny(tiny):
    m = extract_mentions(
        tiny["transcripts"],
        dictionary_token_sets(tiny["dictionary"])[0],
        dictionary_token_sets(tiny["dictionary"])[1],
    )
    sf = B.distinct_surfaces(m)
    cand = B.blocking_pairs(sf).select("skey_a", "skey_b")
    lp = gold_surface_pairs(tiny["gold"], tiny["transcripts"])
    missed = lp.where("is_match").join(cand, ["skey_a", "skey_b"], "left_anti").count()
    assert missed == 0


def test_block_stats_histogram(spark):
    sf = _surfaces(spark, ["a b", "a c", "a d"])  # 'a' dropped (len<2)... use longer
    sf = _surfaces(spark, ["aa bb", "aa cc", "aa dd"])
    keys = B.token_block_keys(sf)
    hist = {r["block_size"]: r["n_blocks"] for r in B.block_stats(keys).collect()}
    assert hist[3] == 1  # the 'aa' block
    assert hist[1] == 3  # bb/cc/dd singletons


def test_salted_pairs_equal_plain(spark):
    """Triangle salting changes only the physical join keys — the pair set
    (including block_key attribution) must be identical to the plain join."""
    rows = [f"hotkey word{i}" for i in range(150)] + [f"cold{j} item{j % 5}" for j in range(40)]
    sf = _surfaces(spark, rows)
    keys = B.cap_blocks(B.token_block_keys(sf), 1000)
    cols = ["skey_a", "skey_b", "block_key", "surface_a", "surface_b"]
    plain = B.candidate_pairs(keys).select(*cols)
    salted = B.candidate_pairs_salted(keys, hot_threshold=30, n_salt=4).select(*cols)
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    assert plain.count() == salted.count() > 0


def test_global_rank_matches_total_order_any_partitioning(spark):
    """global_rank == the position in the (key, id) total order, regardless
    of how many range partitions the sampler chose — the rank is a
    function of the order, not the boundaries."""
    import random

    rng = random.Random(7)
    rows = [(f"s{rng.randint(0, 999):03d}", f"id{i:03d}") for i in range(157)]
    df = spark.createDataFrame(rows, "k string, id string")
    want = {t: i + 1 for i, t in enumerate(sorted(rows))}
    for n in (1, 3, 8):
        got = {(r["k"], r["id"]): r["rank"]
               for r in B.global_rank(df, ["k", "id"], num_ranges=n).collect()}
        assert got == want, f"num_ranges={n}"


def test_sorted_neighborhood_pairs_exact_window(spark):
    """Every record pairs with exactly the next window-1 by sort order
    (short tail at the end), gaps are 1..window-1, and the pair set is
    identical across partition counts."""
    rows = [(f"n{i:02d}", f"k{i:02d}") for i in range(11)]
    df = spark.createDataFrame(rows, "surface string, skey string")
    got = {(r["skey_a"], r["skey_b"], r["gap"])
           for r in B.sorted_neighborhood_pairs(
               df, "surface", "skey", window=4, num_ranges=3).collect()}
    want = {(f"k{i:02d}", f"k{j:02d}", j - i)
            for i in range(11) for j in range(i + 1, min(i + 4, 11))}
    assert got == want
    got2 = {(r["skey_a"], r["skey_b"], r["gap"])
            for r in B.sorted_neighborhood_pairs(
                df, "surface", "skey", window=4, num_ranges=7).collect()}
    assert got2 == want


def test_meta_blocking_wnp_hand_computed(spark):
    """WNP on a hand-checkable graph: pairs weighted by common-block count;
    a pair survives iff its weight reaches the local MEAN of either
    endpoint (integer comparison cbs*deg >= wsum). Corpus: x,y share 2
    blocks; x,z and y,z share 1; w pairs with z only (1). Means: x,y =
    3/2 -> their weight-2 pair survives and their weight-1 pairs to z
    fail BOTH endpoint tests at z's side too (z mean = 1 -> z keeps
    them). OR semantics: kept."""
    keys = spark.createDataFrame(
        [("x", "b1"), ("y", "b1"), ("x", "b2"), ("y", "b2"),
         ("x", "b3"), ("z", "b3"), ("y", "b4"), ("z", "b4"),
         ("w", "b5"), ("z", "b5")],
        "skey string, block_key string",
    )
    got = {(r["id_a"], r["id_b"]): r["cbs"]
           for r in B.meta_blocking_wnp(keys).collect()}
    # all pairs: (x,y):2, (x,z):1, (y,z):1, (w,z):1
    # means: x 4/3, y 4/3, z 3/3=1, w 1
    # (x,y): 2 >= 4/3 -> kept; (x,z): 1 < 4/3 at x BUT 1 >= 1 at z -> kept
    # (y,z), (w,z): kept via z/w side
    assert got == {("x", "y"): 2, ("x", "z"): 1, ("y", "z"): 1, ("w", "z"): 1}
    # now isolate a genuinely prunable pair: attach z to a high-weight hub
    # so z's mean rises above 1 while x keeps its own mean above 1
    keys2 = spark.createDataFrame(
        [("x", "b1"), ("y", "b1"), ("x", "b2"), ("y", "b2"),
         ("x", "b3"), ("z", "b3"),
         ("z", "c1"), ("h", "c1"), ("z", "c2"), ("h", "c2"),
         ("z", "c3"), ("h", "c3")],
        "skey string, block_key string",
    )
    got2 = {(r["id_a"], r["id_b"]): r["cbs"]
            for r in B.meta_blocking_wnp(keys2).collect()}
    # pairs: (x,y):2, (x,z):1, (h,z):3; means: x 3/2, z 4/2=2, y 2, h 3
    # (x,z): 1 < 3/2 AND 1 < 2 -> PRUNED; others kept
    assert got2 == {("x", "y"): 2, ("h", "z"): 3}


def _wnp_py(keys):
    """Pure-Python WNP model: weight = common-block count, keep a pair iff
    weight >= local mean of either endpoint (integer form)."""
    from collections import defaultdict
    from itertools import combinations

    blocks = defaultdict(set)
    for k, b in keys:
        blocks[b].add(k)
    w = defaultdict(int)
    for mem in blocks.values():
        for x, y in combinations(sorted(mem), 2):
            w[(x, y)] += 1
    deg, s = defaultdict(int), defaultdict(int)
    for (x, y), c in w.items():
        deg[x] += 1
        deg[y] += 1
        s[x] += c
        s[y] += c
    return {p: c for p, c in w.items()
            if c * deg[p[0]] >= s[p[0]] or c * deg[p[1]] >= s[p[1]]}


def test_meta_blocking_wnp_matches_model_random(spark):
    """Spark WNP == the pure-Python model on seeded random key tables
    (varied block sizes, overlapping memberships, isolated records)."""
    import random

    for seed in range(6):
        rng = random.Random(seed)
        keys = sorted({
            (f"r{rng.randint(0, 25):02d}", f"b{rng.randint(0, 12):02d}")
            for _ in range(rng.randint(5, 60))
        })
        df = spark.createDataFrame(keys, "skey string, block_key string")
        got = {(r["id_a"], r["id_b"]): r["cbs"]
               for r in B.meta_blocking_wnp(df).collect()}
        assert got == _wnp_py(keys), f"seed={seed}"


def test_sorted_neighborhood_rejects_degenerate_window(spark):
    import pytest as _pytest

    df = spark.createDataFrame([("a", "k1")], "surface string, skey string")
    with _pytest.raises(ValueError, match="window"):
        B.sorted_neighborhood_pairs(df, "surface", "skey", window=1)


def _blocking_quality_py(records, keys):
    """Pure-Python model: records = {skey: entity}, keys = [(scheme, skey,
    bkey)] distinct."""
    from collections import defaultdict
    from itertools import combinations

    blocks = defaultdict(set)
    for sch, k, b in keys:
        blocks[(sch, b)].add(k)
    cand = defaultdict(set)
    for (sch, _), mem in blocks.items():
        for x, y in combinations(sorted(mem), 2):
            cand[sch].add((x, y))
    n = len(records)
    total = n * (n - 1) // 2
    per_ent = defaultdict(int)
    for e in records.values():
        per_ent[e] += 1
    gold = sum(m * (m - 1) // 2 for m in per_ent.values())
    out = {}
    # every scheme PRESENT IN KEYS gets a row — a scheme whose blocks are
    # all singletons reports (0 cand, 0 hits, PQ 0.0), it does not vanish
    for sch in {s for s, _, _ in keys}:
        pairs = cand.get(sch, set())
        hits = sum(records[a] == records[b] for a, b in pairs)
        out[sch] = (n, gold, len(pairs), hits,
                    hits / gold, hits / len(pairs) if pairs else 0.0,
                    (total - len(pairs)) / total)
    return out


def test_blocking_quality_matches_model_random(spark):
    from entity_linkings_spark.operators.evaluate import blocking_quality
    import random

    for seed in range(5):
        rng = random.Random(seed)
        records = {f"r{i:02d}": f"e{rng.randint(0, 6)}" for i in range(20)}
        keys = sorted({
            (rng.choice("AB"), rng.choice(list(records)), f"b{rng.randint(0, 8)}")
            for _ in range(rng.randint(10, 60))
        })
        rdf = spark.createDataFrame(list(records.items()),
                                    "skey string, entity_id string")
        kdf = spark.createDataFrame(keys, "scheme string, skey string, bkey string")
        got = {r["scheme"]: (r["n_records"], r["n_gold_pairs"], r["n_cand_pairs"],
                             r["n_hit_pairs"], r["pair_completeness"],
                             r["pair_quality"], r["reduction_ratio"])
               for r in blocking_quality(rdf, kdf).collect()}
        assert got == _blocking_quality_py(records, keys), f"seed={seed}"


def test_global_rank_empty_input(spark):
    df = spark.createDataFrame([], "k string, id string")
    assert B.global_rank(df, ["k", "id"]).count() == 0
    assert B.sorted_neighborhood_pairs(df, "k", "id").count() == 0


# ---------------------------------------------------------------------------
# greedy blocking-scheme selection (weighted set cover over gold pairs)
# ---------------------------------------------------------------------------

def _select_model(records, keys, target=0.95, max_schemes=None):
    """Reference greedy: most uncovered gold pairs, ties -> lower sum
    C(block,2) cost, then name."""
    from collections import defaultdict
    from itertools import combinations

    ents = defaultdict(list)
    for skey, ent in records:
        ents[ent].append(skey)
    gold = set()
    for members in ents.values():
        for a, b in combinations(sorted(members), 2):
            gold.add((a, b))
    blocks = defaultdict(set)
    for scheme, skey, bkey in keys:
        blocks[(scheme, bkey)].add(skey)
    cov = defaultdict(set)
    costs = defaultdict(int)
    for (scheme, _), members in blocks.items():
        costs[scheme] += len(members) * (len(members) - 1) // 2
        for a, b in combinations(sorted(members), 2):
            if (a, b) in gold:
                cov[scheme].add((a, b))
    rows, covered, chosen = [], set(), set()
    while max_schemes is None or len(rows) < max_schemes:
        marg = {s: len(c - covered) for s, c in cov.items()
                if s not in chosen and c - covered}
        if not marg:
            break
        best = min(marg, key=lambda s: (-marg[s], costs[s], s))
        chosen.add(best)
        covered |= cov[best]
        rows.append((len(rows) + 1, best, marg[best], len(covered)))
        if len(covered) / len(gold) >= target:
            break
    return rows


def _run_select(spark, records, keys, **kw):
    from entity_linkings_spark.operators.evaluate import select_blocking_schemes

    r = spark.createDataFrame(records, "skey string, entity_id string")
    k = spark.createDataFrame(keys, "scheme string, skey string, bkey string")
    return [
        (x["step"], x["scheme"], x["marginal_covered"], x["cum_covered"])
        for x in select_blocking_schemes(r, k, **kw)
        .orderBy("step")
        .collect()
    ]


def test_select_schemes_hand_case(spark):
    # entity e1 = {a, b, c}; gold pairs: ab, ac, bc. Scheme tok covers all
    # three in one block of 4 (cost 6); scheme init covers only ab (block
    # of 2, cost 1); scheme zip covers nothing. Greedy: tok first (3 > 1),
    # then nothing left -> init never selected, zip never appears.
    records = [("a", "e1"), ("b", "e1"), ("c", "e1"), ("d", "e2")]
    keys = [
        ("tok", s, "t1") for s in "abcd"
    ] + [("init", "a", "i1"), ("init", "b", "i1"),
         ("zip", "a", "z1"), ("zip", "d", "z2")]
    got = _run_select(spark, records, keys, target_completeness=1.0)
    assert got == [(1, "tok", 3, 3)]


def test_select_schemes_cost_tiebreak_and_union(spark):
    # two schemes each cover one distinct gold pair; equal marginals ->
    # the CHEAPER (smaller blocks) scheme goes first; both needed for
    # full completeness
    records = [("a", "e1"), ("b", "e1"), ("c", "e2"), ("d", "e2")]
    keys = [
        # expensive: covers (a,b), block of 3 -> cost 3
        ("exp", "a", "x"), ("exp", "b", "x"), ("exp", "d", "x"),
        # cheap: covers (c,d), block of 2 -> cost 1
        ("chp", "c", "y"), ("chp", "d", "y"),
    ]
    got = _run_select(spark, records, keys, target_completeness=1.0)
    assert [g[1] for g in got] == ["chp", "exp"]
    assert got[-1][3] == 2  # both gold pairs covered


def test_select_schemes_target_stops_early(spark):
    records = [("a", "e1"), ("b", "e1"), ("c", "e2"), ("d", "e2")]
    keys = [("s1", "a", "k"), ("s1", "b", "k"),
            ("s2", "c", "k2"), ("s2", "d", "k2")]
    got = _run_select(spark, records, keys, target_completeness=0.5)
    assert len(got) == 1  # half the gold pairs suffice


def test_select_schemes_random_parity(spark):
    import random

    rng = random.Random(47)
    for trial in range(3):
        n_rec, n_ent, n_scheme = 14, 5, 4
        records = [(f"r{i:02d}", f"e{rng.randint(0, n_ent - 1)}")
                   for i in range(n_rec)]
        keys = []
        for s in range(n_scheme):
            for skey, _ in records:
                if rng.random() < 0.6:
                    keys.append((f"s{s}", skey, f"b{rng.randint(0, 3)}"))
        keys = list(set(keys))
        got = _run_select(spark, records, keys, target_completeness=1.0)
        want = _select_model(records, keys, target=1.0)
        assert got == want, f"trial {trial}"

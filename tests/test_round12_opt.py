"""Round-12 optimization pins.

Starts with the plan-capture provenance guard the r11 verdict asked
for: commit `d57f1ce` overwrote plans/r11/q21_waiting_suppliers_
before.txt with the after-plan, so the committed "before" evidence was
byte-identical to the "after" and proved nothing. The guard makes that
class of clobber a test failure: any <q>_before.txt with a sibling
<q>_after.txt must differ (an identical pair means the capture step
re-ran on the wrong tree).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = os.path.join(REPO, "plans")


def test_before_after_plan_captures_differ():
    pairs = 0
    identical = []
    for root, _dirs, files in os.walk(PLANS):
        for f in files:
            if not f.endswith("_before.txt"):
                continue
            after = f[: -len("_before.txt")] + "_after.txt"
            if after not in files:
                continue
            pairs += 1
            with open(os.path.join(root, f), "rb") as fh:
                b = fh.read()
            with open(os.path.join(root, after), "rb") as fh:
                a = fh.read()
            if a == b:
                identical.append(os.path.join(root, f))
    assert pairs > 0, "no before/after plan pairs found under plans/"
    assert not identical, (
        "before/after plan captures are byte-identical (a clobbered "
        f"capture, not evidence): {identical}"
    )


def test_band_pair_candidates_equal_filtered_band_pairs(spark, sf_smoke):
    """The r12 band-PAIR composite-key candidate generator returns
    exactly `_lsh_band_pairs(sig).filter(n_bands >= 2)` — the
    pigeonhole argument made executable on the real smoke corpus plus
    a synthetic frame engineered to hold pairs at every collision
    count 0, 1, 2, and N_BANDS."""
    from the_hive_spark.operators.dedup import (
        N_MINHASH,
        _lsh_band_pair_candidates_ge2,
        _lsh_band_pairs,
        minhash_signatures,
    )

    def pairset(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    sig = minhash_signatures(spark, sf_smoke)
    old = pairset(
        _lsh_band_pairs(sig)
        .filter(F.col("n_bands") >= 2)
        .select("doc_a", "doc_b")
    )
    # both physical plans, forced via the crossover threshold: the
    # single-band join (threshold high) and the composite band-pair
    # join (threshold 0) must each equal the r11 reference
    new_single = pairset(
        _lsh_band_pair_candidates_ge2(sig, composite_threshold=10**12)
    )
    new_comp = pairset(_lsh_band_pair_candidates_ge2(sig, composite_threshold=0))
    assert new_single == old and len(old) > 0
    assert new_comp == old

    # synthetic: doc 1/2 share all bands, 3 shares exactly one band
    # with 1, 4 shares exactly two, 5 shares none
    def mh(doc_id, base):
        return tuple([doc_id] + [f"{v:04x}" for v in base])

    b1 = list(range(N_MINHASH))
    b3 = [v if i in (2, 3) else v + 100 for i, v in enumerate(b1)]
    b4 = [v if i in (2, 3, 4, 5) else v + 200 for i, v in enumerate(b1)]
    b5 = [v + 300 for v in b1]
    rows = [mh(1, b1), mh(2, b1), mh(3, b3), mh(4, b4), mh(5, b5)]
    schema = "doc_id long, " + ", ".join(
        f"mh{i} string" for i in range(N_MINHASH)
    )
    syn = spark.createDataFrame(rows, schema)
    old_s = pairset(
        _lsh_band_pairs(syn)
        .filter(F.col("n_bands") >= 2)
        .select("doc_a", "doc_b")
    )
    new_s1 = pairset(
        _lsh_band_pair_candidates_ge2(syn, composite_threshold=10**12)
    )
    new_s2 = pairset(_lsh_band_pair_candidates_ge2(syn, composite_threshold=0))
    assert new_s1 == new_s2 == old_s == {(1, 2), (1, 4), (2, 4)}


def test_jaccard_on_pairs_join_matches_python_sets(spark):
    """r12 pin for the sparse-regime verifier rewrite (array_intersect
    instead of the exploded shingle self-join): exact ppm against a
    pure-Python set computation, including pairs at/below threshold,
    disjoint pairs, and identical docs. The small-SF oracles all take
    the dense bitset path, so this code path needs its own pin."""
    from the_hive_spark.operators.dedup import (
        JACCARD_THRESHOLD_PPM,
        _jaccard_on_pairs_join,
        _py_shingle_set,
        _shingles_of,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy cat",  # near-dup of 1
        3: "completely different words entirely here now",
        4: "the quick brown fox jumps over the lazy dog",  # exact dup of 1
        5: "zzzzz yyyyy xxxxx wwwww vvvvv uuuuu tttttt",   # disjoint
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    sh = _shingles_of(spark, docs)
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 4), (3, 5)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard_ppm"]
        for r in _jaccard_on_pairs_join(cand, sh).collect()
    }

    import math

    want = {}
    for a, b in [(1, 2), (1, 3), (1, 4), (1, 5), (2, 4), (3, 5)]:
        sa, sb = _py_shingle_set(texts[a]), _py_shingle_set(texts[b])
        ppm = math.floor(
            1000000.0 * len(sa & sb) / len(sa | sb) + 0.5
        )
        if ppm >= JACCARD_THRESHOLD_PPM:
            want[(a, b)] = ppm
    assert got == want and (1, 4) in want and (1, 5) not in want


def test_bitset_matrix_byte_bound():
    """r12 driver-discipline pin: the dense-bitset regime is gated on
    the packed matrix being broadcast-sized. The (vocab ≤ 64 Ki,
    docs ≤ 2 M) box alone admits a 16 GiB driver collect; the byte
    bound must exclude that corner while admitting every measured
    bench-SF matrix (sf0.1: 5000 docs × ≤ 64 Ki vocab)."""
    from the_hive_spark.operators.dedup import (
        _BITSET_MAX_BYTES,
        _BITSET_MAX_DOCS,
        _BITSET_MAX_VOCAB,
        _bitset_matrix_bytes,
    )

    # the corner the bound exists for
    assert _bitset_matrix_bytes(_BITSET_MAX_DOCS, _BITSET_MAX_VOCAB) \
        > _BITSET_MAX_BYTES
    # the bench regime stays dense even at full vocab
    assert _bitset_matrix_bytes(5000, _BITSET_MAX_VOCAB) <= _BITSET_MAX_BYTES
    # arithmetic: words round up to 64-bit words
    assert _bitset_matrix_bytes(10, 1) == 10 * 8
    assert _bitset_matrix_bytes(10, 65) == 10 * 16


def test_part_substitution_zero_tier_pushdown_equals_banded(spark):
    """The r12 zero-tier top-k pushdown in q_part_substitution_
    candidates returns exactly what the banded full-pair path returns,
    on a frame engineered to stress the truncation bound: one giant
    identical-price group (> 64 members), many 2-member groups, plus
    near-miss pairs (ppm > 0) that must NOT appear while zero-ppm
    pairs fill the top 50."""
    from the_hive_spark.operators.analytics import banded_substitution_pairs

    rows = []
    # giant zero group: 80 parts, same brand+cents — truncation at 64
    # must still yield the right winners
    rows += [(1000 + i, "B#1", 50000) for i in range(80)]
    # 30 two-member zero groups in another brand
    for g in range(30):
        rows += [(2000 + 2 * g, "B#2", 60000 + 100 * g),
                 (2001 + 2 * g, "B#2", 60000 + 100 * g)]
    # near-miss pairs: within 0.2% but nonzero ppm (excluded from the
    # top 50 because >= 50 zero pairs exist)
    rows += [(3000, "B#3", 70000), (3001, "B#3", 70070)]
    p = spark.createDataFrame(
        rows, "p_partkey long, p_brand string, cents long"
    )

    full = (
        banded_substitution_pairs(p)
        .orderBy(F.asc("rel_diff_ppm"), F.asc("part_a"), F.asc("part_b"))
        .limit(50)
        .collect()
    )

    from pyspark.sql import Window

    w = Window.partitionBy("p_brand", "cents").orderBy("p_partkey")
    m = p.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 64)
    a = m.select("p_brand", "cents", F.col("p_partkey").alias("part_a"),
                 F.col("rn").alias("rn_a"))
    b = m.select("p_brand", "cents", F.col("p_partkey").alias("part_b"),
                 F.col("rn").alias("rn_b"))
    fast = (
        a.join(b, ["p_brand", "cents"])
        .filter(F.col("rn_a") < F.col("rn_b"))
        .select(
            "part_a", "part_b", "p_brand",
            F.lit(0).cast("bigint").alias("price_diff_cents"),
            F.lit(0).cast("bigint").alias("rel_diff_ppm"),
        )
        .orderBy(F.asc("rel_diff_ppm"), F.asc("part_a"), F.asc("part_b"))
        .limit(50)
        .collect()
    )
    assert [tuple(r) for r in fast] == [tuple(r) for r in full]
    assert len(fast) == 50

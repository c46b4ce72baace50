"""Occupancy-auto-capped near-dup operators (``cap="auto"``, rule in
operators/dedup_autocap.py): oracle match, bit-identity on a healthy
corpus, graceful degradation on a degenerate one, and the exact
median-cap arithmetic."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_1_spark.operators import dedup, dedup_autocap
from tests.conftest import SF_DIR, assert_query_matches_oracle


def test_autocap_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_minhash_autocap")


def test_autocap_identity_on_healthy_corpus(spark):
    """Max band occupancy at sf0.001 is far below the floor of 8, so the
    auto-capped operator must be bit-identical to the uncapped one."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plain = {
        (r.d1, r.d2, r.jaccard)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    auto = {
        (r.d1, r.d2, r.jaccard)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.8, band_cap="auto").collect()
    }
    assert auto == plain and plain


def test_autocap_drops_degenerate_band(spark):
    """30 identical boilerplate docs put all their bands at occupancy 30;
    the band-median stays at the healthy 1-2 level, so the derived cap
    (max(8, 4*median)) drops the clique while the planted near-dup pair
    survives — no knob passed in."""
    boiler = "mass produced boiler plate text repeated verbatim everywhere always"
    base = " ".join(f"tok{i}" for i in range(25))
    near = " ".join(f"tok{i}" for i in range(24)) + " zz"
    rows = [(i, boiler) for i in range(30)] + [(100, base), (101, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r.d1, r.d2) for r in dedup.minhash_lsh_pairs(df, threshold=0.8).collect()}
    auto = {(r.d1, r.d2) for r in dedup.minhash_lsh_pairs(
        df, threshold=0.8, band_cap="auto").collect()}
    assert len(uncapped) >= 435  # the 30-doc clique dominates uncapped
    assert auto == {(100, 101)}
    assert auto <= uncapped  # the cap can only lose pairs, never invent


def test_derived_cap_median_arithmetic(spark):
    """cap = max(floor, factor * lower-median occupancy), lower median =
    smallest occupancy whose cumulative band count reaches (nb+1) DIV 2."""

    def cap_for(occupancies):
        rows = [
            (f"b{i}", j) for i, n in enumerate(occupancies) for j in range(n)
        ]
        banded = spark.createDataFrame(rows, "band_key string, doc_id long")
        counts = banded.groupBy("band_key").agg(F.count(F.lit(1)).alias("_bc"))
        return dedup_autocap.median_cap(counts, "_bc").collect()[0]["_cap"]

    # median 1 (3 of 5 bands at 1): cap = max(8, 4*1) = 8 — the hot band
    # at 9 cannot inflate its own cap
    assert cap_for([1, 1, 1, 5, 9]) == 8
    # median 3: cap = max(8, 12) = 12
    assert cap_for([3, 3, 3, 3, 10]) == 12
    # even nb=4: (4+1) DIV 2 = 2 -> lower median = 2nd smallest = 2
    assert cap_for([1, 2, 6, 7]) == 8
    assert cap_for([4, 5, 6, 7]) == 20  # lower median 5


def test_ngram_autocap_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_ngram_autocap")


def test_band_work_cap_guards_mostly_duplicate_corpus(spark):
    """The regime the module docstring previously declared unguardable:
    a corpus that is MOSTLY duplicate clusters, where most bands are hot
    so the occupancy MEDIAN itself is hot and 4 * median admits the
    O(B^2) cliques. The work-budget level must drop the clique bands
    (their duplicates are exact_dedup's job) while the planted sparse
    near-dup pair survives via the cap_floor."""
    texts = [
        " ".join(f"w{t}x{i}" for i in range(20)) for t in range(20)
    ]
    rows = [(t * 100 + c, texts[t]) for t in range(20) for c in range(30)]
    base = " ".join(f"tok{i}" for i in range(25))
    near = " ".join(f"tok{i}" for i in range(24)) + " zz"
    rows += [(9000, base), (9001, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    auto = {(r.d1, r.d2) for r in dedup.minhash_lsh_pairs(
        df, threshold=0.8, band_cap="auto").collect()}
    assert auto == {(9000, 9001)}


def test_work_budget_cap_arithmetic(spark):
    """wcap = largest count v with cumulative nkeys * v^2 (ascending)
    within work_factor * total rows; NULL when even the smallest count
    blows the budget."""

    def wcap_for(counts, work_factor):
        rows = [(f"k{i}", n) for i, n in enumerate(counts)]
        df = spark.createDataFrame(rows, "key string, _c long")
        rel = dedup_autocap.work_budget_cap(df, "_c", work_factor)
        return rel.collect()[0]["_wcap"]

    # hist {1:3, 2:1, 3:1, 10:1}, total 18; cumj 3,7,16,116
    assert wcap_for([1, 1, 1, 2, 3, 10], 16) == 10   # 116 <= 288
    assert wcap_for([1, 1, 1, 2, 3, 10], 1) == 3     # 16 <= 18 < 116
    assert wcap_for([100], 16) is None               # 10000 > 1600


def test_ngram_autocap_work_cap_binds_on_dense_vocab(spark):
    """The dense-vocabulary regime the median level cannot guard (r11's
    worst gate row): every shingle DF sits near the median, so
    4 * median > max DF admits EVERYTHING. The two-level cap must bind
    at the work-budget level, and the result must equal the static
    df_cap operator evaluated at the derived cap (same capped-profile
    contract)."""
    vocab = ["aa", "bb", "cc"]
    rows = [
        (i, " ".join(vocab[(i * 7 + j * j) % 3] for j in range(12)))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from hadoop_1_spark.operators import textops

    freq = (
        textops.shingles(df, k=3)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    counts = sorted(r["_df"] for r in freq.collect())
    total = sum(counts)
    med = counts[(len(counts) + 1) // 2 - 1]
    from collections import Counter

    cumj, wcap = 0, None
    # replay work_budget_cap in plain python: cumulative per DISTINCT
    # count value (the histogram), ascending
    for v, nk in sorted(Counter(counts).items()):
        cumj += nk * v * v
        if cumj <= 16 * total:
            wcap = v
    expected_cap = max(8, min(4 * med, wcap or 0))
    # the regime premise: median level alone admits everything
    assert 4 * med > max(counts)
    # ... and the work level genuinely binds below the max
    assert expected_cap < max(counts)
    auto = {
        (r.d1, r.d2, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs(
            df, k=3, threshold=0.8, df_cap="auto").collect()
    }
    static = {
        (r.d1, r.d2, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs(
            df, k=3, threshold=0.8, df_cap=expected_cap).collect()
    }
    assert auto == static


def test_ngram_autocap_identity_on_distinct_vocab(spark):
    """On a corpus whose shingle DFs stay under the floor, the auto-capped
    Jaccard equals the uncapped one (capped sets == full sets)."""
    a = "the quick brown fox jumps over the lazy dog again today"
    b = a.replace("today", "tomorrow")
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "unrelated words entirely different from all others here")],
        "doc_id long, text string",
    )
    plain = {
        (r.d1, r.d2, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    }
    auto = {
        (r.d1, r.d2, round(r.jaccard, 12))
        for r in dedup.ngram_jaccard_pairs(
            df, k=3, threshold=0.5, df_cap="auto").collect()
    }
    assert auto == plain == {(1, 2, round(next(iter(plain))[2], 12))}


def test_ngram_autocap_drops_hot_shingles(spark):
    """A shingle shared by 40 docs (boilerplate suffix) exceeds the derived
    cap and is dropped, so the boilerplate clique disappears while a
    planted near-dup pair with unique-ish shingles survives."""
    boiler = "common footer text appended to every single document here"
    rows = [(i, f"unique{i} opening words body{i} filler {boiler}") for i in range(40)]
    base = " ".join(f"tok{i}" for i in range(25))
    near = " ".join(f"tok{i}" for i in range(24)) + " zz"
    rows += [(100, base), (101, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    auto = {(r.d1, r.d2) for r in dedup.ngram_jaccard_pairs(
        df, k=3, threshold=0.5, df_cap="auto").collect()}
    assert (100, 101) in auto
    assert all(d1 >= 100 for d1, _ in auto)  # no boilerplate-clique pairs


def test_derived_cap_filter_keeps_only_sub_cap_bands(spark):
    rows = [(f"b{i}", j) for i, n in enumerate([1, 1, 1, 1, 1, 40]) for j in range(n)]
    banded = spark.createDataFrame(rows, "band_key string, doc_id long")
    ok = dedup._drop_hot_keys(banded, "band_key", "auto")
    kept = {r.band_key for r in ok.collect()}
    assert kept == {"b0", "b1", "b2", "b3", "b4"}  # the 40-band dropped


def test_two_level_cap_matches_composed(spark):
    """The fused two_level_cap (r15: one histogram/window/aggregation)
    must produce the EXACT cap the composed median_cap x work_budget_cap
    form computed, across the regimes each level binds in: healthy
    (floor wins), hot-median (work cap binds), hot-tail (median cap
    binds), budget-blown (wcap NULL -> floor), and empty input."""
    cases = [
        [1, 1, 1, 1, 2],            # healthy: floor wins
        [5, 5, 5, 5, 5, 5],         # uniform-hot: work budget binds
        [1, 1, 1, 2, 3, 10],        # skewed tail: median level binds
        [100],                      # budget blown: wcap NULL -> floor
        [],                         # empty counts
    ]
    for counts in cases:
        rows = [(f"k{i}", n) for i, n in enumerate(counts)]
        df = spark.createDataFrame(rows, "key string, _c long")
        fused = dedup_autocap.two_level_cap(
            df, "_c", cap_floor=8, cap_factor=4, work_factor=16
        ).collect()[0]["_cap"]
        composed = (
            dedup_autocap.median_cap(df, "_c", 8, 4)
            .crossJoin(
                F.broadcast(dedup_autocap.work_budget_cap(df, "_c", 16))
            )
            .select(
                F.greatest(
                    F.lit(8).cast("bigint"),
                    F.least(
                        F.col("_cap"),
                        F.coalesce(F.col("_wcap"), F.lit(0)).cast("bigint"),
                    ),
                ).alias("_cap")
            )
            .collect()[0]["_cap"]
        )
        assert fused == composed, (counts, fused, composed)

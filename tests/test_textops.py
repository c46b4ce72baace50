"""Text-analysis family (textops.py) vs DuckDB oracle + unit checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_1_spark.operators import dedup, textops
from tests.conftest import assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    ["text_token_stats", "text_quality", "text_lang_id", "text_fingerprint"],
)
def test_textops_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def test_ws_tokens_drops_empties(spark):
    df = spark.createDataFrame([("  a  b   c ",), ("",)], "text string")
    rows = df.select(textops.ws_tokens(F.col("text")).alias("t")).collect()
    assert rows[0]["t"] == ["a", "b", "c"]
    assert rows[1]["t"] == []


def test_shingles_k3(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "x y")], "doc_id long, text string")
    got = {(r["doc_id"], r["shingle"]) for r in textops.shingles(df, k=3).collect()}
    assert got == {(1, "a b c"), (1, "b c d")}  # doc 2 too short


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "something else entirely here now")],
        "doc_id long, text string",
    )
    sig, _ = dedup.minhash_signature_relation(df, k=2, num_hashes=8, bands=4)
    rows = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(8)) for r in sig.collect()
    }
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_simhash_close_docs_close_hamming(spark):
    base = "spark query engine shuffles data across the cluster nodes quickly"
    near = base.replace("quickly", "slowly")
    far = "completely different words about cooking pasta tomatoes basil garlic"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    toks = df.select("doc_id", F.explode(textops.ws_tokens(F.col("text"))).alias("token"))
    sh = {r["doc_id"]: r["simhash"] for r in textops.simhash64(toks).collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**60 - 1)).count("1")

    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_pii_scrub_counts_and_redaction(spark):
    from hadoop_1_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "write to bob@example.com or ann.lee@sub.domain.org today"),
            (2, "call 555-867-5309 from 192.168.1.10 please"),
            (3, "no pii here at all"),
            (4, "x@y.io 111-222-3333 10.0.0.1"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.pii_scrub(df).collect()}
    assert (rows[1].n_emails, rows[1].n_phones, rows[1].n_ips) == (2, 0, 0)
    assert "[EMAIL]" in rows[1].clean_text and "@" not in rows[1].clean_text
    assert (rows[2].n_emails, rows[2].n_phones, rows[2].n_ips) == (0, 1, 1)
    assert rows[2].clean_text == "call [PHONE] from [IP] please"
    assert (rows[3].n_emails, rows[3].n_phones, rows[3].n_ips) == (0, 0, 0)
    assert rows[3].clean_text == "no pii here at all"
    assert (rows[4].n_emails, rows[4].n_phones, rows[4].n_ips) == (1, 1, 1)
    assert rows[4].clean_text == "[EMAIL] [PHONE] [IP]"


def test_repetition_stats(spark):
    from hadoop_1_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # bigrams: ab,ba,ab,ba,ab -> 5 total, 2 distinct
            (2, "w x y z"),          # 3 distinct bigrams, no repeats
            (3, "solo"),             # < 2 tokens: dropped
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.repetition_stats(df, n=2).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_grams == 5
    assert rows[1].dup_gram_frac == round(1 - 2 / 5, 9)
    assert rows[1].top_gram_frac == round(3 / 5, 9)
    assert rows[2].n_grams == 3
    assert rows[2].dup_gram_frac == 0.0
    assert rows[2].top_gram_frac == round(1 / 3, 9)


def test_vocab_top_coverage_monotone(spark):
    from hadoop_1_spark.operators import textops

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d")],
        "doc_id long, text string",
    )
    rows = sorted(textops.vocab_top(df, k=3).collect(), key=lambda r: r.rank)
    assert [r.token for r in rows] == ["a", "b", "c"]  # c ties d, token asc
    assert [r.cnt for r in rows] == [4, 3, 1]
    cums = [r.cum_coverage for r in rows]
    assert cums == sorted(cums) and cums[-1] <= 1.0
    assert cums[0] == round(4 / 9, 9)


def test_tfidf_topk_integer_ranking(spark):
    """score_q6 = (tf*1e6) div df exactly; rank ties break by token asc;
    k bounds per-doc rows."""
    from hadoop_1_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
        ],
        "doc_id long, text string",
    )
    out = textops.tfidf_topk(df, k=2)
    rows = {(r.doc_id, r.rank): (r.token, r.tf, r.df, r.score_q6) for r in out.collect()}
    # doc 1: apple tf=2 df=1 -> 2_000_000; banana tf=1 df=2 -> 500_000
    assert rows[(1, 1)] == ("apple", 2, 1, 2_000_000)
    assert rows[(1, 2)] == ("banana", 1, 2, 500_000)
    # doc 2: banana and cherry both tf=1 df=2 -> tie 500_000, token asc
    assert rows[(2, 1)][0] == "banana" and rows[(2, 2)][0] == "cherry"
    # doc 3: cherry tf=3 df=2 -> 1_500_000 beats common tf=1 df=3 -> 333_333
    assert rows[(3, 1)] == ("cherry", 3, 2, 1_500_000)
    assert rows[(3, 2)] == ("common", 1, 3, 333_333)
    assert all(r.rank <= 2 for r in out.collect())


def test_winnow_fingerprints_guarantee(spark):
    """The winnowing guarantee: any shared substring of >= k+w-1 tokens
    yields at least one shared fingerprint; rightmost tie-break and
    density ~2/(w+1) hold; short docs emit nothing."""
    from hadoop_1_spark.operators import textops

    shared = "alpha beta gamma delta epsilon zeta"      # 6 tokens = k+w-1
    df = spark.createDataFrame(
        [
            (1, "one two three " + shared),
            (2, shared + " seven eight nine"),
            (3, "un deux"),                              # < k+w-1 tokens
        ],
        "doc_id long, text string",
    )
    out = textops.winnow_fingerprints(df, k=3, w=4).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert 3 not in fps
    assert fps[1] & fps[2], "shared 6-token substring must share a fingerprint"
    # density: selections per doc <= number of windows, >= windows/w
    n_grams_1 = 9 - 3 + 1   # doc 1 has 9 tokens
    n_windows_1 = n_grams_1 - 4 + 1
    assert 1 <= len(fps[1]) <= n_windows_1


def test_lm_score_hand_case(spark):
    # train: "a a a b" -> c(a)=3, c(b)=1; N=4, V=2, D=7, dbits=3
    train = spark.createDataFrame([(0, "a a a b")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (1, "a a"),       # in-vocab, common
            (2, "b zz"),      # one rare + one OOV
            (3, ""),          # empty
        ],
        "doc_id long, text string",
    )
    model = textops.unigram_lm(train)
    rows = {r["doc_id"]: r for r in textops.lm_score(docs, model).collect()}
    # doc 1: per-token inv = (7*1e6) div 4 = 1750000; bits/token = 3 - bitlen(4)=3 -> 0
    assert rows[1]["n_tokens"] == 2
    assert rows[1]["mean_invp_q6"] == 1_750_000
    assert rows[1]["surprisal_bits"] == 0
    # doc 2: b -> (7e6) div 2 = 3500000, bits 3-2=1; zz OOV -> 7e6 div 1, bits 3-1=2
    assert rows[2]["mean_invp_q6"] == (3_500_000 + 7_000_000) // 2
    assert rows[2]["surprisal_bits"] == 3
    # doc 3: empty -> zeros, kept
    assert rows[3]["n_tokens"] == 0
    assert rows[3]["surprisal_bits"] == 0
    assert rows[3]["mean_invp_q6"] == 0
    assert rows[3]["keep"]
    # rarity ordering: OOV-heavy doc scores strictly worse than common doc
    assert rows[2]["mean_invp_q6"] > rows[1]["mean_invp_q6"]


def test_lm_score_oov_matches_smoothed_formula(spark):
    # keep flag flips exactly at the cap: cap=1 effective vocab keeps only
    # docs whose mean inverse probability is <= 1e6 (impossible when D>1:
    # inv >= (D*1e6) div (c_max+1) > 1e6 unless one token dominates)
    train = spark.createDataFrame([(0, "x x x x x x x x")], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "x x x")], "doc_id long, text string")
    model = textops.unigram_lm(train)
    out = textops.lm_score(docs, model, perplexity_cap=1).collect()[0]
    # D = 8 + 1 + 1 = 10; inv = 10e6 div 9 = 1111111 > 1e6 -> dropped
    assert out["mean_invp_q6"] == 1_111_111
    assert not out["keep"]


def test_lm_score_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "text_lm_score")


def test_lm_bigram_hand_case(spark):
    # train "a b": uni a:1 b:1 (N=2, V=2, du=5, v1=3);
    # big (BOS,a):1 (a,b):1; ctx BOS:1 a:1
    train = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "zz"), (3, "")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in textops.lm_score_bigram(docs, train).collect()
    }
    # doc 1, both tokens: nb=2, db=4, nu=2, du=5 ->
    # (10*4*5e6) // (7*2*5 + 3*2*4) = 200e6 // 94 = 2127659
    assert rows[1]["n_tokens"] == 2
    assert rows[1]["mean_invp_q6"] == 2_127_659
    # doc 2 (OOV after BOS): nb=1, db=4, nu=1 -> 200e6 // 47 = 4255319
    assert rows[2]["mean_invp_q6"] == 4_255_319
    assert rows[2]["mean_invp_q6"] > rows[1]["mean_invp_q6"]
    # empty doc: zeros, kept
    assert rows[3]["n_tokens"] == 0 and rows[3]["mean_invp_q6"] == 0 and rows[3]["keep"]


def test_lm_bigram_empty_train_doc_harmless(spark):
    # an empty training document must not create a NULL vocab entry
    train = spark.createDataFrame(
        [(0, "a b"), (1, "")], "doc_id long, text string"
    )
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with_empty = textops.lm_score_bigram(docs, train).collect()[0]
    without = textops.lm_score_bigram(
        docs, train.where("doc_id = 0")
    ).collect()[0]
    assert with_empty["mean_invp_q6"] == without["mean_invp_q6"]


def test_lm_bigram_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "text_lm_score_bigram")


def test_kappa_matches_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "label_agreement_kappa")


def test_pr_curve_matches_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "quality_pr_curve")


def test_pr_curve_monotone_recall(spark):
    """Recall must be non-increasing as the threshold rises, and the
    thr=0 row must predict everything positive."""
    from hadoop_1_spark import registry

    rows = sorted(
        registry.QUERIES["quality_pr_curve"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.thr_q6,
    )
    assert rows[0].pred_pos == rows[0].n_pos or rows[0].recall_q6 == 1000000
    recalls = [r.recall_q6 for r in rows if r.recall_q6 is not None]
    assert recalls == sorted(recalls, reverse=True)


def test_text_pmi_collocations_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "text_pmi_collocations")


def test_pmi_collocations_semantics(spark):
    """Hand corpus: tokens N=7, c_a=3 c_b=3, pair (a,b) seen 3x ->
    pmi_q6 = floor(3*7*1e6 / (3*3)) = 2333333; pairs under min_count
    drop; the pair stream never crosses document boundaries."""
    df = spark.createDataFrame([("a b a b",), ("a b c",)], "text string")
    rows = textops.pmi_collocations(df, min_count=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["w1"], r["w2"], r["pair_cnt"], r["c1"], r["c2"], r["n_tokens"]) == (
        "a", "b", 3, 3, 3, 7,
    )
    assert r["pmi_q6"] == (3 * 7 * 1_000_000) // (3 * 3)


def test_text_bm25_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "text_bm25_topk")


def test_bm25_topk_semantics(spark):
    """Hand corpus, exact replay of the rational formula: two docs of
    4 tokens each (avgdl = dl), term 'a' with df=1 tf=2 in doc 0 only;
    the doc-0 score equals the hand-computed q6 integer and doc 1 (no
    query terms) never appears. Case-insensitivity: 'A' counts as 'a'."""
    from hadoop_1_spark.operators import textops as T

    df = spark.createDataFrame(
        [(0, "a A b c"), (1, "b c d e")], "doc_id long, text string"
    )
    rows = T.bm25_topk(df, ["a"], k=5).collect()
    assert [r["doc_id"] for r in rows] == [0]
    nd, tt, tf, dl, dfreq = 2, 8, 2, 4, 1
    num = (2 * nd - 2 * dfreq + 1) * 22 * tf * tt * 10**6
    den = (2 * dfreq + 1) * (10 * tf * tt + 3 * tt + 9 * dl * nd)
    assert rows[0]["score_q6"] == num // den
    assert rows[0]["rank"] == 1


def test_bm25_null_text_is_zero_token_doc(spark):
    """A NULL-text row stays in N_d as a zero-token document (it must
    not shift T via size(NULL) = -1) — scores replay the hand formula
    with nd=3, tt=8 unchanged."""
    from hadoop_1_spark.operators import textops as T

    df = spark.createDataFrame(
        [(0, "a A b c"), (1, "b c d e"), (2, None)],
        "doc_id long, text string",
    )
    rows = T.bm25_topk(df, ["a"], k=5).collect()
    assert [r["doc_id"] for r in rows] == [0]
    nd, tt, tf, dl, dfreq = 3, 8, 2, 4, 1
    num = (2 * nd - 2 * dfreq + 1) * 22 * tf * tt * 10**6
    den = (2 * dfreq + 1) * (10 * tf * tt + 3 * tt + 9 * dl * nd)
    assert rows[0]["score_q6"] == num // den

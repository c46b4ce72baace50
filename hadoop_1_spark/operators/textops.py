"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference surface (BASELINE.json north-star): the
reference's text handling is tokenize/regex only (mapred/lib/TokenCountMapper.java:35,
mapred/lib/RegexMapper.java:42); these operators add the LLM-data-pipeline
layer — language ID, quality scoring, token counting, document
fingerprinting — built from the same primitives (tokenize + hash + aggregate).

Scale notes (100 TB design intent):
- everything here is pure built-in column expressions (JVM-side, whole-stage
  codegen); no Python UDFs in any hot path.
- per-document ops are narrow (no shuffle); lang-id joins a tiny broadcast
  weight table; fingerprints shuffle only doc_id-keyed shingle rows.
- all hashing is md5-based so results are engine-portable (same bits in the
  DuckDB oracle) and stable across runs/partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Tokenization contract shared with the DuckDB oracles: trim, split on runs
# of whitespace, drop empty tokens.
TOKEN_RE = r"\s+"

# BPE-ish word/number/punct splitter (token *counting*, not a real BPE):
# letter runs, digit runs, and single non-alnum marks each count as one token.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Punctuation class written out explicitly (POSIX classes differ between
# engines; this exact list is used verbatim on both sides).
PUNCT_RE = r"[.,;:!?'\"()\[\]{}-]"

# Tiny function-word weight table for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic — a real deployment swaps
# in larger profiles; the operator shape (broadcast join + argmax) is the
# point.
LANG_PROFILES: dict[str, dict[str, float]] = {
    "en": {"the": 1.0, "a": 0.6, "of": 1.0, "and": 1.0, "to": 0.8, "is": 0.8},
    "de": {"der": 1.0, "die": 1.0, "das": 1.0, "und": 1.0, "ist": 0.8, "ein": 0.6},
    "fr": {"le": 1.0, "la": 1.0, "et": 1.0, "est": 0.8, "un": 0.6, "de": 0.8},
    "es": {"el": 1.0, "la": 0.8, "y": 1.0, "es": 0.8, "un": 0.6, "de": 0.8},
    "zh": {"de": 0.2},  # placeholder profile; zh needs char-level features
}

STOPWORDS = sorted({w for p in LANG_PROFILES.values() for w in p})


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens as an array<string>, empties removed."""
    return F.filter(F.split(F.trim(text), TOKEN_RE), lambda t: t != F.lit(""))


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish tokens, chars, mean token
    length. One narrow projection — no shuffle."""
    toks = ws_tokens(F.col(text_col))
    n_ws = F.size(toks)
    return df.select(
        F.col(id_col),
        n_ws.cast("long").alias("n_tokens_ws"),
        F.regexp_count(F.col(text_col), F.lit(BPE_RE)).cast("long").alias("n_tokens_bpe"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            / F.greatest(n_ws, F.lit(1)),
            6,
        ).alias("mean_token_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length/punct/stopword/digit ratios folded
    into one [0,1] score. All ratios are per-row deterministic doubles
    (rounded to 6dp for cross-engine stability)."""
    text = F.col(text_col)
    toks = ws_tokens(text)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(text).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    punct_ratio = F.regexp_count(text, F.lit(PUNCT_RE)) / F.greatest(n_chars, F.lit(1.0))
    digit_ratio = F.regexp_count(text, F.lit(r"[0-9]")) / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1.0))
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    raw = (
        F.lit(0.4) * len_score
        + F.lit(0.4) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 10 + digit_ratio * 5, F.lit(1.0)))
    )
    return df.select(
        F.col(id_col),
        F.round(F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0)), 6).alias("quality"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
    )


def lang_profile_df(spark: SparkSession) -> DataFrame:
    """The LANG_PROFILES weight table as a (lang, token, weight) DataFrame —
    broadcast side of the lang-id join. Built from a SQL VALUES literal
    (not createDataFrame) so the broadcast build stays JVM-only — a local
    Python RDD would fork Python workers just to ship 30 constant rows."""
    rows = ", ".join(
        f"('{lang}', '{tok}', CAST({float(w)} AS DOUBLE))"
        for lang, prof in sorted(LANG_PROFILES.items())
        for tok, w in sorted(prof.items())
    )
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(lang, token, weight)")


def lang_id(
    df: DataFrame, spark: SparkSession, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Language ID via function-word profiles: explode tokens, broadcast-join
    the weight table, sum weight per (doc, lang), argmax with deterministic
    tie-break (higher score, then lang asc; docs with no hits → 'und').

    Scale: ONE pass over the corpus — explode_outer + a broadcast LEFT join
    keep every doc represented (empty/unmatched docs carry a NULL-lang
    group), so the 'und' rows fall out of the same aggregation instead of a
    second full scan + join back to `df`. Two exchanges total: the
    (doc, lang) groupBy and the per-doc argmax window; desc ordering puts
    the NULL-lang group last, so it only wins when no language scored."""
    toks = df.select(
        F.col(id_col),
        F.explode_outer(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    scored = (
        toks.join(F.broadcast(lang_profile_df(spark)), "token", "left")
        .groupBy(id_col, "lang")
        # decimal-exact sum (engine-portable regardless of partial-agg order)
        .agg(F.sum(F.col("weight").cast("decimal(18,4)")).cast("double").alias("score"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc_nulls_last("lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.coalesce("lang", F.lit("und")).alias("lang_pred"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
    )


def shingles(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """k-token shingles per document: (id, shingle). The primitive under
    minhash / Jaccard / fingerprinting. Narrow until the consumer shuffles.

    distinct=True (default) dedups per (id, shingle) — required where rows
    are COUNTED (Jaccard set sizes). Consumers whose aggregates are
    idempotent under duplicates (min for minhash, collect_set) pass
    distinct=False and skip that whole extra shuffle."""
    toks = ws_tokens(F.col(text_col))
    n = F.size(toks)
    out = (
        df.select(F.col(id_col), toks.alias("toks"), n.alias("n"))
        .where(F.col("n") >= k)
        .select(
            F.col(id_col),
            F.explode(F.expr(f"transform(sequence(1, n - {k} + 1), i -> concat_ws(' ', slice(toks, i, {k})))")).alias("shingle"),
        )
    )
    return out.distinct() if distinct else out


def shingle_hash(col: Column, seed: int) -> Column:
    """Portable 60-bit shingle hash as a NUMBER: md5 prefixed with a seed,
    first 15 hex chars as decimal. Identical in DuckDB:
    ('0x'||substr(md5(seed||':'||s),1,15))::BIGINT. Use only where numeric
    bits are required (simhash); hex_hash is cheaper (no conv)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def hex_hash(col: Column, seed: int, offset: int = 1) -> Column:
    """Portable 60-bit hash as a fixed-width HEX STRING (min/sort order ==
    numeric order, no decimal conversion cost). offset 1 or 16 selects the
    first/second independent half of the digest, so one md5 yields two
    hashes. DuckDB twin: substr(md5(seed||':'||s), offset, 15)."""
    return F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), offset, 15)


# Affine minhash permutations h_i(x) = (a_i*x + b_i) mod P over a single
# md5-derived base hash — ONE md5 per shingle row instead of ceil(n/2);
# the permutation family is pure 64-bit integer arithmetic (overflow-free:
# (P-1)^2 + P < 2^63) that the DuckDB oracle replays with the same literal
# coefficients. P = 2^31 - 1 (Mersenne prime).
MINHASH_P = 2147483647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine permutation family,
    derived from md5 of the index at plan-build time (no RNG state)."""
    import hashlib

    def h32(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    return [
        (h32(f"a{i}") % (MINHASH_P - 1) + 1, h32(f"b{i}") % MINHASH_P)
        for i in range(num_hashes)
    ]


def simhash64(sh_tokens: DataFrame, id_col: str = "doc_id", term_col: str = "token") -> DataFrame:
    """60-bit SimHash over terms: per bit b, sum ±1 of bit b of each term
    hash; fingerprint bit b = 1 iff the sum > 0.

    Lane-packed bit-plane pre-agg (round-11, TODO 0f): long k of 30 packed
    sum-aggregates holds plane k in its low 32-bit lane and plane k+30 in
    its high lane, so the per-doc aggregate buffer (and the partial-agg
    rows through the shuffle) is 30 longs + a count instead of 60 longs,
    and each input row updates 30 accumulators instead of 60. Lanes can't
    carry into each other: a lane counts tokens of ONE doc, and a single
    document row can't hold 2^32 tokens (a Spark string caps at 2 GiB).
    The ±1 sum is recovered exactly post-agg: sum_b = 2*cnt_b - n, so
    bit b = 1 iff 2*cnt_b > n — same integer semantics as the previous
    60-column form, bit-identical fingerprints. NOT a 60-way row explosion
    (same sums, 60x fewer shuffle rows); all JVM-side expressions; one
    partial-agg groupBy on doc. The reference analog is MD5Hash keys
    (io/MD5Hash.java:30)."""
    h = shingle_hash(F.col(term_col), 0)
    bits = sh_tokens.select(F.col(id_col), h.alias("h"))
    # r15 (guide §4-adjacent, the r14 LSH-literal pattern): each packed
    # plane and each fingerprint bit used to be composed from individual
    # Column calls (~8 py4j round-trips per bit x 60 bits + 4 per plane
    # x 30 planes ~= 1.4 s of driver chatter per build at ~1.5 ms/call);
    # the same expressions now arrive as parsed SQL strings — ONE parse
    # per aggregate column and one for the whole fingerprint sum. All
    # arithmetic is integer and the sum keeps the left-associated order,
    # so fingerprints are bit-identical (pinned by the oracle and
    # test_textops' simhash cases).
    packed = [
        F.expr(
            f"sum((shiftright(h, {k}) & 1)"
            f" | shiftleft(shiftright(h, {k + 30}) & 1, 32)) AS p{k}"
        )
        for k in range(30)
    ]
    sums = bits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *packed)
    fp_text = " + ".join(
        f"if((shiftright(p{b % 30}, {32 * (b // 30)}) & 4294967295) * 2 > n,"
        f" cast({1 << b} as bigint), cast(0 as bigint))"
        for b in range(60)
    )
    return sums.select(F.col(id_col), F.expr(fp_text).alias("simhash"))


def fingerprint(df: DataFrame, k: int = 3, s: int = 4, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: bottom-s sketch of the k-shingle hash set,
    folded to one md5 hex string. Two docs share a fingerprint iff their
    bottom-s shingle hashes agree — a compact near-dup key."""
    # Pre-partition by doc id (exchange reused by the groupBy — see
    # dedup.minhash_lsh_pairs) and dedup via collect_set instead of a
    # distinct-shingles shuffle: the bottom-s sketch is over the hash SET.
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par, F.col(id_col))
    sh = shingles(df, k=k, text_col=text_col, id_col=id_col, distinct=False)
    bottom = (
        sh.select(F.col(id_col), hex_hash(F.col("shingle"), 0).alias("h"))
        .groupBy(id_col)
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, s).alias("bottom"))
    )
    return bottom.select(
        F.col(id_col),
        F.md5(F.concat_ws(",", F.col("bottom"))).alias("fingerprint"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    local fingerprinting scheme): hash every k-token gram, slide a window
    of w consecutive gram hashes, select each window's MINIMUM hash with
    ties broken to the RIGHTMOST position, and keep the distinct
    (position, hash) selections. Guarantees: any shared substring of at
    least k+w-1 tokens yields at least one shared fingerprint, and the
    per-doc fingerprint density is ~2/(w+1) — a storage-tunable near-dup
    index with a matching guarantee, unlike the probabilistic bottom-s
    sketch (fingerprint()).

    Cross-engine determinism: gram hashes are the 15-hex md5 prefix
    (hex_hash idiom) whose STRING order equals numeric order; the
    min-with-rightmost-tie pick is one string min over
    ``hash || zero_padded(9999999 - pos)`` — both engines compare the
    same fixed-width keys, no floats anywhere. The pad width caps
    positions at 9,999,999 grams per document (~10M tokens — beyond any
    sane unchunked doc); docs over the cap are EXCLUDED by the same
    filter in both engines rather than silently corrupted (chunk them
    first: corpusprep.chunk_windows).

    Shape: a pure narrow projection per document (token array -> gram
    hash array -> window mins, all inside whole-stage codegen) followed
    by one explode + distinct — the only shuffle is the distinct on
    (id, pos, fp), carrying ~2n/(w+1) fixed-width rows per doc."""
    toks = ws_tokens(F.col(text_col))
    grams = (
        f"transform(sequence(1, size(_toks) - {k - 1}),"
        f" i -> substring(md5(concat('0:', concat_ws(' ', slice(_toks, i, {k})))), 1, 15))"
    )
    keys = (
        f"transform(_hs, (h, p) -> concat(h, lpad(cast(9999999 - (p + 1) as string), 7, '0')))"
    )
    sel = (
        f"transform(sequence(1, size(_keys) - {w - 1}),"
        f" j -> array_min(slice(_keys, j, {w})))"
    )
    base = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .where(
            (F.size("_toks") >= k + w - 1)
            & (F.size("_toks") - (k - 1) <= 9999999)
        )
        .select(F.col(id_col), F.expr(grams).alias("_hs"))
        .select(F.col(id_col), F.expr(keys).alias("_keys"))
        .select(F.col(id_col), F.explode(F.expr(sel)).alias("_sel"))
    )
    return base.select(
        F.col(id_col),
        (F.lit(9999999) - F.substring("_sel", 16, 7).cast("int")).alias("pos"),
        F.substring("_sel", 1, 15).alias("fp"),
    ).distinct()


def winnow_oracle_sql(toks_expr: str, k: int = 3, w: int = 4) -> str:
    """The DuckDB replay of winnow_fingerprints (shared by the
    text_winnow_fingerprints and dedup_winnow_overlap oracles;
    ``toks_expr`` is the engine-side whitespace-token-array expression)."""
    return f"""
WITH t AS (SELECT doc_id, {toks_expr} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos,
         substr(md5('0:' || array_to_string(toks[i:i+{k - 1}], ' ')), 1, 15) AS h
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {k} + 2)) AS i
        FROM t WHERE len(toks) >= {k + w - 1} AND len(toks) - {k - 1} <= 9999999)
),
ky AS (
  SELECT doc_id, pos, h || lpad(CAST(9999999 - pos AS VARCHAR), 7, '0') AS key
  FROM g
),
m AS (SELECT doc_id, max(pos) AS mx FROM g GROUP BY 1),
win AS (SELECT doc_id, unnest(range(1, mx - {w} + 2)) AS j FROM m),
sel AS (
  SELECT w.doc_id, w.j, min(k2.key) AS sk
  FROM win w JOIN ky k2
    ON w.doc_id = k2.doc_id AND k2.pos BETWEEN w.j AND w.j + {w - 1}
  GROUP BY 1, 2
)
SELECT DISTINCT doc_id,
       CAST(9999999 - CAST(substr(sk, 16, 7) AS INT) AS INT) AS pos,
       substr(sk, 1, 15) AS fp
FROM sel
"""


# PII patterns, written to the common RE2/Java regex subset so the SAME
# strings run in Spark and the DuckDB oracle. Public-web-corpus scrubbing
# rules (the C4/RefinedWeb-style cleanup stage): emails, NANP-style phone
# numbers, dotted-quad IPs.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII detection + redaction: per document, count email / phone / IP
    matches and emit the redacted text ([EMAIL] / [PHONE] / [IP]).

    One narrow projection — regexp_extract_all + regexp_replace are
    whole-stage-codegen'd, no shuffle, no Python; exactly the shape that
    sweeps a 100 TB corpus at scan speed. Redaction order matters: emails
    first (an email's host part can otherwise be eaten by the IP rule),
    then phones, then IPs — the oracle applies the same order."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
    clean = F.regexp_replace(t, PII_EMAIL_RE, "[EMAIL]")
    n_phones = F.size(F.regexp_extract_all(clean, F.lit(PII_PHONE_RE), F.lit(0)))
    clean = F.regexp_replace(clean, PII_PHONE_RE, "[PHONE]")
    n_ips = F.size(F.regexp_extract_all(clean, F.lit(PII_IP_RE), F.lit(0)))
    clean = F.regexp_replace(clean, PII_IP_RE, "[IP]")
    return df.select(
        F.col(id_col),
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        n_ips.cast("int").alias("n_ips"),
        clean.alias("clean_text"),
    )


def repetition_stats(df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition metrics (the Gopher-style quality
    filters: duplicate n-gram fraction, top n-gram fraction). Documents
    with fewer than ``n`` tokens are dropped (no n-grams to measure).

    Shape: ONE exchange — docs pre-partitioned by id (whole documents,
    fewer bytes than gram rows), then both aggregations run shuffle-free:
    HashPartitioning(id) satisfies the (id, gram) clustering requirement,
    and the per-doc reduce reuses the same partitioning (the fingerprint
    pattern). The gram key is the n-token substring itself; at 100 TB
    swap the string key for shingle_hash to shrink in-memory agg keys."""
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par, F.col(id_col))
    toks = ws_tokens(F.col(text_col))
    # n-grams by zipping the token array against its own shifted slices:
    # each slice references `toks` ONCE per row, so the tokenizer split
    # runs n times per document. (The obvious transform(sequence(...),
    # i -> element_at(toks, i+j)) re-evaluates the split PER ELEMENT —
    # O(tokens^2) regex work per doc, measured 12x slower at sf0.1.)
    m = F.size(toks) - (n - 1)  # gram count; <= 0 for short docs
    grams = F.slice(toks, 1, F.greatest(m, F.lit(0)))
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, F.greatest(m, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    exploded = (
        df.select(F.col(id_col), grams.alias("grams"))
        .where(F.size(F.col("grams")) >= 1)
        .select(F.col(id_col), F.explode("grams").alias("gram"))
    )
    counts = exploded.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.max("c").alias("_top"),
            F.count(F.lit(1)).alias("_distinct"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            F.round(
                F.lit(1.0) - F.col("_distinct") / F.col("n_grams").cast("double"), 9
            ).alias("dup_gram_frac"),
            F.round(F.col("_top") / F.col("n_grams").cast("double"), 9).alias(
                "top_gram_frac"
            ),
        )
    )


def tfidf_topk(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-k characteristic terms by tf-idf, in the exact
    integer arithmetic the repo uses for cross-engine-hashable ranking
    (rebalance_by_language's discipline): score_q6 = (tf * 1e6) div df —
    raw inverse-document-frequency weighting (the log-free idf variant;
    the log dampening changes the curve, not the plumbing), quantized so
    both engines rank identical bigints instead of transcendental
    doubles. Ties break by token ascending.

    Shape (2 exchanges, 1 scan): one repartition on doc_id lets the
    (doc, token) tf aggregation, and later the per-doc ranking window,
    both run without their own shuffle (ClusteredDistribution(doc, token)
    is satisfied by hash(doc)); the tf relation is persisted (tracked, so
    the registry's release_caches frees it) because both the document-
    frequency branch and the scoring join read it — without the pin the
    planner re-scans and re-explodes the corpus for the df branch. The
    df aggregation is the second exchange, over distinct (doc, token)
    pairs, and its vocab-sized result broadcasts back."""
    from pyspark.sql import Window

    from hadoop_1_spark.operators.caching import persist_tracked

    tok = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("token")
    ).repartition(id_col)
    tf = persist_tracked(
        tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "token").select(
        F.col(id_col),
        F.col("token"),
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        F.expr("(tf * 1000000) div df").cast("bigint").alias("score_q6"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_q6"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def vocab_top(
    df: DataFrame, k: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary builder: top-k tokens by frequency with
    cumulative corpus coverage — the token-budget planning step of a
    pretraining pipeline (what fraction of the corpus does a k-entry
    vocab cover?).

    Shape: one map-side-combined token count shuffle (wordcount), a
    1-row total broadcast, and a k-row ranking window — the windows and
    the limit touch k rows, never the corpus."""
    tok = df.select(F.explode(ws_tokens(F.col(text_col))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.desc("cnt"), F.asc("token"))
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.withColumn("rank", F.row_number().over(w_rank))
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("rank").cast("int").alias("rank"),
            F.round(
                F.sum("cnt").over(w_cum).cast("double") / F.col("_total").cast("double"),
                9,
            ).alias("cum_coverage"),
        )
    )


def unigram_lm(train: DataFrame, text_col: str = "text") -> DataFrame:
    """Reference unigram language model: lowercased whitespace-token
    counts over a curated training slice — the model half of CCNet-style
    perplexity filtering (Wenzek et al. 2019: score a crawl against an
    LM trained on a trusted corpus; the reference engine's analog is the
    tokenize+count pipeline, mapred/lib/TokenCountMapper.java:35).

    Shape: one map-side-combined token-count shuffle; the result is
    vocab-sized (bounded), so every consumer can broadcast it."""
    toks = train.select(F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"))
    return toks.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("c"))


def lm_score(
    docs: DataFrame,
    model: DataFrame,
    perplexity_cap: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM quality scoring, integer-exact so the DuckDB oracle
    replays it bit-for-bit (true perplexity needs ln(), which is not
    correctly-rounded-guaranteed across engines — a float twin would be
    un-oracleable, the same trade documented for the approx sketches).

    Add-1-smoothed token probability p(t) = (c_t + 1) / D with
    D = N + V + 1 (N train tokens, V train vocab, one OOV type). Two
    per-doc scores, both exact bigint arithmetic:

    - ``surprisal_bits`` = Σ (bitlen(D) - bitlen(c_t+1)): the floor-log2
      cross-entropy surrogate (bitlen(x) = floor(log2 x)+1 via F.bin —
      engine-portable, but coarse: ±1 bit per token).
    - ``mean_invp_q6`` = (Σ (D*10^6) div (c_t+1)) div n: q6 fixed-point
      arithmetic mean of 1/p(t) — the fine-grained rarity score. The
      arithmetic mean stands in for perplexity's geometric mean: both are
      monotone in token improbability, and the arithmetic form needs no
      logs. ``keep`` = mean_invp_q6 <= perplexity_cap * 10^6, i.e. keep
      documents whose mean inverse probability is below an
      effective-vocabulary cap — CCNet's "keep the low-perplexity head".

    Overflow bound: per-token inv ≤ D*10^6, so docs of L tokens need
    L * D * 10^6 < 2^63 — e.g. D ≤ 9.2e9 at L = 1000. A 100 TB corpus
    trains the model on a curated slice (Wikipedia-sized, D ~ 1e10
    tokens): at that scale switch the q6 constant to q3 or score with
    decimal(38,0); the operator keeps bigint for codegen speed.

    Shape at 100 TB: the model is vocab-bounded → broadcast join against
    the exploded token stream (no shuffle on the corpus side); the only
    corpus-keyed exchange is the per-doc re-aggregation on ``id_col``.
    OOV tokens are folded algebraically (n_oov * D*10^6) so the 1-row
    totals relation joins AFTER the per-doc aggregation, never against
    token rows."""
    from hadoop_1_spark.operators.caching import persist_tracked

    bitlen = lambda c: F.length(F.bin(c)).cast("long")  # noqa: E731

    vocab = persist_tracked(model)
    # coalesce: an EMPTY model (degenerate but legal) must yield D = 1,
    # not NULL-poison every score (sum over zero rows is NULL)
    totals = vocab.agg(
        (F.coalesce(F.sum("c"), F.lit(0)) + F.count(F.lit(1)) + 1)
        .cast("bigint")
        .alias("_d")
    ).select(
        "_d",
        bitlen(F.col("_d")).alias("_dbits"),
        (F.col("_d") * 1000000).alias("_oov_inv"),
    )
    scored_vocab = vocab.crossJoin(F.broadcast(totals)).select(
        "token",
        F.expr("(_d * 1000000) div (c + 1)").cast("bigint").alias("_inv"),
        bitlen(F.col("c") + 1).alias("_cb"),
    )
    tok = docs.select(
        F.col(id_col),
        F.explode_outer(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    per = (
        tok.join(F.broadcast(scored_vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("token").cast("bigint").alias("n_tokens"),
            F.count(
                F.when(F.col("token").isNotNull() & F.col("_inv").isNull(), 1)
            ).cast("bigint").alias("_n_oov"),
            F.coalesce(F.sum("_inv"), F.lit(0)).cast("bigint").alias("_s_inv"),
            F.coalesce(F.sum("_cb"), F.lit(0)).cast("bigint").alias("_s_cb"),
        )
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .withColumn(
            "_sum_inv", F.col("_s_inv") + F.col("_n_oov") * F.col("_oov_inv")
        )
        .withColumn(
            "mean_invp_q6",
            F.expr("_sum_inv div greatest(n_tokens, CAST(1 AS BIGINT))").cast(
                "bigint"
            ),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            (
                F.col("n_tokens") * F.col("_dbits")
                - (F.col("_s_cb") + F.col("_n_oov"))
            ).cast("bigint").alias("surprisal_bits"),
            "mean_invp_q6",
            (F.col("mean_invp_q6") <= F.lit(perplexity_cap * 1000000)).alias(
                "keep"
            ),
        )
    )


# Sentence-start sentinel for the bigram LM. A control character cannot
# be produced by whitespace tokenization of normal text; the contract is
# simply "corpus tokens never equal chr(2)".
BIGRAM_BOS = "\x02"


def _bigram_pairs(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """(prev, tok) pairs per document from the token array directly —
    no window, no extra shuffle: position i's predecessor is read out of
    the same array (BOS sentinel at i=1). The slice(...) wrapper guards
    the empty-token case: Spark's sequence(1, 0) is DESCENDING ([1, 0]),
    so without it an empty document would emit two junk pair rows."""
    toks = ws_tokens(F.lower(F.col(text_col)))
    pairs = F.expr(
        "slice(transform(sequence(1, size(_toks)), i -> "
        f"struct(if(i = 1, '{BIGRAM_BOS}', get(_toks, i - 2)) AS prev, "
        "get(_toks, i - 1) AS tok)), "
        "1, size(_toks))"
    )
    cols = [F.col(id_col)] if id_col else []
    return (
        df.withColumn("_toks", toks)
        .select(*cols, F.explode_outer(pairs).alias("_p"))
        .select(*cols, F.col("_p.prev").alias("prev"), F.col("_p.tok").alias("tok"))
    )


def lm_score_bigram(
    docs: DataFrame,
    train: DataFrame,
    lam_num: int = 7,
    lam_den: int = 10,
    perplexity_cap: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated bigram LM scoring — the closer-to-CCNet sibling of
    lm_score, still exact bigint arithmetic end to end.

    Token probability under the λ-mixture (λ = lam_num/lam_den):
      p(t | prev) = λ·(c(prev,t)+1)/(c(prev)+V+1) + (1-λ)·(c(t)+1)/D
    with D = N+V+1 (lm_score's smoothing) and BOS as position-1 context.
    The per-token q6 inverse probability is the exact rational
      inv = (lam_den·db·du·10^6) div (lam_num·nb·du + (lam_den-lam_num)·nu·db)
    where nb = c(prev,t)+1, db = c(prev)+V+1, nu = c(t)+1, du = D — all
    integers, so the oracle replays the MIXTURE bit-for-bit (a float λ
    would immediately lose cross-engine exactness).

    Overflow bound: lam_den·db·du·10^6 < 2^63 needs db·du < 9.2e11, i.e.
    a training slice under ~1M tokens at these constants. Bigger curated
    slices drop the q6 constant to q3 (adds 9.6e5 headroom per decade) or
    move the product to decimal(38,0); the bigint form is kept for
    whole-stage codegen.

    Shape at scale: the bigram/context/unigram relations are vocab- and
    bigram-bounded → broadcast joins against the (prev, tok) stream (at
    web-scale bigram tables, swap the bigram join to a shuffle join on
    (prev, tok) — the stream is already keyed by it); the 1-row totals
    relation attaches via a broadcast NLJ (the layout_zorder bounds
    idiom) because du sits inside each token's div, unlike lm_score's
    algebraically-foldable OOV mass."""
    from hadoop_1_spark.operators.caching import persist_tracked

    # inner-explode semantics on the model side: an empty training doc
    # must contribute NO rows (explode_outer's NULL row would otherwise
    # pollute the vocab/context groups with a NULL entry)
    tp = _bigram_pairs(train, text_col, None).where(F.col("tok").isNotNull())
    # ONE corpus-sized aggregation: the unigram and context relations are
    # marginals of the bigram counts (c(t) = Σ_prev c(prev,t),
    # c(prev) = Σ_t c(prev,t)), so they aggregate the BOUNDED persisted
    # bigram relation, never the token stream again.
    big = persist_tracked(
        tp.groupBy("prev", "tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("_cb")
        )
    )
    uni = big.groupBy("tok").agg(F.sum("_cb").cast("bigint").alias("_cu"))
    totals = uni.agg(
        (F.coalesce(F.sum("_cu"), F.lit(0)) + F.count(F.lit(1)) + 1)
        .cast("bigint")
        .alias("_du"),
        (F.count(F.lit(1)) + 1).cast("bigint").alias("_v1"),
    )
    ctx = big.groupBy("prev").agg(F.sum("_cb").cast("bigint").alias("_cc"))

    dp = _bigram_pairs(docs, text_col, id_col)
    j = (
        dp.crossJoin(F.broadcast(totals))
        .join(F.broadcast(big), ["prev", "tok"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .join(F.broadcast(uni), "tok", "left")
    )
    lam2 = lam_den - lam_num
    inv = F.expr(
        f"""
        ({lam_den} * (coalesce(_cc, CAST(0 AS BIGINT)) + _v1) * _du * 1000000) div
        ({lam_num} * (coalesce(_cb, CAST(0 AS BIGINT)) + 1) * _du
         + {lam2} * (coalesce(_cu, CAST(0 AS BIGINT)) + 1)
                  * (coalesce(_cc, CAST(0 AS BIGINT)) + _v1))
        """
    )
    per = j.groupBy(id_col).agg(
        F.count("tok").cast("bigint").alias("n_tokens"),
        F.coalesce(F.sum(F.when(F.col("tok").isNotNull(), inv)), F.lit(0))
        .cast("bigint")
        .alias("_s_inv"),
    )
    return per.withColumn(
        "mean_invp_q6",
        F.expr("_s_inv div greatest(n_tokens, CAST(1 AS BIGINT))").cast("bigint"),
    ).select(
        F.col(id_col),
        "n_tokens",
        "mean_invp_q6",
        (F.col("mean_invp_q6") <= F.lit(perplexity_cap * 1000000)).alias("keep"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
) -> DataFrame:
    """Collocation detection by pointwise mutual information over adjacent
    token pairs — the classic phrase-mining statistic (PMI(x,y) =
    log(N*c_xy / (c_x*c_y))), computed in EXACT scaled-integer arithmetic:
    the monotone ratio N*c_xy/(c_x*c_y) ships as ``pmi_q6`` (micro-units,
    truncate-toward-zero decimal division — all terms positive, so this is
    floor and engine-identical with DuckDB's HUGEINT ``//``), and the raw
    counts ship alongside so consumers can re-derive the log exactly.

    Plan: two scans of the text column (token stream for unigram counts,
    pair stream for bigram counts — the pair stream drops each doc's last
    token, so the unigram side cannot be derived from it), one shuffle
    each on the (bounded-vocabulary) key, then broadcast joins of the
    unigram counts and the 1-row total onto the surviving pairs.
    ``min_count`` is the standard noise floor: a pair seen once has
    degenerate PMI. At 100 TB the vocabulary grows sublinearly with the
    corpus, so the broadcast holds; if a vocabulary ever outgrew it, drop
    the hints and the pair-keyed shuffle join is the fallback."""
    toks = ws_tokens(F.col(text_col))
    t = df.select(toks.alias("toks"), F.size(toks).alias("n"))
    uni = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    bg = (
        t.where(F.col("n") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, n - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    pc = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("pair_cnt"))
        .where(F.col("pair_cnt") >= min_count)
    )
    d38 = "decimal(38,0)"
    j = (
        pc.join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))), "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_num",
            (
                F.col("pair_cnt").cast(d38)
                * F.col("n_tokens").cast(d38)
                * F.lit(1000000).cast(d38)
            ).cast(d38),
        )
        .withColumn("_den", (F.col("c1").cast(d38) * F.col("c2").cast(d38)).cast(d38))
    )
    return j.select(
        "w1",
        "w2",
        "pair_cnt",
        "c1",
        "c2",
        "n_tokens",
        F.expr("_num div _den").cast("bigint").alias("pmi_q6"),
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 lexical retrieval (k1 = 1.2, b = 0.75) for a fixed query-term
    list, in EXACT integer arithmetic via the log-free rational-idf
    variant — the same oracle-ability trade lm_score documents: ln() is
    not correctly-rounded-guaranteed across engines, so the idf keeps
    the raw Robertson odds ratio (N - df + 0.5)/(df + 0.5) instead of
    its log. Rankings shift toward rarer terms vs classic BM25
    (documented variant, not a bug); the tf saturation curve — BM25's
    actual innovation — is bit-exact.

    With half-integers cleared (x2) and k1 = 12/10, b = 3/4,
    avgdl = T/N_d (T total tokens, N_d docs) multiplied through, each
    (doc, term) contributes the exact q6 integer

        score = (2*N_d - 2*df + 1) * 22 * tf * T * 10^6
                div ((2*df + 1) * (10*tf*T + 3*T + 9*dl*N_d))

    in DECIMAL(38,0) (truncate == floor: every factor positive), and a
    document's score is the bigint sum over matched terms. Headroom:
    numerator <= 2*N_d*22*tf*T*10^6 — at web scale (N_d ~ 10^10 docs,
    T ~ 10^13 tokens, tf <= 10^3) that is ~4*10^34 < 10^38; past that,
    coarsen to q3.

    Shape at 100 TB: the tokenized projection is computed once and
    persisted (doc-length stats and tf extraction both read it — without
    the persist the regex tokenization, the query's dominant cost, runs
    twice); the tf branch filters to the query terms (|terms| is tiny,
    the IN-list prunes before any shuffle); df and the (N_d, T) totals
    are term-count-sized and 1-row relations, broadcast onto the tf
    rows; the only corpus-keyed exchange is the per-doc score
    aggregation. Top-k is a TakeOrdered (orderBy+limit), never a global
    sort; the rank window runs over the k survivors only.

    NULL ``text_col`` rows count as zero-token documents (they stay in
    N_d, contribute nothing to T, and can never match a term) — the
    same rule the oracle applies with coalesce(len(toks), 0)."""
    from pyspark.sql.window import Window

    from hadoop_1_spark.operators.caching import persist_tracked

    toks = ws_tokens(F.lower(F.col(text_col)))
    t = persist_tracked(
        docs.select(
            F.col(id_col),
            F.coalesce(toks, F.array().cast("array<string>")).alias("_toks"),
        )
    )
    d = t.select(id_col, F.size("_toks").cast("bigint").alias("_dl"))
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("_nd"),
        F.coalesce(F.sum("_dl"), F.lit(0)).cast("bigint").alias("_tt"),
    )
    tf = (
        t.select(F.col(id_col), F.explode("_toks").alias("_w"))
        .where(F.col("_w").isin(*terms))
        .groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_tf"))
    )
    dfreq = tf.groupBy("_w").agg(F.count(F.lit(1)).cast("bigint").alias("_df"))
    d38 = "decimal(38,0)"
    term_q6 = F.expr(
        f"(CAST(2 * _nd - 2 * _df + 1 AS {d38}) * CAST(22 AS {d38})"
        f" * CAST(_tf AS {d38}) * CAST(_tt AS {d38}) * CAST(1000000 AS {d38}))"
        f" div (CAST(2 * _df + 1 AS {d38})"
        f" * (CAST(10 AS {d38}) * CAST(_tf AS {d38}) * CAST(_tt AS {d38})"
        f" + CAST(3 AS {d38}) * CAST(_tt AS {d38})"
        f" + CAST(9 AS {d38}) * CAST(_dl AS {d38}) * CAST(_nd AS {d38})))"
    ).cast("bigint")
    scored = (
        tf.join(F.broadcast(dfreq), "_w")
        .join(d, id_col)
        .crossJoin(F.broadcast(tot))
        .select(F.col(id_col), term_q6.alias("_q6"))
        .groupBy(id_col)
        .agg(F.sum("_q6").cast("bigint").alias("score_q6"))
    )
    top = scored.orderBy(F.desc("score_q6"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score_q6"), F.asc(id_col))
    return top.select(
        id_col, "score_q6", F.row_number().over(w).cast("int").alias("rank")
    )

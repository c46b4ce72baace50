"""Deterministic sampling scans (SequenceFileInputFilter family) + statistical
sampling.

Reference parity:
- SequenceFileInputFilter.RegexFilter    mapred/SequenceFileInputFilter.java:81
  (accept keys matching a regex)
- SequenceFileInputFilter.PercentFilter  mapred/SequenceFileInputFilter.java:
  (accept keys where hash(key) % f == 0 — keep ~1/f of records,
  deterministically by key)
- SequenceFileInputFilter.MD5Filter      (accept keys where
  MD5(key) % f == 0 — better-mixed deterministic sampling)
- df.sample covers the *statistical* intent (InputSampler.RandomSampler,
  mapreduce/lib/partition/InputSampler.java:158).

Cross-engine note: Java's hashCode is engine-specific, so PercentFilter here
keys off the value itself for numeric keys and off md5 for strings — both
reproducible in any engine (the property that matters: deterministic,
well-mixed, key-based).  All three compile to simple filters that Catalyst
pushes down to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def regex_filter(df: DataFrame, key: str, pattern: str) -> DataFrame:
    """RegexFilter: keep records whose key matches the regex."""
    return df.filter(F.col(key).rlike(pattern))


def percent_filter(df: DataFrame, key: str, frequency: int) -> DataFrame:
    """PercentFilter on a numeric key: keep records where key % f == 0."""
    return df.filter(F.pmod(F.col(key), F.lit(frequency)) == 0)


def md5_mod(col: Column, frequency: int) -> Column:
    """MD5-based bucket: first 8 hex chars of md5(key) as an int, mod f.
    Identical in Spark and DuckDB/ANSI engines (md5 hex is portable)."""
    return F.pmod(F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint"), F.lit(frequency))


def md5_filter(df: DataFrame, key: str, frequency: int) -> DataFrame:
    """MD5Filter: keep records where md5-bucket(key) == 0 (~1/f of rows)."""
    return df.filter(md5_mod(F.col(key), frequency) == 0)


def universe_sample(df: DataFrame, key: Column, pct: int) -> DataFrame:
    """Universe (coherent entity-level) sampling: keep every row whose
    KEY hashes into the sampled pct% of the key universe — the BlinkDB/
    Quickr-style trick for 100 TB exploration: because membership is a
    pure function of the key, the SAME entities survive in every table,
    so joins of samples equal samples of joins EXACTLY (Bernoulli
    row-sampling destroys join pairs quadratically). md5-deterministic,
    no RNG state, reproducible across engines and reruns; the filter is
    a narrow predicate the scan absorbs."""
    if not 0 <= pct <= 100:
        raise ValueError(f"universe_sample: pct must be 0..100, got {pct}")
    return df.filter(md5_mod(key, 100) < pct)


def weighted_systematic(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic PPS (probability-proportional-to-size) systematic
    sampling: order rows by (md5(id), id) — the fixed 'random' tape —
    take the exact integer running weight sum, and select every row
    whose cumulative interval crosses one of k equally spaced
    thresholds: floor(cum*k/W) > floor((cum-w)*k/W). Inclusion
    probability is proportional to weight (the weighted-corpus sampling
    rule: long documents proportionally more likely), the arithmetic is
    pure bigint — no float acceptance tests, so the SAMPLE ITSELF
    replays in SQL — and the selection is partitioning-independent.

    Exactly k rows come back when no single weight exceeds W/k; a
    heavier row spans multiple thresholds but is emitted once, so such
    rows shrink the sample (cap weights upstream if exact-k matters).

    Scale: the running sum is the distributed two-pass prefix scan
    (sort.global_prefix_sum), the total W is a one-row broadcast —
    no single-partition window anywhere. Weights must be positive."""
    from hadoop_1_spark.operators import sort as sortops

    w = df.select(
        F.col(id_col), F.col(weight_col).cast("bigint").alias("_wt")
    ).where(F.col(weight_col) > 0)
    w = w.withColumn("_h", F.md5(F.col(id_col).cast("string")))
    cum = sortops.global_prefix_sum(
        w, F.asc("_h"), F.asc(id_col), value_col="_wt", out_col="_cum"
    )
    tot = cum.agg(F.max("_cum").cast("bigint").alias("_tot"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .where(
            F.expr(f"(_cum * {k}) div _tot") > F.expr(f"((_cum - _wt) * {k}) div _tot")
        )
        .select(
            F.col(id_col),
            F.col("_wt").alias("weight"),
            F.col("_cum").cast("bigint").alias("cum_wt"),
        )
    )


def negative_sample(
    positives: DataFrame,
    universe: DataFrame,
    k: int,
    user_col: str = "user_id",
    item_col: str = "item",
    seed: str = "",
) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training
    (recommender / contrastive data prep): for every user present in
    ``positives``, pick ``k`` items from ``universe`` the user has NOT
    interacted with, ranked by md5(seed:user:item) — a uniform-at-random
    draw under a portable hash, so any engine (and any rerun) selects
    the SAME negatives; pass a different ``seed`` string (e.g. the
    epoch number) for an independent redraw.

    Shape at 100 TB: universe is the item catalog — broadcast when it
    fits (the common case: catalogs are millions, interactions are
    billions). The naive shape ranks ALL |catalog| candidates per user
    through a shuffle+window — O(users x items) intermediate rows, the
    one super-linear row in the r5 scale probe. Instead the candidate
    grid is PRE-THINNED inside the broadcast nested-loop join itself:
    only pairs whose ranking hash falls below a threshold chosen from
    the catalog size (expected ~``max(64, 8k)`` survivors per user)
    reach the shuffle. This is EXACT, not approximate: thinning keeps
    every candidate with hash < t, so whenever a user retains >= k
    non-positive survivors the true k smallest hashes are all among
    them; the rare user with fewer survivors (hash-unlucky or
    positives-dominated) is detected by a per-user count and re-ranked
    against the full catalog — a fallback whose input is |short users|
    x |catalog|, vanishingly small by construction. Per-pair hash
    evaluation remains O(users x items) compute but streams through
    the join operator without materializing rows."""
    from pyspark.sql.window import Window

    from hadoop_1_spark.operators.caching import persist_tracked

    # NOT pinned: pos is probed by two anti-joins, but pinning it costs a
    # materialization barrier on the upstream scan that measures ~1.1 s at
    # sf0.1 — more than the recomputes it saves (A/B, round 7)
    pos = positives.select(user_col, item_col).distinct()
    users = pos.select(user_col).distinct()
    # pinned: the thinned grid and the short-user full re-rank both
    # re-read the catalog, as does the sizing aggregate below
    catalog = persist_tracked(universe.select(item_col).distinct())
    rank_hash = F.md5(
        F.concat(
            F.lit(f"{seed}:"),
            F.col(user_col).cast("string"),
            F.lit(":"),
            F.col(item_col).cast("string"),
        )
    )
    w = Window.partitionBy(user_col).orderBy(rank_hash, F.col(item_col))

    target = max(64, 8 * k)
    # Threshold on the first 8 hex chars of the ranking hash (uniform in
    # [0, 16^8)), derived from the catalog size INSIDE the plan: the
    # one-row count aggregate rides along as a broadcast crossJoin, so
    # building the sampler stays fully lazy — no driver-side count()
    # action per call (round-6 verdict #2). A small catalog
    # (n <= 2*target: the grid is already ~target-sized per user) gets
    # the sentinel threshold 'g', which every 8-hex-char prefix sorts
    # below — the thin grid degenerates to the full grid and the
    # survivor check below passes everyone it should.
    t_col = (
        F.when(F.col("_n_items") <= 2 * target, F.lit("g"))
        .otherwise(
            F.lpad(
                F.lower(
                    F.hex(
                        F.least(
                            F.lit(16**8 - 1),
                            F.expr(f"({target} * {16**8}) div _n_items + 1"),
                        )
                    )
                ),
                8,
                "0",
            )
        )
        .alias("_t")
    )
    ncnt = catalog.agg(F.count(F.lit(1)).cast("bigint").alias("_n_items"))
    # Predicate is pushed into the BroadcastNestedLoopJoin so
    # non-survivors are never materialized. The md5 input's per-side
    # fragments ("seed:user:" and the item string) are precomputed on the
    # user / catalog relations BEFORE the join, so the per-pair work in
    # the O(users x items) grid scan — the measured linear term of this
    # operator — is one concat + one md5, not two casts + three concats.
    u_pre = users.withColumn(
        "_upfx",
        F.concat(F.lit(f"{seed}:"), F.col(user_col).cast("string"), F.lit(":")),
    )
    c_pre = catalog.withColumn("_istr", F.col(item_col).cast("string"))
    pair_hash = F.md5(F.concat(F.col("_upfx"), F.col("_istr")))
    thin = (
        u_pre.crossJoin(F.broadcast(ncnt.select(t_col)))
        .crossJoin(F.broadcast(c_pre))
        .where(F.substring(pair_hash, 1, 8) < F.col("_t"))
        .select(user_col, item_col)
    )
    # One materialization of the thinned grid: both the survivor count and
    # the ranked output read it, and without the pin each would replay the
    # full O(users x items) hash scan inside the nested-loop join.
    neg_thin = persist_tracked(thin.join(pos, [user_col, item_col], "left_anti"))
    survivors = neg_thin.groupBy(user_col).agg(F.count("*").alias("_n"))
    # Users with >= k thinned non-positive survivors are exactly ranked by
    # the thinned set; the rest re-rank against the full catalog. Each
    # user's candidates come from exactly ONE branch, so the two branches
    # union BEFORE a single ranking window (one exchange, not two).
    short = users.join(
        survivors.where(F.col("_n") >= k), user_col, "left_anti"
    )
    full_cand = short.crossJoin(F.broadcast(catalog)).join(
        pos, [user_col, item_col], "left_anti"
    )
    cand = neg_thin.join(F.broadcast(short), user_col, "left_anti").unionByName(
        full_cand
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(user_col, item_col, "rank")
    )


def negative_sample_draws(
    positives: DataFrame,
    universe: DataFrame,
    k: int,
    m: int | None = None,
    user_col: str = "user_id",
    item_col: str = "item",
    seed: str = "",
) -> DataFrame:
    """O(users x draws) deterministic negative sampling — the 100 TB-scale
    sibling of :func:`negative_sample`.

    The exact ranker evaluates one md5 per (user, catalog item): that
    per-pair grid scan is its honest linear term (scripts/neg_probe.py:
    ~2.3x at 10x on either axis). This variant changes the CONTRACT
    instead of approximating the old one: per user, draw ``m`` catalog
    positions with a portable hash — idx_j = md5(seed:user:j) mod
    |catalog|, j = 1..m — and keep the first ``k`` distinct non-positive
    draws in draw order (ties impossible: each j maps to one item). Work
    is O(users x m) rows, independent of catalog size; the catalog
    contributes one distributed dense index (sort.global_rank — never a
    single-partition window) probed by a broadcast join.

    Exactness: the draw sequence is a pure function of (seed, user, j)
    and the catalog's sorted order, so any engine replays it — the
    DuckDB oracle unrolls the same draws with generate_series. Users
    whose m draws yield fewer than k distinct non-positives (tiny
    catalogs or positive-dominated users) fall back to the exact
    full-catalog md5 ranking, exactly :func:`negative_sample`'s order —
    detected by a per-user count, replayed by the oracle.

    Returns (user, item, rank) with rank 1..k in draw order (fallback
    users: ranking-hash order)."""
    from pyspark.sql.window import Window

    from hadoop_1_spark.operators.caching import persist_tracked
    from hadoop_1_spark.operators.sort import global_rank

    if m is None:
        m = 8 * k + 16
    pos = positives.select(user_col, item_col).distinct()
    users = pos.select(user_col).distinct()
    catalog = persist_tracked(universe.select(item_col).distinct())
    # dense 0-based catalog index, distributed (range shuffle + offsets)
    idx = global_rank(catalog, item_col, rank_col="_r").select(
        (F.col("_r") - 1).alias("_idx"), item_col
    )
    ncnt = catalog.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    draw_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{seed}:"),
                    F.col(user_col).cast("string"),
                    F.lit(":"),
                    F.col("_j").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    draws = (
        users.crossJoin(F.broadcast(ncnt))
        .select(user_col, F.explode(F.sequence(F.lit(1), F.lit(m))).alias("_j"), "_n")
        # greatest(n, 1): an empty catalog would make pmod error under
        # ANSI; with it the draws hit no index rows and every user falls
        # through to the (empty) fallback — a clean empty result
        .select(
            user_col,
            "_j",
            F.pmod(draw_hash, F.greatest(F.col("_n"), F.lit(1))).alias("_idx"),
        )
    )
    cand = (
        draws.join(F.broadcast(idx), "_idx")
        .join(pos, [user_col, item_col], "left_anti")
        .groupBy(user_col, item_col)
        .agg(F.min("_j").alias("_jmin"))
    )
    w = Window.partitionBy(user_col).orderBy("_jmin")
    kept = persist_tracked(
        cand.withColumn("rank", F.row_number().over(w).cast("int")).where(
            F.col("rank") <= k
        )
    )
    full = kept.groupBy(user_col).agg(F.count(F.lit(1)).alias("_c")).where(
        F.col("_c") >= k
    )
    short = users.join(full, user_col, "left_anti")
    # exact full-catalog fallback for short users: negative_sample's order
    rank_hash = F.md5(
        F.concat(
            F.lit(f"{seed}:"),
            F.col(user_col).cast("string"),
            F.lit(":"),
            F.col(item_col).cast("string"),
        )
    )
    wf = Window.partitionBy(user_col).orderBy(rank_hash, F.col(item_col))
    fallback = (
        short.crossJoin(F.broadcast(catalog))
        .join(pos, [user_col, item_col], "left_anti")
        .withColumn("rank", F.row_number().over(wf).cast("int"))
        .where(F.col("rank") <= k)
    )
    return (
        kept.join(F.broadcast(short), user_col, "left_anti")
        .select(user_col, item_col, "rank")
        .unionByName(fallback.select(user_col, item_col, "rank"))
    )

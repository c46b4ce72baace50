"""Occupancy-derived hot-key cap: the rule behind ``cap="auto"``.

The self-joining near-dup operators in ``dedup`` (``minhash_lsh_pairs``
band_cap, ``ngram_jaccard_pairs`` / ``containment_pairs`` df_cap,
``winnow_overlap_pairs`` fp_cap) take a hot-key cap — the skew guard that
bounds the O(B^2) candidate blowup a degenerate key (mass-produced
boilerplate, empty-text minima, a 31-word vocabulary) causes at scale. A
static cap has a failure mode: the operator is only safe if the caller
knew the corpus was degenerate ahead of time. Passing ``"auto"`` derives
the cap from the measured key-count distribution before the self-join
(``dedup._drop_hot_keys``), so the path degrades gracefully on
degenerate vocabularies with no tuning:

    med  = lower-median key count               (exact order statistic)
    cap  = max(cap_floor, cap_factor * med)     (exact BIGINT arithmetic)

Why the MEDIAN and not the mean: in the skewed regimes the cap exists for
(mass boilerplate, a 31-word vocabulary) the hot keys carry most of the
ROWS, so mean = total/distinct inflates with them and a mean-derived cap
chases the offenders upward instead of cutting them. The median is over
KEYS, not rows — a few giant keys cannot move it, so the cap stays
O(typical key) and the giant keys (exactly the O(B^2) offenders) are
dropped before the join. Worst-case band join cost becomes
O(bands * cap * n). A pair is lost only if NO surviving key covers it;
near-identical docs agree on most bands, so planted-pair recall cost is
tiny (the same trade the static band_cap documents on
``dedup.minhash_lsh_pairs``). On a healthy corpus band keys are
near-unique (median 1, sf0.01 max occupancy 3), so cap = cap_floor drops
nothing and the result is bit-identical to the uncapped operator. The
one regime the MEDIAN rule cannot guard is a corpus that is MOSTLY
duplicate clusters, or a fixed vocabulary under a growing corpus (the
median itself is hot, so a median-relative cap admits the cliques) —
round 12 closes it with a work-budget level (see ``work_budget_cap``):
cap = max(floor, min(factor * median, work cap)), so admitted join work
is O(work_factor * input rows) by construction and the clique keys
abstain (those duplicates are exact_dedup's job, as always documented).
``two_level_cap`` computes both levels in one plan; ``median_cap`` and
``work_budget_cap`` are its composed reference form.

Scale shape: the median is computed from the count HISTOGRAM (count
value -> number of keys), never a global sort of the key counts.
Distinct count values d satisfy d(d+1)/2 <= total rows (each distinct
size is carried by at least one key), so d <= sqrt(2*tot) — ~1.4M
histogram rows at 10^12 rows — and the one ordered window over the
histogram is bounded by that, not by the corpus. Everything is in-plan:
the 1-row cap relation is broadcast into the filter (the repo's
scalar-crossJoin pattern, e.g. pagerank's dangling mass) — no blocking
collect.

Reference basis: the band join itself mirrors the LSH candidate
generation in ``dedup.minhash_lsh_pairs``; the reference's analog of a
data-derived skew guard is the sampled partition histogram TeraSort
builds before range-partitioning
(examples/terasort/TeraInputFormat.java:130 sample-then-plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def median_cap(
    counts: DataFrame, count_col: str, cap_floor: int = 8, cap_factor: int = 4
) -> DataFrame:
    """1-row cap relation over a (key, count) frequency table:
    cap = max(cap_floor, cap_factor * lower-median count). The lower
    median is the smallest count value whose cumulative key tally reaches
    ceil((nb + 1) / 2) — an exact order statistic over the count
    HISTOGRAM, pure BIGINT arithmetic throughout, so a DuckDB oracle
    replays it to the bit. The one ordered cumulative window runs over the
    histogram (<= sqrt(2 * total rows) rows — see module docstring), never
    the counts themselves.
    """
    hist = counts.groupBy(count_col).agg(F.count(F.lit(1)).alias("_nkeys"))
    cum = hist.select(
        count_col,
        F.sum("_nkeys")
        .over(
            Window.orderBy(count_col).rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("_cum"),
    )
    nb = hist.agg(F.sum("_nkeys").alias("_nb"))
    med = (
        cum.crossJoin(F.broadcast(nb))
        .where(F.col("_cum") >= F.expr("(_nb + 1) DIV 2"))
        .agg(F.min(count_col).alias("_med"))
    )
    return med.select(
        F.greatest(
            F.lit(cap_floor).cast("bigint"),
            F.lit(cap_factor) * F.col("_med"),
        ).alias("_cap")
    )


def work_budget_cap(
    counts: DataFrame, count_col: str, work_factor: int = 16
) -> DataFrame:
    """1-row work-budget cap over a (key, count) frequency table: the
    largest count value v such that the PREDICTED self-join work of the
    keys it admits — the cumulative sum of nkeys * count^2 over the
    count histogram, ascending — stays within ``work_factor`` times the
    total input rows (sum of counts). Admitted join rows are therefore
    O(work_factor * n) BY CONSTRUCTION, the linear-at-scale guarantee
    the median-relative cap cannot give when the whole count
    distribution shifts up together (round-12 diagnosis: the sf1
    31-word vocabulary puts the lower-median shingle DF at 89, so
    cap = 4 * 89 = 356 sits ABOVE the max DF of 130 and drops nothing —
    237M join rows, the 9.03x worst gate row of round 11).

    Returns NULL _wcap when even the smallest count exceeds the budget
    (callers coalesce to 0 and let their cap_floor win). Exact integer
    arithmetic — decimal(38,0) cumulative products so corpus-scale
    nkeys * count^2 never overflows bigint — and one ordered window
    over the HISTOGRAM (<= sqrt(2 * total rows) rows, see module
    docstring), so a DuckDB oracle replays the cap to the bit."""
    hist = counts.groupBy(count_col).agg(F.count(F.lit(1)).alias("_nkeys"))
    cumj = hist.select(
        count_col,
        F.sum(
            F.col("_nkeys").cast("decimal(38,0)")
            * F.col(count_col)
            * F.col(count_col)
        )
        .over(Window.orderBy(count_col).rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cumj"),
    )
    total = counts.agg(F.sum(count_col).cast("decimal(38,0)").alias("_total"))
    return (
        cumj.crossJoin(F.broadcast(total))
        .where(F.col("_cumj") <= F.lit(work_factor) * F.col("_total"))
        .agg(F.max(count_col).alias("_wcap"))
    )


def two_level_cap(
    counts: DataFrame,
    count_col: str,
    cap_floor: int = 8,
    cap_factor: int = 4,
    work_factor: int = 16,
) -> DataFrame:
    """1-row FUSED two-level cap over a (key, count) frequency table —
    the exact value ``max(cap_floor, min(max(cap_floor, cap_factor *
    lower-median count), work-budget cap))`` that composing
    :func:`median_cap` and :func:`work_budget_cap` produces (pinned by
    test_two_level_cap_matches_composed), in HALF the plan: both rules
    need a cumulative sum over the same count histogram ordered by count,
    so ONE histogram, ONE ordered window carrying both running sums
    (keys for the median, nkeys*count^2 for the work budget), ONE totals
    crossJoin and ONE conditional aggregation replace the two of each
    (r15, guide §2.4 — the composed form cost two extra window exchanges
    + two extra scalar aggregations per autocap query, a measurable slice
    of the stage-floor-bound autocap rows). total rows for the work
    budget come from the histogram (sum(nkeys * count) == sum(count) over
    the counts relation, exactly — the same derivation the DuckDB oracle
    CTEs use), and all arithmetic keeps the originals' types: BIGINT
    cumulative key tally, decimal(38,0) cumulative join work."""
    hist = counts.groupBy(count_col).agg(F.count(F.lit(1)).alias("_nkeys"))
    w = Window.orderBy(count_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        count_col,
        F.sum("_nkeys").over(w).alias("_cum"),
        F.sum(
            F.col("_nkeys").cast("decimal(38,0)")
            * F.col(count_col)
            * F.col(count_col)
        )
        .over(w)
        .alias("_cumj"),
    )
    tot = hist.agg(
        F.sum("_nkeys").alias("_nb"),
        F.sum(F.col("_nkeys").cast("decimal(38,0)") * F.col(count_col)).alias(
            "_total"
        ),
    )
    agg = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("_cum") >= F.expr("(_nb + 1) DIV 2"), F.col(count_col))
        ).alias("_med"),
        F.max(
            F.when(
                F.col("_cumj") <= F.lit(work_factor) * F.col("_total"),
                F.col(count_col),
            )
        ).alias("_wcap"),
    )
    return agg.select(
        F.greatest(
            F.lit(cap_floor).cast("bigint"),
            F.least(
                F.greatest(
                    F.lit(cap_floor).cast("bigint"),
                    F.lit(cap_factor) * F.col("_med"),
                ),
                F.coalesce(F.col("_wcap"), F.lit(0)).cast("bigint"),
            ),
        ).alias("_cap")
    )

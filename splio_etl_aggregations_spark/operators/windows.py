"""Window functions (SURVEY.md §2-E).

Every window spec's ORDER BY ends with a unique key (tie-break policy
§5.4) except pure ranking funcs whose output depends only on the sort
value. Time-range frames order on ``unix_micros`` so the frame boundary
arithmetic is exact integer µs on both engines.

Scale note: a window over ``partitionBy(user_id)`` shuffles once on
user_id; all the frames below then evaluate in a single sort within the
partition — no extra shuffles per function.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.helpers import r4
from ..registry import register


def _range_pinned(df, order, n_parts: int):
    """Phase one of every two-phase prefix: range-repartition ``df`` on
    ``order`` (each partition owns a contiguous key range; partition
    index follows the global order) and tag each row with its ``pid``.

    CACHED on purpose — correctness, not speed: the local pass and the
    per-partition aggregate both re-instantiate this subtree in the
    plan, and if Catalyst does NOT reuse the range exchange the two
    instances can sample DIFFERENT range boundaries, making pid disagree
    between them — offsets then attach to the wrong ranges (observed as
    a run-to-run flaky cumsum in dq_ks_drift before the fix). The cache
    pins one materialization that every consumer reads.
    """
    return (
        df.repartitionByRange(n_parts, *order)
        .withColumn("pid", F.spark_partition_id())
        .cache()
    )


def two_phase_global_rank(df, order, n_parts: int = 16):
    """Distributed global row_number over a total order (``order`` MUST
    end in a unique key) — the scale-safe replacement for a
    partition-less Window, which Spark collapses to ONE task:

    1. range-repartition on the sort key (:func:`_range_pinned`),
    2. local row_number within each range partition,
    3. per-partition counts (an ``n_parts``-row aggregate) → cumulative
       offsets, broadcast back; global rank = offset + local rank.

    Returns ``df`` plus ``rn`` (1-based global rank) and ``n_total``.
    Shared by ``win_global_rank_scalable``, ``win_ntile`` and
    ``win_percent_cume`` — ntile/percent_rank/cume_dist are pure
    arithmetic over (rn, n_total).
    """
    with_pid = _range_pinned(df, order, n_parts)
    local = with_pid.withColumn(
        "local_rn",
        F.row_number().over(Window.partitionBy("pid").orderBy(*order)),
    )
    sizes = with_pid.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = sizes.select(
        "pid",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("offset"),
        F.sum("cnt").over(
            Window.orderBy("pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("rn", (F.col("offset") + F.col("local_rn")).cast("long"))
        .drop("pid", "local_rn", "offset")
    )


#: scan aggregate → (column aggregate, null-skipping merge of a
#: partition's base with a row's local prefix)
_SCAN_AGGS = {
    "sum": (F.sum, lambda base, local: F.coalesce(base + local, local, base)),
    "max": (F.max, F.greatest),
}


def two_phase_scan(
    df,
    order,
    values,
    agg: str = "sum",
    inclusive: bool = True,
    n_parts: int = 16,
    with_source=False,
):
    """Distributed prefix scan of ``values`` columns in the total order
    ``order`` (must end in a unique key) — the companion of
    :func:`two_phase_global_rank` for running totals and running maxima,
    where a partition-less ``SUM()/MAX() OVER (ORDER BY …)`` would
    collapse the whole frame into one task: range partition on the sort
    key (:func:`_range_pinned`), local prefix ``agg`` per partition, then
    an ``n_parts``-row per-partition-``agg`` frame gives each partition
    its base. Adds one ``cum_<v>`` column per input value column.

    ``agg`` is ``"sum"`` or ``"max"``; ``inclusive=False`` excludes the
    current row (SQL ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    PRECEDING``: null on the first row). Callers wanting an exclusive
    SUM that starts at 0 take ``cum_<v> - <v>`` from the inclusive form.

    ``with_source=True`` additionally returns the internal CACHED
    range-partitioned frame so callers that also need totals or other
    aggregates over the same input (``dq_ks_drift``'s grand totals)
    read the one materialization this helper already pays for, instead
    of stacking a second cache layer on their input — the r2→r3
    ``dq_ks_drift`` bench regression was exactly that double cache.
    """
    fn, merge = _SCAN_AGGS[agg]
    parts = _range_pinned(df, order, n_parts)
    w_local = (
        Window.partitionBy("pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = parts.select(
        "*", *[fn(v).over(w_local).alias(f"_lp_{v}") for v in values]
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        parts.groupBy("pid")
        .agg(*[fn(v).alias(f"_pt_{v}") for v in values])
        .select(
            "pid",
            *[fn(f"_pt_{v}").over(w_off).alias(f"_base_{v}") for v in values],
        )
    )
    out = local.join(F.broadcast(offsets), "pid")
    for v in values:
        out = out.withColumn(
            f"cum_{v}", merge(F.col(f"_base_{v}"), F.col(f"_lp_{v}"))
        )
    out = out.drop(
        "pid",
        *[f"_lp_{v}" for v in values],
        *[f"_base_{v}" for v in values],
    )
    return (out, parts) if with_source else out


@register(
    "win_row_number",
    oracle="""
    SELECT o_orderkey,
           CAST(row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
    FROM orders
    """,
    tier="P1",
)
def win_row_number(spark, t):
    """Per-customer order sequence number."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t["orders"].select(
        "o_orderkey", F.row_number().over(w).cast("long").alias("rn")
    )


@register(
    "win_rank_dense",
    oracle="""
    SELECT p_partkey, p_brand, p_size,
           CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS BIGINT)
             AS rnk,
           CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS BIGINT)
             AS drnk
    FROM part
    """,
    tier="P1",
)
def win_rank_dense(spark, t):
    """rank/dense_rank with real ties (p_size has 50 distinct values)."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_size"))
    return t["part"].select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@register(
    "win_ntile",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
    FROM customer
    """,
    tier="P2",
)
def win_ntile(spark, t):
    """Quartile bucketing of customers by account balance — WITHOUT the
    single-partition global Window round 1 used (the classic 100×-scale
    killer): ntile(k) is pure arithmetic over the two-phase global rank.
    With n = total rows, base = n div k, rem = n mod k, the first
    ``rem`` buckets hold base+1 rows, so

        quartile(rn) = ⌈rn / (base+1)⌉                    if rn ≤ rem·(base+1)
                       rem + ⌈(rn − rem·(base+1)) / base⌉ otherwise

    (exact integer ceil via (a+b−1) div b). Hash-checked against the
    oracle's plain ntile(4) OVER (ORDER BY …)."""
    k = 4
    ranked = two_phase_global_rank(
        t["customer"].select("c_custkey", "c_acctbal"),
        [F.asc("c_acctbal"), F.asc("c_custkey")],
    ).withColumns(
        {
            "base": F.expr(f"n_total div {k}"),
            "rem": F.col("n_total") % k,
        }
    )
    quartile = F.when(
        F.col("rn") <= F.col("rem") * (F.col("base") + 1),
        F.expr("(rn + base) div (base + 1)"),
    ).otherwise(
        F.col("rem")
        + F.expr("(rn - rem * (base + 1) + base - 1) div base")
    )
    return ranked.select("c_custkey", quartile.cast("long").alias("quartile"))


@register(
    "win_percent_cume",
    oracle="""
    SELECT s_suppkey,
           round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 4) AS pct_rank,
           round(cume_dist() OVER (ORDER BY s_acctbal, s_suppkey), 4) AS cume
    FROM supplier
    """,
    tier="P2",
)
def win_percent_cume(spark, t):
    """Relative-position functions over suppliers by balance, computed
    from the two-phase global rank instead of round 1's partition-less
    Window (single-task at scale). The sort order ends in the unique
    s_suppkey, so there are no ties and the window functions reduce to
    exact arithmetic: percent_rank = (rn−1)/(n−1), cume_dist = rn/n.
    Hash-checked against the oracle's plain OVER (ORDER BY …) forms."""
    ranked = two_phase_global_rank(
        t["supplier"].select("s_suppkey", "s_acctbal"),
        [F.asc("s_acctbal"), F.asc("s_suppkey")],
    )
    pct = F.when(
        F.col("n_total") > 1,
        (F.col("rn") - 1) / (F.col("n_total") - 1),
    ).otherwise(F.lit(0.0))
    return ranked.select(
        "s_suppkey",
        r4(pct).alias("pct_rank"),
        r4(F.col("rn") / F.col("n_total")).alias("cume"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id,
           round(lag(value) OVER w, 4) AS prev_value,
           lead(event_type) OVER w AS next_type,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tier="P1",
)
def win_lag_lead(spark, t):
    """Previous/next event attributes + exact µs gap per user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return t["events"].select(
        "event_id",
        r4(F.lag("value").over(w)).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )


@register(
    "win_running_total",
    oracle="""
    SELECT event_id, user_id,
           round(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 4) AS running_value
    FROM events
    """,
    tier="P0",
)
def win_running_total(spark, t):
    """Cumulative per-user sum ordered by time."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t["events"].select(
        "event_id", "user_id", r4(F.sum("value").over(w)).alias("running_value")
    )


@register(
    "win_sliding_rows",
    oracle="""
    SELECT event_id,
           round(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             AS ma3
    FROM events
    """,
    tier="P1",
)
def win_sliding_rows(spark, t):
    """3-row moving average per user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return t["events"].select(
        "event_id", r4(F.avg("value").over(w)).alias("ma3")
    )


@register(
    "win_range_time",
    oracle="""
    SELECT event_id, user_id,
           round(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
                                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                        AND CURRENT ROW), 4) AS sum_1h
    FROM events
    """,
    tier="P2",
)
def win_range_time(spark, t):
    """Trailing 1-hour value sum per user (time-range frame).

    Spark range frames need a numeric order key: unix_micros gives exact
    integer microseconds, so the [-3600e6, 0] frame is bit-identical to
    DuckDB's INTERVAL arithmetic. RANGE peers (equal ts) group together
    in both engines, so no unique tie-break is needed or allowed here.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return t["events"].select(
        "event_id", "user_id", r4(F.sum("value").over(w)).alias("sum_1h")
    )


@register(
    "win_first_last_value",
    oracle="""
    SELECT event_id,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER w AS last_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tier="P2",
)
def win_first_last_value(spark, t):
    """First/last event value per user over the full-partition frame (the
    default growing frame makes last_value ≡ current row — always pin the
    frame)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return t["events"].select(
        "event_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
    )


@register(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey)
                  AS BIGINT) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tier="P1",
)
def win_topk_per_group(spark, t):
    """Top-3 orders per customer by price (QUALIFY pattern)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_global_rank_scalable",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)
                AS BIGINT) AS rn
    FROM customer
    """,
    tier="P2",
)
def win_global_rank_scalable(spark, t):
    """Global ranking WITHOUT the single-partition window.

    ``row_number() OVER (ORDER BY …)`` with no PARTITION BY collapses to
    one task in Spark (WindowExec warns and moves all rows to one
    partition) — correct at fixture scale, dead at 100 TB. This is the
    scalable two-phase form:

    1. range-repartition on the sort key (distributed sort — each
       partition owns a contiguous key range, partition index follows
       the global order),
    2. local row_number within each partition (window PARTITIONed BY the
       range-partition id — no global collapse),
    3. per-partition counts (a #partitions-row aggregate) → cumulative
       offsets, broadcast back; global rank = offset + local rank.

    The hash-check against the oracle's plain OVER (ORDER BY) proves the
    two forms agree. Ties are impossible: c_custkey terminates the sort.
    (The mechanism lives in ``two_phase_global_rank``, shared with
    ``win_ntile`` and ``win_percent_cume``.)
    """
    return two_phase_global_rank(
        t["customer"].select("c_custkey", "c_acctbal"),
        [F.desc("c_acctbal"), F.asc("c_custkey")],
    ).select("c_custkey", "c_acctbal", "rn")


@register(
    "win_nth_value",
    oracle="""
    SELECT o_orderkey, o_custkey,
           nth_value(o_totalprice, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_order_price
    FROM orders
    """,
    tier="P2",
)
def win_nth_value(spark, t):
    """Each customer's second-ever order price on every row (NULL for
    single-order customers) — nth_value with an explicit full-partition
    frame, since the default frame would hide the value until row 2."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.nth_value("o_totalprice", 2).over(w).alias("second_order_price"),
    )


@register(
    "win_streak_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, ts::DATE AS d FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
      FROM days
    ),
    runs AS (
      SELECT user_id, island, COUNT(*)::BIGINT AS len
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           SUM(len)::BIGINT AS n_active_days,
           COUNT(*)::BIGINT AS n_streaks,
           MAX(len)::BIGINT AS longest_streak
    FROM runs GROUP BY user_id
    """,
    tier="P2",
)
def win_streak_islands(spark, t):
    """Consecutive-day activity streaks per user (gaps-and-islands):
    distinct active days, minus their per-user rank, collapse each
    unbroken run onto one island date; run lengths then give the streak
    count and the longest streak.

    Every window and aggregate partitions by user_id — one shuffle key
    end to end, island width bounded by a user's active days. The
    date-minus-rank trick keeps the island key a plain date (exact
    integer day arithmetic on both engines, no epoch conversions).
    """
    days = (
        t["events"]
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        days.withColumn("island", F.date_sub("d", F.row_number().over(w)))
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


@register(
    "pareto_revenue_deciles",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, SUM(o_totalprice) AS rev FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rn,
             COUNT(*) OVER () AS n_total, SUM(rev) OVER () AS total_rev
      FROM cust
    ),
    per AS (
      SELECT ((rn - 1) * 10 // n_total) + 1 AS decile,
             COUNT(*)::BIGINT AS n_customers,
             round(SUM(rev), 4) AS revenue,
             round(SUM(rev) / MAX(total_rev), 4) AS rev_share,
             SUM(rev) AS raw_rev, MAX(total_rev) AS traw
      FROM ranked GROUP BY decile
    )
    SELECT decile, n_customers, revenue, rev_share,
           round(SUM(raw_rev) OVER (ORDER BY decile
                   ROWS UNBOUNDED PRECEDING) / traw, 4) AS cum_share
    FROM per
    """,
    tier="P2",
)
def pareto_revenue_deciles(spark, t):
    """Pareto / ABC revenue-concentration analysis: customers ranked by
    total spend, cut into 10 rank-deciles, each reporting customer
    count, revenue, revenue share, and cumulative share — the "top 10 %
    of customers drive X % of revenue" rollup.

    The global rank rides ``two_phase_global_rank`` (range partition +
    local rank + broadcast offsets — never a partition-less window over
    customers); decile assignment is pure integer arithmetic over
    (rn, n_total); the only partition-less window left runs over the
    10-row decile frame.
    """
    cust = t["orders"].groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    ranked = two_phase_global_rank(
        cust, [F.desc("rev"), F.asc("o_custkey")]
    )
    total = cust.agg(F.sum("rev").alias("total_rev"))
    decile = (
        F.expr("(rn - 1) * 10 DIV n_total") + 1
    ).alias("decile")
    per = (
        ranked.crossJoin(F.broadcast(total))
        .groupBy(decile)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            r4(F.sum("rev")).alias("revenue"),
            r4(F.sum("rev") / F.max("total_rev")).alias("rev_share"),
            F.sum("rev").alias("raw_rev"),
            F.max("total_rev").alias("traw"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile",
        "n_customers",
        "revenue",
        "rev_share",
        r4(F.sum("raw_rev").over(w) / F.col("traw")).alias("cum_share"),
    )


@register(
    "win_bollinger_bands",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, value,
             round(AVG(value) OVER win, 4) AS ma7,
             round(stddev_samp(value) OVER win, 4) AS sd7,
             COUNT(*) OVER win AS n_win
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, round(value, 4) AS value, ma7, sd7,
           CASE WHEN value > ma7 + 2 * sd7 THEN 1
                WHEN value < ma7 - 2 * sd7 THEN -1
                ELSE 0 END AS breach
    FROM w WHERE n_win = 7
    """,
    tier="P2",
)
def win_bollinger_bands(spark, t):
    """Bollinger bands per user: trailing 7-event moving average ±
    2 rolling sample-stddevs, with a breach flag (+1 above, -1 below) —
    the rolling-volatility envelope behind alerting and trading-style
    signals. Rows without a full 7-event history are excluded so the
    bands are always well-defined.

    One window spec (user partition, exact (ts, event_id) order) carries
    all three frame aggregates in a single pass — no extra shuffles per
    function. The breach compares ROUNDED bands so both engines make
    the same call at the boundary.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    d = t["events"].select(
        "event_id",
        "user_id",
        "value",
        r4(F.avg("value").over(w)).alias("ma7"),
        r4(F.stddev_samp("value").over(w)).alias("sd7"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )
    breach = (
        F.when(F.col("value") > F.col("ma7") + 2 * F.col("sd7"), 1)
        .when(F.col("value") < F.col("ma7") - 2 * F.col("sd7"), -1)
        .otherwise(0)
    )
    return d.filter(F.col("n_win") == 7).select(
        "event_id",
        "user_id",
        r4("value").alias("value"),
        "ma7",
        "sd7",
        breach.alias("breach"),
    )


@register(
    "agg_gini_revenue",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, SUM(o_totalprice) AS rev FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rn,
             COUNT(*) OVER () AS n, SUM(rev) OVER () AS total
      FROM cust
    )
    SELECT round(2.0 * SUM(rn * rev) / (MAX(n) * MAX(total))
                 - (MAX(n) + 1.0) / MAX(n), 4) AS gini,
           MAX(n)::BIGINT AS n_customers
    FROM ranked
    """,
    tier="P2",
)
def agg_gini_revenue(spark, t):
    """Gini coefficient of customer revenue (0 = perfectly equal,
    →1 = one customer is all the revenue) via the rank formulation
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted revenues —
    the one-number inequality companion to ``pareto_revenue_deciles``.

    The rank rides ``two_phase_global_rank`` (never a partition-less
    window over customers); the final fold is a scalar aggregate of
    exact (rank × revenue) products.
    """
    cust = t["orders"].groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    ranked = two_phase_global_rank(cust, [F.asc("rev"), F.asc("o_custkey")])
    gini = (
        F.lit(2.0) * F.sum(F.col("rn") * F.col("rev"))
        / (F.max("n_total") * F.max(F.col("total")))
        - (F.max("n_total") + F.lit(1.0)) / F.max("n_total")
    )
    total = cust.agg(F.sum("rev").alias("total"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .agg(
            r4(gini).alias("gini"),
            F.max("n_total").cast("bigint").alias("n_customers"),
        )
    )


@register(
    "win_rolling_distinct",
    oracle="""
    SELECT event_id,
           COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           )::INTEGER AS types_10
    FROM events
    """,
    tier="P2",
)
def win_rolling_distinct(spark, t):
    """Rolling distinct count: how many distinct event types each user's
    trailing 10 events span — the behavioral-diversity signal bots
    (single-type bursts) fail. Spark has no DISTINCT window aggregate,
    so it composes as ``size(collect_set() over w)`` — per-frame set
    state bounded by |event types|, all JVM-side."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return t["events"].select(
        "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("types_10"),
    )


@register(
    "win_max_drawdown",
    oracle="""
    WITH series AS (
      SELECT o_custkey, o_totalprice,
             MAX(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM orders
    )
    SELECT o_custkey,
           round(MAX(peak - o_totalprice), 4) AS max_drawdown,
           COUNT(*) AS n_orders
    FROM series
    GROUP BY o_custkey
    """,
    tier="P2",
)
def win_max_drawdown(spark, t):
    """Maximum drawdown per customer: the largest drop from the running
    historical peak of their order values (orders in date order, key
    tie-break) — the peak-tracking window pattern behind financial
    drawdown, high-water-mark billing, and regression-from-best alerts.

    One window spec per customer carries the running ``max``; the
    drawdown is a map-side subtraction and the per-customer report is
    one keyed aggregate. Both the window and the aggregate partition on
    o_custkey — a single exchange serves the whole plan, and per-group
    window state is O(1) (just the running peak). Never a partition-less
    window.
    """
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_totalprice",
            F.max("o_totalprice").over(w).alias("peak"),
        )
        .groupBy("o_custkey")
        .agg(
            F.round(F.max(F.col("peak") - F.col("o_totalprice")), 4).alias(
                "max_drawdown"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "win_vwap",
    oracle="""
    WITH framed AS (
      SELECT l_orderkey, l_linenumber,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) OVER w AS num,
             SUM(CAST(l_quantity AS BIGINT)) OVER w AS den
      FROM lineitem
      WINDOW w AS (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            round(l_extendedprice * 100), l_quantity
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT l_orderkey, l_linenumber,
           ((200 * num + den) // (2 * den)) / 10000.0 AS vwap5
    FROM framed
    """,
    tier="P2",
)
def win_vwap(spark, t):
    """Rolling volume-weighted average price per part: over each part's
    last five shipments (ship-date order, unique tie-break), the
    quantity-weighted mean of the extended price — the VWAP pattern
    from finance applied to procurement, and the WEIGHTED rolling
    aggregate the plain moving average (``win_sliding_rows``) and the
    unweighted envelope (``win_bollinger_bands``) don't cover.

    Both frame sums share ONE window spec, so Spark evaluates them in a
    single per-partition sort pass; the weighted mean is a map-side
    division of the two frame aggregates. Partitioned by l_partkey —
    never a partition-less window — with O(frame) state per group.

    Determinism notes (two real traps, both hit on these fixtures):
    frame sums run in EXACT integer cents because double frame-sums
    accumulate in engine-specific order — Spark's running accumulation
    vs DuckDB's segment tree landed one ulp apart exactly on a .xxxx5
    rounding boundary and flipped the 4-dp hash; and the sort key ends
    with (cents, quantity) because (l_orderkey, l_linenumber) is NOT
    unique in these synthetic fixtures (unlike real TPC-H) — rows equal
    in every sort key are interchangeable without changing any frame
    sum, which restores determinism without assuming a row id.
    """
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy(
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            cents,
            "l_quantity",
        )
        .rowsBetween(-4, 0)
    )
    qty = F.col("l_quantity").cast("bigint")
    framed = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.sum(cents * qty).over(w).alias("num"),
        F.sum(qty).over(w).alias("den"),
    )
    # round-half-up(num·100/den) computed entirely in bigint —
    # (2a+b) div 2b — then one exact /10⁴; the float form hit exact
    # .xxxx5 quotients (integer inputs ⇒ small-denominator rationals)
    # where Spark's decimal HALF_UP and DuckDB's double rounding split
    return framed.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.expr("(200 * num + den) div (2 * den)") / 10000.0
        ).alias("vwap5"),
    )


@register(
    "win_debounce_consecutive",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events WHERE user_id < 100
    ),
    flagged AS (
      SELECT *,
             CASE WHEN event_type IS DISTINCT FROM
                       lag(event_type) OVER (
                         PARTITION BY user_id ORDER BY us, event_id)
                  THEN 1 ELSE 0 END AS is_edge
      FROM ev
    ),
    runs AS (
      SELECT *,
             SUM(is_edge) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
           MIN(event_id) AS first_event_id,
           COUNT(*) AS run_len
    FROM runs
    GROUP BY user_id, run_id, event_type
    """,
    tier="P2",
)
def win_debounce_consecutive(spark, t):
    """Debounce: collapse each user's runs of consecutive identical
    event types to one row (run representative + length) — the telemetry
    clean-up for chatty sources that re-emit the same state (double
    clicks, sensor bounce, retry storms). Distinct from
    ``stream_dedup_watermark`` (exact-key dedup) and
    ``win_streak_islands`` (day-level activity runs): runs here are
    VALUE-change delimited within the ordered event stream.

    Classic gaps-and-islands: a lag-based change flag, a running sum of
    flags as the run id, then one aggregate per (user, run). Every
    window partitions by user_id — one shuffle end to end, frame width
    bounded by a user's history. Restricted to user_id < 100 to bound
    the compare payload; the plan is user-partitioned so the filter is
    a knob, not a design limit.
    """
    ev = (
        t["events"]
        .filter(F.col("user_id") < 100)
        .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "is_edge",
        (
            ~F.col("event_type").eqNullSafe(
                F.lag("event_type").over(w)
            )
        ).cast("int"),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("is_edge").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("run_len"),
    )


@register(
    "win_mtd_ytd_running",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             year(o_orderdate) AS y,
             month(o_orderdate) AS m,
             round(SUM(o_totalprice), 4) AS revenue
      FROM orders
      GROUP BY 1, 2, 3
    )
    SELECT day, revenue,
           round(SUM(revenue) OVER (
             PARTITION BY y, m ORDER BY day
             ROWS UNBOUNDED PRECEDING), 4) AS mtd,
           round(SUM(revenue) OVER (
             PARTITION BY y ORDER BY day
             ROWS UNBOUNDED PRECEDING), 4) AS ytd
    FROM daily
    ORDER BY day
    """,
    tier="P2",
)
def win_mtd_ytd_running(spark, t):
    """Month-to-date and year-to-date running revenue per day — the
    finance-reporting staple where the running total RESETS at each
    period boundary, which is just a window PARTITION BY the period key
    (no special reset logic): MTD partitions by (year, month), YTD by
    year, both ordered by day over the same daily pre-aggregate.

    The event stream folds to one row per day FIRST, so both windows
    run over the calendar-bounded daily frame (≤366 rows per year
    partition) — per-partition width is bounded by the calendar no
    matter how large the fact table grows, the same argument as
    ``ts_rolling_corr``.
    """
    daily = (
        t["orders"]
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )
    w_m = (
        Window.partitionBy("y", "m")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_y = (
        Window.partitionBy("y")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "day",
        "revenue",
        F.round(F.sum("revenue").over(w_m), 4).alias("mtd"),
        F.round(F.sum("revenue").over(w_y), 4).alias("ytd"),
    ).orderBy("day")


@register(
    "win_user_activity_entropy",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    tot AS (
      SELECT user_id, SUM(c) AS n FROM cnt GROUP BY user_id
    ),
    ent AS (
      SELECT c.user_id,
             MAX(t.n) AS n_events,
             COUNT(*) AS n_types,
             round(-SUM((c.c * 1.0 / t.n) * ln(c.c * 1.0 / t.n)), 6)
               AS entropy
      FROM cnt c JOIN tot t ON t.user_id = c.user_id
      GROUP BY c.user_id
    )
    SELECT CAST(round(entropy, 1) * 10 AS INTEGER) AS entropy_decile,
           COUNT(*) AS n_users,
           round(AVG(n_events), 4) AS avg_events,
           round(AVG(n_types * 1.0), 4) AS avg_types
    FROM ent
    GROUP BY 1
    ORDER BY 1
    """,
    tier="P2",
)
def win_user_activity_entropy(spark, t):
    """Engagement-diversity distribution: each user's event-type entropy
    (0 = monomaniac, ln 5 ≈ 1.61 = uniform across the five types),
    histogrammed in 0.1-nat buckets — the segmentation signal behind
    "broad" vs "single-feature" users that raw event counts hide
    (``agg_entropy`` reports the corpus-level number; this gives the
    per-user distribution).

    Per-user probabilities are exact integer ratios (count/total), so
    the entropy doubles are identical on both engines; two user-keyed
    aggregates and a ≤17-bucket histogram — one shuffle key end to end.
    """
    cnt = t["events"].groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    ent = (
        cnt.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )
    return (
        ent.groupBy(
            (F.round(F.col("entropy"), 1) * 10).cast("int").alias("entropy_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("n_events"), 4).alias("avg_events"),
            F.round(F.avg(F.col("n_types") * 1.0), 4).alias("avg_types"),
        )
        .orderBy("entropy_decile")
    )


@register(
    "win_hysteresis_alerts",
    oracle="""
    WITH sig AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value >= 100.0 THEN 1
                  WHEN value < 50.0 THEN 0 END AS s
      FROM events
    ),
    st AS (
      SELECT user_id, ts, event_id,
             COALESCE(last_value(s IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING), 0) AS state
      FROM sig
    ),
    en AS (
      SELECT user_id, ts, event_id, state,
             CASE WHEN state = 1 AND COALESCE(lag(state) OVER (
               PARTITION BY user_id ORDER BY ts, event_id), 0) = 0
             THEN 1 ELSE 0 END AS enter
      FROM st
    ),
    tr AS (
      SELECT user_id, state,
             SUM(enter) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS island
      FROM en
    ),
    ep AS (
      SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS ep_len
      FROM tr WHERE state = 1 GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_episodes,
           CAST(SUM(ep_len) AS BIGINT) AS rows_in_alert,
           CAST(MAX(ep_len) AS BIGINT) AS longest_episode
    FROM ep GROUP BY user_id
    ORDER BY user_id
    """,
    tier="P2",
)
def win_hysteresis_alerts(spark, t):
    """Two-threshold HYSTERESIS alerting — the monitoring state machine
    every ops pipeline runs: an alert episode OPENS when a user's event
    value crosses >= 100 and stays open until the value falls BELOW 50
    (the dead band between 50 and 100 keeps the state, suppressing the
    flapping a single-threshold rule produces). Per user: episode
    count, total rows spent in-alert, longest episode.

    Pure window algebra — the state machine compiles to last_value
    IGNORE NULLS over a three-valued signal (1 = arm, 0 = disarm,
    NULL = hold), the classic forward-fill idiom, then gaps-and-islands
    on the 0->1 transitions; no UDF, no iteration, exact integer
    outputs. Extends ``win_time_in_state`` (single-threshold state
    durations) and ``win_debounce_consecutive`` (N-consecutive
    debounce) with the dead-band policy. Scale shape: every window is
    partitioned by user_id — one shuffle on the natural key, each
    user's timeline sorts locally; constant memory per user beyond the
    sort.
    """
    order = [F.col("ts"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    sig = (
        F.when(F.col("value") >= 100.0, 1)
        .when(F.col("value") < 50.0, 0)
    )
    st = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce(
            F.last(sig, ignorenulls=True).over(wcum), F.lit(0)
        ).alias("state"),
    )
    enter = (
        (F.col("state") == 1)
        & (F.coalesce(F.lag("state").over(w), F.lit(0)) == 0)
    ).cast("int")
    tr = st.select(
        "user_id",
        "state",
        enter.alias("enter"),
        F.sum(enter).over(wcum).alias("island"),
    )
    ep = (
        tr.filter(F.col("state") == 1)
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ep_len"))
    )
    return (
        ep.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_episodes"),
            F.sum("ep_len").cast("bigint").alias("rows_in_alert"),
            F.max("ep_len").cast("bigint").alias("longest_episode"),
        )
        .orderBy("user_id")
    )

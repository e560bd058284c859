"""Aggregations (SURVEY.md §2-D) — the heart of an ETL-aggregation engine.

Everything here compiles to partial+final HashAggregate pairs with
map-side combine (so shuffle volume is #groups, not #rows) — the
property that makes these shapes hold at 100 TB. The flagship
``rfm_customer_360`` pre-aggregates each fact table to the customer key
BEFORE joining, which removes the orders×events fan-out entirely and
joins three already-small keyed tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.helpers import net_price, r4, r6, sorted_list
from ..functions.portable_hash import ph60, ph60_sql
from ..registry import register


@register(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           round(SUM(l_quantity), 4) AS sum_qty,
           round(MIN(l_extendedprice), 4) AS min_price,
           round(MAX(l_extendedprice), 4) AS max_price,
           round(AVG(l_extendedprice), 4) AS avg_price
    FROM lineitem
    """,
    tier="P0",
)
def agg_global(spark, t):
    """Whole-table scalar aggregates (no grouping)."""
    return t["lineitem"].agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
        r4(F.min("l_extendedprice")).alias("min_price"),
        r4(F.max("l_extendedprice")).alias("max_price"),
        r4(F.avg("l_extendedprice")).alias("avg_price"),
    )


@register(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(SUM(l_quantity), 4) AS sum_qty,
           round(SUM(l_extendedprice), 4) AS sum_base_price,
           round(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(AVG(l_quantity), 4) AS avg_qty,
           round(AVG(l_extendedprice), 4) AS avg_price,
           round(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tier="P0",
)
def agg_pricing_summary(spark, t):
    """TPC-H Q1 shape: grouped multi-aggregate over filtered lineitem."""
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r4(F.sum("l_quantity")).alias("sum_qty"),
            r4(F.sum("l_extendedprice")).alias("sum_base_price"),
            r4(F.sum(net_price())).alias("sum_disc_price"),
            r4(F.sum(net_price() * (F.lit(1.0) + F.col("l_tax")))).alias("sum_charge"),
            r4(F.avg("l_quantity")).alias("avg_qty"),
            r4(F.avg("l_extendedprice")).alias("avg_price"),
            r4(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
    tier="P0",
)
def agg_count_distinct(spark, t):
    """Exact distinct users per day (expand + two-phase aggregate)."""
    return (
        t["events"]
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---- portable HyperLogLog (shared by the two HLL operators) ----------
# m = 256 registers (p = 8): RSE ≈ 1.04/√256 ≈ 6.5 %; linear counting
# below 2.5·m. Every step is exact-integer (register index = h % m,
# rank = first-set-bit position via bin/lpad/strpos — no float log2) so
# the DuckDB oracle reproduces the estimate bit-for-bit; the only float
# ops are one division and one ln, IEEE-identical across engines.
_HLL_M = 256
_HLL_W = 52  # 60-bit hash minus p=8 index bits
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_CRAW = _HLL_ALPHA * _HLL_M * _HLL_M * float(2**(_HLL_W + 1))
_HLL_LC = 2.5 * _HLL_M


def _hll_regmax(df, keys: list[str], item: str):
    """(keys…, j, mj): per-key max rank of each touched HLL register."""
    from ..functions.portable_hash import hll_rank, ph60

    h = (
        df.select(*keys, item)
        .distinct()  # register max is duplicate-invariant; dedup first
        .select(*keys, ph60(item, "hll").alias("h"))
    )
    reg = h.select(
        *keys,
        (F.col("h") % _HLL_M).alias("j"),
        hll_rank(F.expr(f"h div {_HLL_M}"), _HLL_W).alias("r"),
    )
    return reg.groupBy(*keys, "j").agg(F.max("r").alias("mj"))


def _hll_estimate(regmax, keys: list[str], out: str):
    """Fold register maxima into the HLL estimate (raw harmonic-mean form
    with the linear-counting branch below 2.5·m), as exact-integer sums
    plus one double division — deterministic cross-engine."""
    s = regmax.groupBy(*keys).agg(
        F.expr(
            f"sum(shiftleft(1L, {_HLL_W + 1} - mj))"
            f" + ({_HLL_M} - count(1)) * shiftleft(1L, {_HLL_W + 1})"
        ).alias("s_int"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("v"),
    )
    raw = F.lit(_HLL_CRAW) / F.col("s_int")
    est = F.when(
        (F.col("v") > 0) & (raw <= F.lit(_HLL_LC)),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
    ).otherwise(raw)
    return s.select(*keys, r4(est).alias(out))


@register(
    "agg_approx_count_distinct",
    oracle=f"""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (SELECT event_type,
                 ('0x' || substr(md5('hll:' || user_id), 1, 15))::ubigint AS h
          FROM u),
    reg AS (SELECT event_type, h % {_HLL_M} AS j,
                   CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W + 1}
                        ELSE strpos(lpad(bin(h // {_HLL_M}), {_HLL_W}, '0'), '1')
                   END AS r
            FROM h),
    rm AS (SELECT event_type, j, MAX(r) AS mj FROM reg GROUP BY 1, 2),
    s AS (SELECT event_type,
                 (SUM(1::BIGINT << ({_HLL_W + 1} - mj))
                  + ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_W + 1}))::BIGINT AS s_int,
                 {_HLL_M} - COUNT(*) AS v
          FROM rm GROUP BY event_type)
    SELECT event_type,
           round(CASE WHEN v > 0 AND {_HLL_CRAW!r} / s_int <= {_HLL_LC!r}
                      THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / v)
                      ELSE {_HLL_CRAW!r} / s_int END, 4) AS approx_users
    FROM s
    """,
    tier="P2",
)
def agg_approx_count_distinct(spark, t):
    """Distinct-user estimate per event type via a PORTABLE HyperLogLog
    (m=256 registers over the md5-based 60-bit hash, linear counting
    under 2.5·m) — replacing round-1's builtin approx_count_distinct,
    whose HLL++ sketch no other engine can reproduce (scored
    `err: no_oracle`). Same O(m) state and merge algebra as HLL++; the
    oracle recomputes the identical register table and estimate in SQL,
    so this row hash-checks exactly. Accuracy (RSE ≈ 6.5 %) asserted
    against exact counts in tests/test_units.py."""
    rm = _hll_regmax(t["events"], ["event_type"], "user_id")
    return _hll_estimate(rm, ["event_type"], "approx_users")


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey, round(SUM(o_totalprice), 4) AS spend
    FROM orders GROUP BY o_custkey
    HAVING SUM(o_totalprice) > 2000000
    """,
    tier="P1",
)
def agg_having(spark, t):
    """Post-aggregation filter (HAVING)."""
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            r4(F.sum("o_totalprice")).alias("spend"),
            F.sum("o_totalprice").alias("_raw"),
        )
        .filter(F.col("_raw") > 2000000)
        .drop("_raw")
    )


@register(
    "agg_conditional",
    oracle="""
    SELECT o_orderpriority,
           round(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 4)
             AS f_total,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           round(AVG(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 4)
             AS p_avg
    FROM orders GROUP BY o_orderpriority
    """,
    tier="P1",
)
def agg_conditional(spark, t):
    """Conditional aggregates: CASE-gated sum/avg, filtered count."""
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            r4(
                F.sum(
                    F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
                    .otherwise(F.lit(0.0))
                )
            ).alias("f_total"),
            F.count(F.when(F.col("o_orderstatus") == "O", F.lit(1))).alias("n_open"),
            r4(
                F.avg(F.when(F.col("o_orderstatus") == "P", F.col("o_totalprice")))
            ).alias("p_avg"),
        )
    )


@register(
    "agg_min_max_by",
    oracle="""
    SELECT c_mktsegment,
           arg_max(c_name, c_acctbal) AS richest,
           arg_min(c_name, c_acctbal) AS poorest,
           round(MAX(c_acctbal), 4) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
    tier="P1",
)
def agg_min_max_by(spark, t):
    """Value of one column at another's extremum (max_by / min_by)."""
    return (
        t["customer"]
        .groupBy("c_mktsegment")
        .agg(
            F.expr("max_by(c_name, c_acctbal)").alias("richest"),
            F.expr("min_by(c_name, c_acctbal)").alias("poorest"),
            r4(F.max("c_acctbal")).alias("max_bal"),
        )
    )


@register(
    "agg_collect",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list(DISTINCT c_mktsegment ORDER BY c_mktsegment), '|')
             AS segments
    FROM customer GROUP BY c_nationkey
    """,
    tier="P2",
)
def agg_collect(spark, t):
    """Per-group ordered list (collect is always sorted — §5.4), emitted
    as a '|'-joined string: the driver's canonicalizer sorts result
    columns through pandas, which cannot hash array cells (round-1
    CORRECTNESS err), so no registered query declares an array column."""
    return (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("c_mktsegment")), "|"
            ).alias("segments")
        )
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_discount), 4) AS var_disc,
           round(corr(l_extendedprice, l_quantity), 4) AS corr_price_qty,
           round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    tier="P1",
)
def agg_stats(spark, t):
    """Statistical aggregates. Variance is taken over small-magnitude
    columns only: var of a ~3e4-magnitude column has absolute float error
    near the 4-dp rounding boundary (SURVEY.md §5.4)."""
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            r4(F.stddev_samp("l_quantity")).alias("sd_qty"),
            r4(F.var_samp("l_discount")).alias("var_disc"),
            r4(F.corr("l_extendedprice", "l_quantity")).alias("corr_price_qty"),
            r4(F.covar_samp("l_quantity", "l_discount")).alias("cov_qty_disc"),
        )
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderstatus
    """,
    tier="P2",
)
def agg_percentile(spark, t):
    """Exact linear-interpolated percentiles (Spark percentile ≡ DuckDB
    quantile_cont)."""
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            r4(F.percentile("o_totalprice", 0.25)).alias("p25"),
            r4(F.percentile("o_totalprice", 0.5)).alias("p50"),
            r4(F.percentile("o_totalprice", 0.9)).alias("p90"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(GROUPING(r.r_name) AS INTEGER) AS gr_region,
           CAST(GROUPING(n.n_name) AS INTEGER) AS gr_nation,
           COUNT(*) AS n_customers,
           round(SUM(c.c_acctbal), 4) AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tier="P1",
)
def agg_rollup(spark, t):
    """Subtotal hierarchy region → nation with grouping indicators."""
    joined = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("gr_region"),
        F.grouping("n_name").cast("int").alias("gr_nation"),
        F.count(F.lit(1)).alias("n_customers"),
        r4(F.sum("c_acctbal")).alias("sum_bal"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT c.c_mktsegment, o.o_orderstatus,
           COUNT(*) AS n_orders,
           round(SUM(o.o_totalprice), 4) AS total
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY CUBE (c.c_mktsegment, o.o_orderstatus)
    """,
    tier="P2",
)
def agg_cube(spark, t):
    """All grouping combinations (CUBE) over segment × status."""
    joined = t["customer"].join(
        t["orders"], F.col("c_custkey") == F.col("o_custkey")
    )
    return joined.cube("c_mktsegment", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r4(F.sum("o_totalprice")).alias("total"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs, round(AVG(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source), ())
    """,
    tier="P2",
)
def agg_grouping_sets(spark, t):
    """Explicit grouping sets, phrased through the SQL entry point (the
    loader registers temp views for exactly this)."""
    return spark.sql(
        """
        SELECT lang, source, COUNT(*) AS n_docs, round(AVG(n_chars), 4) AS avg_chars
        FROM documents
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           round(SUM(CASE WHEN event_type = 'click'    THEN value END), 4) AS click,
           round(SUM(CASE WHEN event_type = 'view'     THEN value END), 4) AS view,
           round(SUM(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
           round(SUM(CASE WHEN event_type = 'signup'   THEN value END), 4) AS signup,
           round(SUM(CASE WHEN event_type = 'error'    THEN value END), 4) AS error
    FROM events GROUP BY user_id
    """,
    tier="P2",
)
def agg_pivot(spark, t):
    """Wide table: event value per user × event_type. The value list is
    explicit → deterministic columns, single-pass plan."""
    return (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(r4(F.sum("value")))
    )


@register(
    "rfm_customer_360",
    oracle="""
    WITH ord AS (
      SELECT o_custkey,
             COUNT(*) AS frequency,
             round(SUM(o_totalprice), 4) AS monetary,
             CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                            DATE '2002-01-01') AS BIGINT) AS recency_days
      FROM orders GROUP BY o_custkey
    ),
    ev AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
             COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
             round(SUM(value), 4) AS event_value
      FROM events GROUP BY user_id
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           ord.recency_days, ord.frequency, ord.monetary,
           COALESCE(ev.n_events, 0) AS n_events,
           COALESCE(ev.n_purchases, 0) AS n_purchases,
           COALESCE(ev.n_clicks, 0) AS n_clicks,
           COALESCE(ev.event_value, 0.0) AS event_value,
           CASE WHEN c.c_acctbal < 0 THEN 'negative'
                WHEN c.c_acctbal < 3000 THEN 'low'
                WHEN c.c_acctbal < 7000 THEN 'mid'
                ELSE 'high' END AS acctbal_band
    FROM customer c
    LEFT JOIN ord ON ord.o_custkey = c.c_custkey
    LEFT JOIN ev  ON ev.user_id = c.c_custkey
    """,
    tier="P0",
)
def rfm_customer_360(spark, t):
    """Domain flagship (SURVEY.md §0): per-customer recency / frequency /
    monetary + engagement rollup — the customer-360 export a marketing
    ETL exists to produce.

    Scale shape: each fact is aggregated to the customer key FIRST
    (map-side combine → shuffle carries one row per customer per fact),
    then three small keyed tables join. Joining raw orders×events to
    customer would fan out |orders|×|events| per customer — never do that.
    """
    ord_ = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("frequency"),
            r4(F.sum("o_totalprice")).alias("monetary"),
            F.datediff(
                F.lit("2002-01-01").cast("date"), F.to_date(F.max("o_orderdate"))
            )
            .cast("long")
            .alias("recency_days"),
        )
    )
    ev = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purchases"
            ),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
            r4(F.sum("value")).alias("event_value"),
        )
    )
    c = t["customer"]
    return (
        c.join(ord_, c["c_custkey"] == ord_["o_custkey"], "left")
        .join(ev, c["c_custkey"] == ev["user_id"], "left")
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "recency_days",
            "frequency",
            "monetary",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("event_value", F.lit(0.0)).alias("event_value"),
            F.when(F.col("c_acctbal") < 0, "negative")
            .when(F.col("c_acctbal") < 3000, "low")
            .when(F.col("c_acctbal") < 7000, "mid")
            .otherwise("high")
            .alias("acctbal_band"),
        )
    )


@register(
    "agg_salted_skew",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           round(SUM(value), 4) AS sum_value,
           round(AVG(value), 4) AS avg_value
    FROM events GROUP BY event_type
    """,
    tier="P2",
)
def agg_salted_skew(spark, t):
    """Two-stage salted aggregation over an extremely skewed key.

    `event_type` has 5 values over the whole table — the worst-case
    hot-key shape where a plain groupBy lands each key's entire data on
    one reducer. Stage 1 salts the key with hash(event_id) % 16 so each
    hot key spreads across 16 reducers and combines to ≤ 16 rows; stage
    2 re-aggregates the tiny salted partials. AVG is decomposed into
    (sum, count) partials so the two-stage result is exact, and the
    final SUM rounds like the oracle. Same answer as a plain GROUP BY —
    the hash-check proves salting is semantics-preserving.
    """
    salted = t["events"].withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(16))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    return partial.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        r4(F.sum("s")).alias("sum_value"),
        r4(F.sum("s") / F.sum("n")).alias("avg_value"),
    )


@register(
    "agg_incremental_merge",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           round(SUM(o_totalprice), 4) AS revenue,
           MAX(o_orderdate) AS last_order
    FROM orders GROUP BY o_custkey
    """,
    tier="P2",
)
def agg_incremental_merge(spark, t):
    """Incremental-ETL partial-aggregate merge: the nightly-pipeline shape
    where yesterday's materialized per-customer aggregate is merged with
    today's delta instead of rescanning history.

    Here the 'historical' slice (orders before 1999-01-01) and the
    'delta' are partially aggregated independently, then merged by
    re-aggregating decomposable partials (count→sum, sum→sum, max→max).
    The hash-check against a single full GROUP BY proves the merge is
    exact — the algebraic property incremental pipelines rely on. At
    100 TB only the delta is scanned per run; the partial table is
    |customers|-sized.
    """
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def partial(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("rev"),
            F.max("o_orderdate").alias("last"),
        )

    hist = partial(t["orders"].filter(F.col("o_orderdate") < cutoff))
    delta = partial(t["orders"].filter(F.col("o_orderdate") >= cutoff))
    return (
        hist.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n").alias("n_orders"),
            r4(F.sum("rev")).alias("revenue"),
            F.max("last").alias("last_order"),
        )
    )


@register(
    "agg_hll_partial_merge",
    oracle=f"""
    WITH u AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    h AS (SELECT day,
                 ('0x' || substr(md5('hll:' || user_id), 1, 15))::ubigint AS h
          FROM u),
    reg AS (SELECT day, h % {_HLL_M} AS j,
                   CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W + 1}
                        ELSE strpos(lpad(bin(h // {_HLL_M}), {_HLL_W}, '0'), '1')
                   END AS r
            FROM h),
    rm AS (SELECT day, j, MAX(r) AS mj FROM reg GROUP BY 1, 2),
    both_rm AS (
      SELECT day, j, mj FROM rm
      UNION ALL
      SELECT CAST(NULL AS DATE) AS day, j, MAX(mj) AS mj FROM rm GROUP BY j
    ),
    s AS (SELECT day,
                 (SUM(1::BIGINT << ({_HLL_W + 1} - mj))
                  + ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_W + 1}))::BIGINT AS s_int,
                 {_HLL_M} - COUNT(*) AS v
          FROM both_rm GROUP BY day)
    SELECT day,
           round(CASE WHEN v > 0 AND {_HLL_CRAW!r} / s_int <= {_HLL_LC!r}
                      THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / v)
                      ELSE {_HLL_CRAW!r} / s_int END, 4) AS est_users
    FROM s
    """,
    tier="P2",
)
def agg_hll_partial_merge(spark, t):
    """Mergeable-sketch rollup: daily portable-HLL register tables of
    distinct users, merged into a whole-range estimate WITHOUT
    rescanning events.

    This is the 100 TB distinct-count pattern: persist one tiny register
    table per (day, …) partition at ingest, answer any date-range
    distinct query by merging registers (elementwise MAX — the HLL merge
    operation) in O(#days·m) instead of O(#rows). Output: one row per
    day plus a NULL-day total row whose registers are the max-merge of
    every day's. Round 1 used Spark's hll_sketch_agg (engine-private
    bytes → `err: no_oracle`); the portable register representation is
    deterministic SQL on both engines, so the merge algebra itself is
    hash-checked. ±accuracy asserted in tests/test_units.py.

    The per-day register table and its all-days max-merge come out of
    ONE aggregation via GROUPING SETS ((day, j), (j)) — the (j)-only set
    IS the register-wise max union, its grouping NULL is the total row's
    day. Round 2 built the two branches as separate plans unioned
    together, which re-ran the scan→distinct→ph60 pipeline per branch
    (the one measured r1→r2 bench regression); the Expand-based form
    scans once by construction.
    """
    from ..functions.portable_hash import hll_rank, ph60

    src = t["events"].select(F.to_date("ts").alias("day"), "user_id")
    h = src.distinct().select("day", ph60("user_id", "hll").alias("h"))
    reg = h.select(
        "day",
        (F.col("h") % _HLL_M).alias("j"),
        hll_rank(F.expr(f"h div {_HLL_M}"), _HLL_W).alias("r"),
    )
    rm = (
        reg.groupingSets([["day", "j"], ["j"]], "day", "j")
        .agg(F.max("r").alias("mj"))
    )
    return _hll_estimate(rm, ["day"], "est_users")


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.25) AS q25,
           quantile_disc(o_totalprice, 0.50) AS q50,
           quantile_disc(o_totalprice, 0.75) AS q75
    FROM orders GROUP BY o_orderstatus
    """,
    tier="P2",
)
def agg_approx_percentile(spark, t):
    """Approximate quartiles of o_totalprice per order status via the
    GK-style percentile_approx sketch, emitted as three SCALAR columns
    (the round-1 array<double> output crashed the driver canonicalizer).

    The scale story mirrors the HLL op: percentile sketches are
    mergeable, so partial per-partition sketches combine without a
    global sort — vs exact percentiles which need one. Oracle-checkable
    because GK's rank error is ≤ n/accuracy: with accuracy 100,000 and
    |group| ≪ 100k the allowed error is < 1 rank, so the sketch answer
    IS the exact discrete quantile (the element at rank ⌈p·n⌉ —
    DuckDB's quantile_disc). Measured: accuracy 10,000 was one rank off
    on a 5,088-row group whose ⌈p·n⌉ hit an integer boundary after the
    partition-sketch merge, and 100,000 drifted one VALUE off at sf0.1's
    ~73k-row groups (the theoretical ≤ n/accuracy rank bound leaves no
    merge slack once n approaches accuracy) — so the dial sits at 10⁶,
    re-verified exact against quantile_disc at sf0.1. The accuracy
    parameter is the exactness↔memory dial: at true cluster scale you
    drop it and accept the documented rank error. Tests additionally
    assert the relative-error bound that holds when accuracy < |group|.
    """
    q = (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.percentile_approx(
                "o_totalprice", [0.25, 0.5, 0.75], 1000000
            ).alias("quartiles")
        )
    )
    return q.select(
        "o_orderstatus",
        F.element_at("quartiles", 1).alias("q25"),
        F.element_at("quartiles", 2).alias("q50"),
        F.element_at("quartiles", 3).alias("q75"),
    )


@register(
    "agg_count_min_sketch",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    hb AS (SELECT token, s.hash_id,
                  ('0x' || substr(md5('cms' || s.hash_id || ':' || token), 1, 15))::ubigint
                    % 256 AS bucket
           FROM tok, (SELECT unnest([0, 1, 2, 3]) AS hash_id) s),
    sketch AS (SELECT hash_id, bucket, COUNT(*) AS counter FROM hb GROUP BY 1, 2),
    exact AS (SELECT token, COUNT(*) AS exact FROM tok GROUP BY token),
    probe AS (SELECT e.token, e.exact, s.hash_id,
                     ('0x' || substr(md5('cms' || s.hash_id || ':' || e.token), 1, 15))::ubigint
                       % 256 AS bucket
              FROM exact e, (SELECT unnest([0, 1, 2, 3]) AS hash_id) s)
    SELECT p.token, p.exact, MIN(k.counter) AS cms_estimate
    FROM probe p JOIN sketch k USING (hash_id, bucket)
    GROUP BY p.token, p.exact
    """,
    tier="P2",
)
def agg_count_min_sketch(spark, t):
    """Count-min sketch as a DataFrame: token frequency estimates from a
    d=4 × w=256 counter table instead of a full distinct-token aggregate.

    Build: explode d seeded hash functions per token occurrence →
    groupBy (hash_id, bucket) count — the sketch IS a 1,024-row
    DataFrame, mergeable across partitions/days by summing counters
    (same pattern as ``agg_hll_partial_merge``). Query: estimate(token)
    = min over the d counters it hashes to — never an undercount,
    overcounts bounded by collisions (ε ≈ e/w of total mass). Output:
    per-token estimate vs exact count for every distinct token;
    tests assert estimate ≥ exact and within the ε·N bound. Hash family
    is the portable md5-based ``ph60`` (seeds cms0..cms3) so the DuckDB
    oracle rebuilds the identical d×w counter table — round 1's
    xxhash64 family had no cross-engine equivalent (`err: no_oracle`).

    At 100 TB the sketch stays 1,024 rows no matter the corpus — the
    heavy-hitters pattern when the distinct-key space is too large to
    aggregate exactly.
    """
    from ..functions.portable_hash import ph60

    d, w = 4, 256

    def hash_structs():
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("hash_id"),
                        (ph60("token", f"cms{i}") % w).alias("bucket"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("hb")

    docs = t["documents"]
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    hashes = tok.select("token", hash_structs()).select(
        "token", "hb.hash_id", "hb.bucket"
    )
    sketch = hashes.groupBy("hash_id", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )
    # estimate every distinct token by re-hashing and probing the sketch
    distinct_tok = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    probes = distinct_tok.select("token", "exact", hash_structs()).select(
        "token", "exact", "hb.hash_id", "hb.bucket"
    )
    return (
        probes.join(F.broadcast(sketch), ["hash_id", "bucket"])
        .groupBy("token", "exact")
        .agg(F.min("counter").alias("cms_estimate"))
    )


@register(
    "subquery_correlated_scalar",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_orderstatus = o.o_orderstatus)
    """,
    tier="P2",
)
def subquery_correlated_scalar(spark, t):
    """Orders above their own status group's average price, phrased as a
    correlated scalar subquery through the SQL entry point.

    Exercises Catalyst's RewriteCorrelatedScalarSubquery (SURVEY.md
    §4.1): the per-row subquery decorrelates into one aggregate-by-
    status plus a join — no nested-loop re-execution. The identical SQL
    runs on DuckDB, which performs the same decorrelation; the threshold
    compares unrounded doubles (both engines compute the same AVG over
    the same doubles in aggregate order — verified by the hash-check).
    """
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_orderstatus = o.o_orderstatus)
        """
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(least(greatest(floor(o_totalprice / 50000), 0), 11)
                AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           round(MIN(o_totalprice), 4) AS lo,
           round(MAX(o_totalprice), 4) AS hi
    FROM orders
    GROUP BY 1
    """,
    tier="P2",
)
def agg_histogram(spark, t):
    """Equi-width histogram of order prices: 12 × 50k buckets with
    overflow clamped into the edge bins.

    The bucket id is portable floor arithmetic (width_bucket doesn't
    exist in DuckDB 1.0): floor of a positive quotient is an exact
    integer-valued double in both engines, so the grouping keys match
    bit-for-bit. One partial+final hash aggregate — the standard
    profiling/data-quality shape over a fact column.
    """
    bucket = (
        F.least(
            F.greatest(F.floor(F.col("o_totalprice") / 50000), F.lit(0)),
            F.lit(11),
        )
    ).cast("bigint")
    return (
        t["orders"]
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r4(F.min("o_totalprice")).alias("lo"),
            r4(F.max("o_totalprice")).alias("hi"),
        )
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    tier="P2",
)
def agg_bitmap_distinct(spark, t):
    """EXACT distinct counts via Spark 4 bitmap aggregates — the
    mergeable exact-distinct path (vs HLL's approximate one).

    Keys bucket into 32k-bit bitmaps (bitmap_bucket_number /
    bitmap_bit_position); per-(group, bucket) bitmaps OR-combine
    map-side, and the final count sums per-bucket popcounts. Unlike
    COUNT(DISTINCT)'s expand, the shuffle carries fixed-size bitmaps
    per bucket instead of every distinct value — and like the sketch
    ops, persisted per-partition bitmaps can answer any rollup by
    bitmap_or_agg merge without rescanning. The hash-check proves
    exactness against plain COUNT(DISTINCT).
    """
    return spark.sql(
        """
        SELECT event_type, CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_users
        FROM (
          SELECT event_type,
                 bitmap_bucket_number(user_id) AS bkt,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
          FROM events GROUP BY 1, 2
        ) GROUP BY event_type
        """
    )


@register(
    "project_unpivot",
    oracle="""
    SELECT c_custkey, metric, round(value, 4) AS value FROM (
      SELECT c_custkey,
             CAST(c_acctbal AS DOUBLE) AS c_acctbal,
             CAST(c_nationkey AS DOUBLE) AS c_nationkey
      FROM customer
    ) UNPIVOT (value FOR metric IN (c_acctbal, c_nationkey))
    """,
    tier="P2",
)
def project_unpivot(spark, t):
    """Wide→long melt (the inverse of ``agg_pivot``): customer metric
    columns unpivot into (key, metric, value) rows — the export shape
    metric stores and feature pipelines consume. ``df.unpivot`` expands
    row-wise in one narrow pass (no shuffle, no UDF); values are cast to
    one common double type exactly as the oracle's UNPIVOT requires."""
    return (
        t["customer"]
        .select(
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            F.col("c_nationkey").cast("double").alias("c_nationkey"),
        )
        .unpivot("c_custkey", ["c_acctbal", "c_nationkey"], "metric", "value")
        .select("c_custkey", "metric", r4(F.col("value")).alias("value"))
    )


@register(
    "agg_string_concat",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
    FROM orders GROUP BY o_custkey
    """,
    tier="P2",
)
def agg_string_concat(spark, t):
    """Per-customer ordered status concatenation (LISTAGG / string_agg
    shape). Determinism policy §5.4: the collected list is sorted before
    joining, matching the oracle's ORDER BY inside the aggregate."""
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderstatus")), ","
            ).alias("statuses")
        )
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    SELECT user_id, event_type AS top_type, n FROM (
      SELECT user_id, event_type, COUNT(*) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
    tier="P2",
)
def agg_mode_deterministic(spark, t):
    """Per-user most frequent event type with a DETERMINISTIC tie-break
    (alphabetical). Built-in ``mode()`` picks arbitrarily on ties in both
    engines — unusable under hash-checking — so the operator is the
    count + row_number composition, which also generalizes to top-k
    modes."""
    from pyspark.sql import Window

    counts = (
        t["events"]
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_type"), "n")
    )


@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    tier="P2",
)
def cohort_retention(spark, t):
    """Weekly cohort retention — the marketing-analytics flagship shape
    alongside ``rfm_customer_360``: users grouped by first-activity week,
    counted per week offset they return in.

    Two aggregates (first week per user, distinct user-weeks) joined on
    user_id — the join key is the high-cardinality user, the output is
    |cohorts|×|offsets| tiny. At warehouse scale ``firsts`` is an
    incrementally-maintained table (``agg_incremental_merge`` pattern:
    min is decomposable), so each run scans only new events.
    """
    firsts = (
        t["events"]
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = (
        t["events"]
        .select("user_id", F.date_trunc("week", "ts").alias("active_week"))
        .distinct()
    )
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH stage1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    stage2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN stage1 s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.t1
      GROUP BY e.user_id
    ),
    stage3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN stage2 s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t2
      GROUP BY e.user_id
    )
    SELECT 'signup' AS stage, COUNT(*) AS n_users FROM stage1
    UNION ALL SELECT 'click_after_signup', COUNT(*) FROM stage2
    UNION ALL SELECT 'purchase_after_click', COUNT(*) FROM stage3
    """,
    tier="P2",
)
def funnel_conversion(spark, t):
    """Ordered funnel: signup → first click after it → first purchase
    after that. Each stage is a min-timestamp aggregate semi-joined to
    the previous stage's users, so the event table is scanned once per
    stage with an event-type filter that pushes into the parquet scan;
    stage outputs are |users|-sized and shrink monotonically.
    """
    events = t["events"]

    def stage(event_type, prev):
        e = events.filter(F.col("event_type") == event_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col("t_prev"))
        return e.groupBy("user_id").agg(F.min("ts").alias("t_prev"))

    s1 = stage("signup", None)
    s2 = stage("click", s1)
    s3 = stage("purchase", s2)
    rows = [
        s1.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("signup").alias("stage"), "n_users"
        ),
        s2.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("click_after_signup").alias("stage"), "n_users"
        ),
        s3.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("purchase_after_click").alias("stage"), "n_users"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "agg_decay_weighted",
    oracle="""
    WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events)
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value * exp(-((ref_us - epoch_us(ts)) / 86400000000.0)
                                 / 7.0)), 4) AS score_7d,
           round(sum(value * exp(-((ref_us - epoch_us(ts)) / 86400000000.0)
                                 / 30.0)), 4) AS score_30d
    FROM events, ref
    GROUP BY user_id
    """,
    tier="P2",
)
def agg_decay_weighted(spark, t):
    """Recency-decayed engagement score per user: each event's value is
    weighted by ``exp(-age/half_life)`` relative to the newest event in
    the table, with 7-day and 30-day decay horizons side by side.

    The standard feature for ranking/training pipelines where last
    week's click matters more than last year's. The reference timestamp
    is a 1-row global aggregate broadcast into the scan (same scalar-N
    crossJoin shape as ``text_tfidf``), the weighting is a pure column
    expression, and the per-user sum is an ordinary partial+final
    HashAggregate — shuffle volume = |users|. Ages are derived from
    exact µs integers so both engines exponentiate identical doubles.
    """
    e = t["events"].select("user_id", "value", F.unix_micros("ts").alias("ts_us"))
    ref = e.agg(F.max("ts_us").alias("ref_us"))
    age_days = (F.col("ref_us") - F.col("ts_us")) / F.lit(86400000000.0)
    return (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            r4(F.sum(F.col("value") * F.exp(-age_days / 7.0))).alias("score_7d"),
            r4(F.sum(F.col("value") * F.exp(-age_days / 30.0))).alias("score_30d"),
        )
    )


@register(
    "agg_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_events,
           count(*) AS n_types,
           round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 4) AS entropy
    FROM c GROUP BY user_id
    """,
    tier="P2",
)
def agg_entropy(spark, t):
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity / dataset-composition metric used to spot
    bot-like (zero-entropy) and scattershot users, and to balance
    training mixtures.

    Uses the decomposition H = ln T − (Σ n·ln n)/T so the whole thing
    is TWO partial+final hash aggregates — (user,type) counts, then a
    per-user sum — with no window and no join. Shuffle volume is the
    distinct (user,type) pair count, then |users|.
    """
    c = (
        t["events"]
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    tot = F.sum("n")
    return c.groupBy("user_id").agg(
        tot.cast("bigint").alias("n_events"),
        F.count("*").alias("n_types"),
        r4(F.log(tot) - F.sum(F.col("n") * F.log("n")) / tot).alias("entropy"),
    )


@register(
    "sql_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tier="P1",
)
def sql_shipping_priority(spark, t):
    """TPC-H Q3 shape (top unshipped-revenue orders for one segment)
    through the SQL entry point — the classic selective-dim ⋈ fact ⋈
    fact + agg + top-k plan, end to end in one statement.

    The plan to want, and the one Catalyst picks (verified formatted):
    both date filters and the segment filter push to the parquet scans,
    and ORDER BY+LIMIT compiles to TakeOrderedAndProject (no global
    sort). At fixture scale AQE broadcasts both filtered build sides;
    at 100 TB the orders⋈lineitem join falls back to a shuffle on the
    high-cardinality order key while filtered-customer keeps
    broadcasting — both the right call at their scale. Revenue is
    rounded before the ORDER BY with l_orderkey as tie-break, so the
    top-10 cut is deterministic cross-engine.
    """
    return spark.sql(
        """
        SELECT l.l_orderkey,
               round(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < CAST('1998-06-01' AS TIMESTAMP_NTZ)
          AND l.l_shipdate > CAST('1998-06-01' AS TIMESTAMP_NTZ)
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
        """
    )


@register(
    "attribution_last_touch",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, value, event_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS touch_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS touch_ts
      FROM events
    )
    SELECT COALESCE(CASE WHEN touch_ts >= ts - INTERVAL 7 DAY
                         THEN touch_type END, 'direct') AS touch,
           COUNT(*)::BIGINT AS n_purchases,
           round(SUM(value), 4) AS total_value
    FROM w WHERE event_type = 'purchase'
    GROUP BY touch
    """,
    tier="P2",
)
def attribution_last_touch(spark, t):
    """Last-touch marketing attribution: each purchase credits the
    user's most recent non-purchase touch within a 7-day lookback
    ('direct' when none) — revenue and purchase counts per attributed
    channel, the classic CDP attribution rollup alongside RFM / cohort /
    funnel.

    One ignore-nulls last_value window per user (the running as-of state
    — no per-purchase point lookup join) feeding a 5-row aggregate;
    shuffle key is user_id throughout. The lookback compares exact
    timestamps, and the window frame ends AT the purchase row, whose own
    CASE is NULL — so a purchase can never attribute to itself.
    """
    from pyspark.sql import Window

    e = t["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    non_purchase = F.col("event_type") != "purchase"
    touched = e.select(
        "user_id",
        "ts",
        "value",
        "event_type",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    in_window = F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    return (
        touched.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(in_window, F.col("touch_type")), F.lit("direct")
            ).alias("touch"),
            "value",
        )
        .groupBy("touch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            r4(F.sum("value")).alias("total_value"),
        )
    )


@register(
    "basket_brand_affinity",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT okey)::DOUBLE AS n_orders FROM ob),
    bc AS (SELECT brand, COUNT(*)::BIGINT AS n FROM ob GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*)::BIGINT AS n_both
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b, p.n_both,
           round(p.n_both * n.n_orders / (ca.n * cb.n), 4) AS lift
    FROM pairs p
    JOIN bc ca ON ca.brand = p.brand_a
    JOIN bc cb ON cb.brand = p.brand_b, n
    WHERE p.n_both >= 5
    """,
    tier="P2",
)
def basket_brand_affinity(spark, t):
    """Market-basket brand affinity: for every brand pair co-occurring in
    ≥5 orders, the co-occurrence count and lift
    (P(a,b) / (P(a)·P(b))) — the classic association rollup behind
    "bought together" recommendations.

    One pass over the fact table: the DISTINCT (order, brand) rows
    collapse to a per-order brand set (bounded by basket width, ~4
    here), and a double explode of that set generates the ordered pairs
    — no self-join, so the scan/distinct subtree is computed once (the
    aliased-self-join form re-ran it per side and measured 2.0 s at
    sf0.1 vs 0.6 s for this plan). Part is a broadcast dim; the
    |brands|-row count tables broadcast onto the ≤|brands|² pair table.
    """
    ob = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
    )
    # no pre-distinct: collect_set dedupes per order anyway, and the
    # distinct was a second full shuffle of the fact rows.
    # localCheckpoint: three consumers (n / bc / pairs) read this frame,
    # and Spark's exchange reuse does NOT kick in across them (measured:
    # 16 parquet scans, 0 ReusedExchange without it). Same
    # multi-consumer pattern as the dedup CC rounds; the remaining
    # ~1.5 s at sf0.1 is fixed multi-job overhead, not data volume.
    per_order = ob.groupBy("okey").agg(
        F.sort_array(F.collect_set("brand")).alias("brands")
    ).localCheckpoint(eager=False)
    n = per_order.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    bc = (
        per_order.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # posexplode + tail-slice generates only the i<j pairs directly
    # (the sorted set makes slice(pos+2..) exactly the lexicographic
    # successors) — half the generated rows of a full double explode
    # and no post-filter
    pairs = (
        per_order.select(
            F.posexplode("brands").alias("pos", "brand_a"), "brands"
        )
        .select(
            "brand_a",
            F.explode(F.slice("brands", F.col("pos") + 2, 64)).alias(
                "brand_b"
            ),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    lift = F.col("n_both") * F.col("n_orders") / (F.col("n_a") * F.col("n_b"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select("brand_a", "brand_b", "n_both", r4(lift).alias("lift"))
    )


@register(
    "agg_sketch_accuracy_report",
    oracle=f"""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (SELECT event_type,
                 ('0x' || substr(md5('hll:' || user_id), 1, 15))::ubigint AS h
          FROM u),
    reg AS (SELECT event_type, h % {_HLL_M} AS j,
                   CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W + 1}
                        ELSE strpos(lpad(bin(h // {_HLL_M}), {_HLL_W}, '0'), '1')
                   END AS r
            FROM h),
    rm AS (SELECT event_type, j, MAX(r) AS mj FROM reg GROUP BY 1, 2),
    s AS (SELECT event_type,
                 (SUM(1::BIGINT << ({_HLL_W + 1} - mj))
                  + ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_W + 1}))::BIGINT AS s_int,
                 {_HLL_M} - COUNT(*) AS v
          FROM rm GROUP BY event_type),
    est AS (
      SELECT event_type,
             round(CASE WHEN v > 0 AND {_HLL_CRAW!r} / s_int <= {_HLL_LC!r}
                        THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / v)
                        ELSE {_HLL_CRAW!r} / s_int END, 4) AS approx_users
      FROM s
    ),
    ex AS (
      SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS exact_users
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, e.exact_users, a.approx_users,
           round(abs(a.approx_users - e.exact_users) / e.exact_users, 4)
             AS rel_err
    FROM ex e JOIN est a USING (event_type)
    """,
    tier="P2",
)
def agg_sketch_accuracy_report(spark, t):
    """Sketch-accuracy report: exact distinct users per event type next
    to the portable-HLL estimate with its relative error — the audit a
    team runs before trusting approximate rollups in production
    dashboards. (RSE for m=256 is ~6.5 %; the report shows the actual
    per-group error.)

    The exact side is the expand/two-phase count-distinct; the sketch
    side reuses the shared HLL register pipeline; both reduce to
    |event types| rows before the join.
    """
    exact = t["events"].groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    est = _hll_estimate(
        _hll_regmax(t["events"], ["event_type"], "user_id"),
        ["event_type"],
        "approx_users",
    )
    rel = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return exact.join(est, "event_type").select(
        "event_type", "exact_users", "approx_users", r4(rel).alias("rel_err")
    )


@register(
    "agg_regression",
    oracle="""
    SELECT event_type,
           round(regr_slope(value, epoch_us(ts) / 3600000000.0), 6) AS slope,
           round(regr_intercept(value, epoch_us(ts) / 3600000000.0), 4)
             AS intercept,
           round(regr_r2(value, epoch_us(ts) / 3600000000.0), 6) AS r2,
           regr_count(value, epoch_us(ts) / 3600000000.0)::BIGINT AS n
    FROM events GROUP BY event_type
    """,
    tier="P2",
)
def agg_regression(spark, t):
    """Per-group OLS trend fit: slope / intercept / R² of value against
    event time (in hours) for each event type — the built-in linear
    regression aggregates (SQL:2003 REGR_*), verified bit-compatible
    across engines at 6 dp. The one-pass sufficient-statistics form
    (sums of x, y, xy, x², y²) is what both engines execute, so it
    partial-aggregates and merges like any other sketch.
    """
    x = F.unix_micros("ts") / F.lit(3.6e9)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(F.regr_slope("value", x), 6).alias("slope"),
            r4(F.regr_intercept("value", x)).alias("intercept"),
            F.round(F.regr_r2("value", x), 6).alias("r2"),
            F.regr_count("value", x).cast("bigint").alias("n"),
        )
    )


@register(
    "agg_cumulative_unique_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, event_type, MIN(ts::DATE) AS d0
      FROM events GROUP BY user_id, event_type
    ),
    new_per_day AS (
      SELECT d0 AS day, COUNT(*)::BIGINT AS n_new FROM first_seen GROUP BY d0
    )
    SELECT day, n_new,
           SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT
             AS cum_users
    FROM new_per_day
    """,
    tier="P2",
)
def agg_cumulative_unique_users(spark, t):
    """Cumulative distinct (user, event-type) adoption curve: each pair
    counts once, on its first-seen day, and the running sum of new-pair
    counts IS the cumulative distinct total — the first-seen-attribution
    trick that turns an unbounded distinct-over-growing-window into one
    bounded aggregate chain. (Pair granularity, not bare users: every
    fixture user is active on day 1, which would collapse the curve to
    one row.)

    min-per-pair → count-per-day both map-side combine; the only
    partition-less window runs over the ≤|days| daily frame (30 rows
    here, still tiny at 100 TB — days, not rows).
    """
    from pyspark.sql import Window

    first_seen = t["events"].groupBy("user_id", "event_type").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    new_per_day = first_seen.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return new_per_day.select(
        "day",
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_users"),
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cumw,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
      FROM lineitem
    )
    SELECT l_returnflag,
           round(MIN(l_extendedprice), 4) AS weighted_median,
           round(MAX(totw), 4) AS total_weight
    FROM w WHERE cumw >= totw / 2
    GROUP BY l_returnflag
    """,
    tier="P2",
)
def agg_weighted_median(spark, t):
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the group's
    total — the inventory-weighted "typical price" that an unweighted
    median misstates when cheap items ship in bulk.

    One window spec per group (cumulative weight over the price order
    with a unique tie-break) plus the group-total frame; the
    half-weight cut is then a filter + MIN. Everything partitions by
    the group key — no global state.
    """
    from pyspark.sql import Window

    order = [F.asc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    wp = Window.partitionBy("l_returnflag")
    cumw = F.sum("l_quantity").over(
        wp.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    )
    totw = F.sum("l_quantity").over(
        wp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w = t["lineitem"].select(
        "l_returnflag",
        "l_extendedprice",
        cumw.alias("cumw"),
        totw.alias("totw"),
    )
    return (
        w.filter(F.col("cumw") >= F.col("totw") / 2)
        .groupBy("l_returnflag")
        .agg(
            r4(F.min("l_extendedprice")).alias("weighted_median"),
            r4(F.max("totw")).alias("total_weight"),
        )
    )


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT (epoch_us(first_purchase) - epoch_us(first_view)) / 60000000.0
               AS mins
      FROM firsts
      WHERE first_view IS NOT NULL AND first_purchase > first_view
    )
    SELECT COUNT(*)::BIGINT AS n_converted,
           round(quantile_cont(mins, 0.5), 4) AS p50_mins,
           round(quantile_cont(mins, 0.9), 4) AS p90_mins,
           round(MAX(mins), 4) AS max_mins
    FROM conv
    """,
    tier="P2",
)
def funnel_time_to_convert(spark, t):
    """Time-to-convert distribution: minutes from each user's first view
    to their first later purchase, summarized as converted-user count +
    p50/p90/max — the latency companion to `funnel_conversion`'s rate
    view.

    One conditional-MIN aggregate per user (map-side combined), then a
    scalar exact-percentile fold over the |converted users| latency
    column. Exact integer µs arithmetic before the single division
    keeps the minutes bit-identical cross-engine.
    """
    firsts = t["events"].groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    mins = (
        (F.unix_micros("first_purchase") - F.unix_micros("first_view"))
        / 60_000_000.0
    )
    conv = firsts.filter(
        F.col("first_view").isNotNull()
        & (F.col("first_purchase") > F.col("first_view"))
    ).select(mins.alias("mins"))
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        r4(F.percentile("mins", 0.5)).alias("p50_mins"),
        r4(F.percentile("mins", 0.9)).alias("p90_mins"),
        r4(F.max("mins")).alias("max_mins"),
    )


def _hll_reg_sql(src_cte: str) -> str:
    """DuckDB fragment: register (j, rank) rows from a CTE of `h` hashes."""
    return (
        f"SELECT h % {_HLL_M} AS j, "
        f"CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W + 1} "
        f"ELSE strpos(lpad(bin(h // {_HLL_M}), {_HLL_W}, '0'), '1') END AS r "
        f"FROM {src_cte}"
    )


def _hll_fold_sql(rm_cte: str, out: str) -> str:
    """DuckDB fragment: fold a register-max CTE into the HLL estimate."""
    return (
        f"SELECT round(CASE WHEN v > 0 AND {_HLL_CRAW!r} / s_int <= {_HLL_LC!r} "
        f"THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / v) "
        f"ELSE {_HLL_CRAW!r} / s_int END, 4) AS {out} "
        f"FROM (SELECT (SUM(1::BIGINT << ({_HLL_W + 1} - mj)) "
        f"+ ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_W + 1}))::BIGINT AS s_int, "
        f"{_HLL_M} - COUNT(*) AS v FROM {rm_cte})"
    )


@register(
    "agg_hll_set_algebra",
    oracle=f"""
    WITH cu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    pu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    hc AS (SELECT ('0x' || substr(md5('hll:' || user_id), 1, 15))::ubigint AS h FROM cu),
    hp AS (SELECT ('0x' || substr(md5('hll:' || user_id), 1, 15))::ubigint AS h FROM pu),
    regc AS ({_hll_reg_sql("hc")}),
    regp AS ({_hll_reg_sql("hp")}),
    rmc AS (SELECT j, MAX(r) AS mj FROM regc GROUP BY j),
    rmp AS (SELECT j, MAX(r) AS mj FROM regp GROUP BY j),
    rmu AS (SELECT j, MAX(mj) AS mj
            FROM (SELECT * FROM rmc UNION ALL SELECT * FROM rmp) GROUP BY j),
    ec AS ({_hll_fold_sql("rmc", "est_click")}),
    ep AS ({_hll_fold_sql("rmp", "est_purchase")}),
    eu AS ({_hll_fold_sql("rmu", "est_union")})
    SELECT ec.est_click, ep.est_purchase, eu.est_union,
           round(ec.est_click + ep.est_purchase - eu.est_union, 4) AS est_intersect
    FROM ec, ep, eu
    """,
    tier="P2",
)
def agg_hll_set_algebra(spark, t):
    """HLL sketch set algebra: distinct clickers, distinct purchasers,
    their union via REGISTER-WISE MAX of the two sketches, and the
    intersection by inclusion-exclusion (|A|+|B|−|A∪B|) — the audience-
    overlap question ("how many users both click and buy?") answered
    from two O(m) sketches without ever co-shuffling the raw id sets.

    Register-max union is the whole point of HLL in a warehouse: daily
    (or per-partition) sketches roll up to any window by merging 256-row
    register tables, and THEN set arithmetic happens on the estimates.
    Inclusion-exclusion error compounds (RSE of each term adds in the
    worst case), which is the honest trade documented here — for small
    overlaps production would switch to theta sketches; the estimate-vs-
    exact check lives in tests/test_units.py.

    Shape: two distinct-projections (the only shuffles, on user_id),
    each folded to ≤{_HLL_M} register rows; union/fold/arithmetic all
    happen on sketch-sized frames. 100 TB cost: the two distincts —
    everything after is constant-size.
    """
    ev = t["events"]
    # cache(): each ≤m-row register table feeds both its own estimate
    # and the register-max union — without it the scan→distinct→ph60
    # pipeline runs twice per sketch.
    rm_c = _hll_regmax(
        ev.filter(F.col("event_type") == "click"), [], "user_id"
    ).cache()
    rm_p = _hll_regmax(
        ev.filter(F.col("event_type") == "purchase"), [], "user_id"
    ).cache()
    rm_u = (
        rm_c.unionByName(rm_p).groupBy("j").agg(F.max("mj").alias("mj"))
    )
    ec = _hll_estimate(rm_c, [], "est_click")
    ep = _hll_estimate(rm_p, [], "est_purchase")
    eu = _hll_estimate(rm_u, [], "est_union")
    return (
        ec.crossJoin(ep)
        .crossJoin(eu)
        .select(
            "est_click",
            "est_purchase",
            "est_union",
            F.round(
                F.col("est_click") + F.col("est_purchase") - F.col("est_union"), 4
            ).alias("est_intersect"),
        )
    )


#: 7-day attribution lookback in integer microseconds
_LOOKBACK_US = 7 * 86_400 * 1_000_000


@register(
    "attribution_linear_multi_touch",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events
    ),
    w1 AS (
      SELECT *, SUM(CASE WHEN event_type <> 'purchase' THEN 1 END)
                  OVER (PARTITION BY user_id ORDER BY us
                        RANGE BETWEEN {_LOOKBACK_US} PRECEDING
                              AND 1 PRECEDING) AS cnt
      FROM ev
    ),
    w2 AS (
      SELECT *, CASE WHEN event_type = 'purchase' AND cnt > 0
                     THEN value / cnt END AS share
      FROM w1
    ),
    w3 AS (
      SELECT *, SUM(share) OVER (PARTITION BY user_id ORDER BY us
                                 RANGE BETWEEN 1 FOLLOWING
                                       AND {_LOOKBACK_US} FOLLOWING) AS credit
      FROM w2
    )
    SELECT event_type AS channel,
           round(SUM(COALESCE(credit, 0)), 4) AS credited_revenue,
           CAST(SUM(CASE WHEN credit IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_credited_touches
    FROM w3 WHERE event_type <> 'purchase'
    GROUP BY event_type
    """,
    tier="P2",
)
def attribution_linear_multi_touch(spark, t):
    """Linear (equal-split) multi-touch attribution: each purchase's
    value is divided equally among ALL the user's non-purchase touches
    in the 7-day lookback, and channels report their credited revenue —
    the standard complement to ``attribution_last_touch`` (which gives
    the final touch everything).

    The plan is TWO range windows over ONE per-user sorted stream, no
    purchase×touch join: a backward window counts each purchase's
    in-lookback touches (value/cnt becomes the purchase's per-touch
    share), then a forward window on the same sort order lets every
    touch collect the shares of the purchases it fed — t ∈ [p−7d, p)
    ⟺ p ∈ (t, t+7d], so the two frames are exact mirrors. Frames are
    integer-µs RANGE bounds (same arithmetic both engines); a touch at
    the purchase's exact instant is excluded on both sides.

    Scale: one user_id shuffle + one per-user sort serving both
    windows; the join formulation this replaces materializes
    |purchases| × |touches-in-window| rows — the quadratic-in-depth
    term (see ``join_asof``'s same rewrite).
    """
    from pyspark.sql import Window

    ev = t["events"].select(
        "user_id", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    spec = Window.partitionBy("user_id").orderBy("us")
    w_back = spec.rangeBetween(-_LOOKBACK_US, -1)
    w_fwd = spec.rangeBetween(1, _LOOKBACK_US)
    is_touch = F.col("event_type") != "purchase"
    cnt = F.sum(F.when(is_touch, 1)).over(w_back)
    w1 = ev.withColumn("cnt", cnt)
    share = F.when(
        (F.col("event_type") == "purchase") & (F.col("cnt") > 0),
        F.col("value") / F.col("cnt"),
    )
    w2 = w1.withColumn("share", share)
    credit = F.sum("share").over(w_fwd)
    return (
        w2.withColumn("credit", credit)
        .filter(is_touch)
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            r4(F.sum(F.coalesce("credit", F.lit(0.0)))).alias(
                "credited_revenue"
            ),
            F.sum(F.col("credit").isNotNull().cast("bigint")).alias(
                "n_credited_touches"
            ),
        )
    )


@register(
    "ml_auc_eval",
    oracle="""
    WITH labeled AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
    ),
    per AS (
      SELECT v, SUM(pos) AS np, SUM(1 - pos) AS nn
      FROM labeled GROUP BY v
    ),
    cum AS (
      SELECT v, np, nn,
             SUM(nn) OVER (ORDER BY v) - nn AS nn_below
      FROM per
    ),
    tot AS (SELECT SUM(np)::DOUBLE AS n_pos, SUM(nn)::DOUBLE AS n_neg
            FROM per)
    SELECT round(SUM(np * (nn_below + nn / 2.0)) / (t.n_pos * t.n_neg), 6)
             AS auc,
           t.n_pos::BIGINT AS n_pos, t.n_neg::BIGINT AS n_neg
    FROM cum, tot t
    GROUP BY t.n_pos, t.n_neg
    """,
    tier="P2",
)
def ml_auc_eval(spark, t):
    """ROC AUC of "does event value predict purchase?" via the
    Mann–Whitney U rank formulation with exact tie handling — the
    model-evaluation primitive a training pipeline runs at 100 TB scale,
    where sklearn.roc_auc_score's sort-on-one-machine cannot.

    AUC = Σ_v np(v)·(nn_below(v) + nn(v)/2) / (NP·NN): each positive
    scores a win per negative strictly below its value and half a win
    per tied negative. The per-value cumulative negative count comes
    from the two-phase distributed prefix sum (``two_phase_scan``) —
    the only ordered pass, over |distinct values| rows, never a
    partition-less window over raw rows. (AUC ≈ 0.5 on these fixtures —
    value is independent of type by construction; the verified machinery
    is the deliverable.)
    """
    from .windows import two_phase_scan

    per = (
        t["events"]
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == "purchase").cast("int").alias("pos"),
        )
        .groupBy("v")
        .agg(
            F.sum("pos").alias("np"),
            F.sum(F.lit(1) - F.col("pos")).alias("nn"),
        )
        .cache()
    )
    cum = two_phase_scan(per, [F.asc("v")], ["nn"]).select(
        "v", "np", "nn", (F.col("cum_nn") - F.col("nn")).alias("nn_below")
    )
    tot = per.agg(
        F.sum("np").cast("double").alias("n_pos"),
        F.sum("nn").cast("double").alias("n_neg"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_pos", "n_neg")
        .agg(
            F.round(
                F.sum(
                    F.col("np") * (F.col("nn_below") + F.col("nn") / 2.0)
                )
                / (F.first("n_pos") * F.first("n_neg")),
                6,
            ).alias("auc")
        )
        .select(
            "auc",
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.col("n_neg").cast("bigint").alias("n_neg"),
        )
    )


@register(
    "clv_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS n_cohort_users
      FROM first_seen GROUP BY cohort_week
    ),
    weekly AS (
      SELECT f.cohort_week,
             CAST((epoch_us(CAST(date_trunc('week', e.ts) AS TIMESTAMP))
                   - epoch_us(f.cohort_week))
                  / (7 * 86400 * 1000000::BIGINT) AS BIGINT) AS week_off,
             SUM(e.value) AS rev
      FROM events e
      JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT w.cohort_week, w.week_off, s.n_cohort_users,
           round(SUM(w.rev) OVER (PARTITION BY w.cohort_week
                                  ORDER BY w.week_off), 4) AS cum_revenue,
           round(SUM(w.rev) OVER (PARTITION BY w.cohort_week
                                  ORDER BY w.week_off)
                 / s.n_cohort_users, 4) AS ltv_per_user
    FROM weekly w JOIN sizes s USING (cohort_week)
    """,
    tier="P2",
)
def clv_cohort_ltv(spark, t):
    """Cohort lifetime-value curves: for each signup-week cohort (first
    event = signup proxy), the cumulative purchase revenue and LTV per
    cohort user by weeks-since-signup — the revenue companion to
    ``cohort_retention``, and the curve a growth team extrapolates to
    decide acquisition spend.

    Shape: first-seen per user (one user-keyed aggregate) joins back
    onto purchases, folds to the cohort × week-offset grid (bounded by
    |weeks|²), and the cumulative sum runs per cohort over that bounded
    grid — a partitioned window whose partitions are |weeks| rows, never
    data-proportional. Week arithmetic is exact integer µs on both
    engines (ISO Monday truncation matches).
    """
    from pyspark.sql import Window

    ev = t["events"]
    first_seen = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
        .cache()
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort_users")
    )
    week_off = (
        (
            F.unix_micros(F.date_trunc("week", F.col("ts")))
            - F.unix_micros(F.col("cohort_week"))
        )
        / (7 * 86_400 * 1_000_000)
    ).cast("bigint")
    weekly = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy("cohort_week", week_off.alias("week_off"))
        .agg(F.sum("value").alias("rev"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("rev").over(w)
    return weekly.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_off",
        "n_cohort_users",
        F.round(cum, 4).alias("cum_revenue"),
        F.round(cum / F.col("n_cohort_users"), 4).alias("ltv_per_user"),
    )


@register(
    "pipeline_marketing_mix",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, value, event_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS touch_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS touch_ts
      FROM events
    ),
    attributed AS (
      SELECT c.c_mktsegment AS segment,
             COALESCE(CASE WHEN w.touch_ts >= w.ts - INTERVAL 7 DAY
                           THEN w.touch_type END, 'direct') AS channel,
             w.value
      FROM w JOIN customer c ON w.user_id = c.c_custkey
      WHERE w.event_type = 'purchase'
    ),
    cells AS (
      SELECT segment, channel,
             COUNT(*) AS n_purchases, SUM(value) AS rev
      FROM attributed GROUP BY segment, channel
    )
    SELECT segment, channel, n_purchases, round(rev, 4) AS revenue,
           round(rev / SUM(rev) OVER (PARTITION BY segment), 6)
             AS segment_share
    FROM cells
    """,
    tier="P1",
)
def pipeline_marketing_mix(spark, t):
    """Composite marketing-mix report — the third hash-checked
    end-to-end composition (beside ``pipeline_clean_corpus`` and
    ``pipeline_training_set``), this one over the marketing surface:
    last-touch attribution (per-user as-of window) → customer-segment
    join → segment × channel revenue matrix with each channel's share
    of its segment. The deliverable a CMO dashboard reads: which
    channels drive which segments.

    Shape: one user-sorted window pass for attribution, one broadcast
    join to the customer dimension, one |segments|×|channels| aggregate,
    and the share window runs over that bounded grid (≤ 25 rows) — the
    fact table is touched once.
    """
    from pyspark.sql import Window

    e = t["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    non_purchase = F.col("event_type") != "purchase"
    touched = e.select(
        "user_id",
        "ts",
        "value",
        "event_type",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    in_window = F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    cells = (
        touched.filter(F.col("event_type") == "purchase")
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("user_id") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.coalesce(
                F.when(in_window, F.col("touch_type")), F.lit("direct")
            ).alias("channel"),
            "value",
        )
        .groupBy("segment", "channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("value").alias("rev"),
        )
    )
    share_w = Window.partitionBy("segment")
    return cells.select(
        "segment",
        "channel",
        "n_purchases",
        F.round("rev", 4).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(share_w), 6).alias(
            "segment_share"
        ),
    )


@register(
    "agg_moments_skew_kurt",
    oracle="""
    WITH mu AS (
      SELECT event_type, AVG(value) AS m, COUNT(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, ANY_VALUE(u.n) AS n,
           round(AVG((e.value - u.m) * (e.value - u.m)
                     * (e.value - u.m))
                 / POW(AVG((e.value - u.m) * (e.value - u.m)), 1.5), 6)
             AS skewness,
           round(AVG((e.value - u.m) * (e.value - u.m)
                     * (e.value - u.m) * (e.value - u.m))
                 / POW(AVG((e.value - u.m) * (e.value - u.m)), 2) - 3, 6)
             AS excess_kurtosis
    FROM events e JOIN mu u USING (event_type)
    GROUP BY e.event_type
    """,
    tier="P2",
)
def agg_moments_skew_kurt(spark, t):
    """Population skewness and excess kurtosis of event values per type
    — the distribution-shape moments behind outlier policy and
    normality screens. Spark's builtin ``skewness``/``kurtosis`` and
    DuckDB's disagree on bias correction (population vs sample), so
    both engines compute the SAME population definition from explicit
    centered moments: skew = m₃/m₂^1.5, excess kurt = m₄/m₂² − 3.

    Centered two-pass on purpose: the one-pass E[x⁴]-expansion form
    loses ~8 significant digits to catastrophic cancellation at these
    magnitudes (μ ≈ 10⁴ ⇒ μ⁴ ≈ 10¹⁶ vs m₄ ≈ 10²) — a 6-dp cross-engine
    hash would not survive it. Pass 1 is a |types|-row mean frame
    broadcast back; pass 2 folds the centered powers map-side. 100 TB
    cost: two scans of one pruned column.
    """
    mu = (
        t["events"]
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"), F.count(F.lit(1)).alias("n"))
    )
    d = F.col("value") - F.col("m")
    return (
        t["events"]
        .join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("n").alias("n"),
            F.round(
                F.avg(d * d * d) / F.pow(F.avg(d * d), 1.5), 6
            ).alias("skewness"),
            F.round(
                F.avg(d * d * d * d) / F.pow(F.avg(d * d), 2.0) - 3, 6
            ).alias("excess_kurtosis"),
        )
    )


@register(
    "path_analysis_topk",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM ranked WHERE rn <= 5
      GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 10
    """,
    tier="P2",
)
def path_analysis_topk(spark, t):
    """Top user journeys: each user's first five events as an ordered
    ``type>type>…`` path, ranked by how many users share it — the
    product-analytics "common paths" report that funnel analysis
    (fixed-order) cannot answer.

    The ordered concatenation is built JVM-side: collect the (ts,
    event_id, type) structs per user, ``array_sort`` (struct ordering =
    lexicographic on the fields, i.e. exactly the per-user timeline),
    project the type field out, join with '>' — no UDF, and the
    intermediate array is bounded by the first-5 cut BEFORE the
    aggregate, so per-group state is ≤5 structs. Top-10 cuts on
    (count desc, path asc) via TakeOrderedAndProject.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = (
        t["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    paths = first5.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(10)
    )


@register(
    "agg_ab_test_welch",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN event_type = 'click' THEN 'A' ELSE 'B' END AS grp,
             value
      FROM events WHERE event_type IN ('click', 'view')
    ),
    stats AS (
      SELECT grp, COUNT(*) AS n, AVG(value) AS mean,
             var_samp(value) AS var
      FROM g GROUP BY grp
    ),
    ab AS (
      SELECT
        (SELECT n FROM stats WHERE grp = 'A') AS na,
        (SELECT mean FROM stats WHERE grp = 'A') AS ma,
        (SELECT var FROM stats WHERE grp = 'A') AS va,
        (SELECT n FROM stats WHERE grp = 'B') AS nb,
        (SELECT mean FROM stats WHERE grp = 'B') AS mb,
        (SELECT var FROM stats WHERE grp = 'B') AS vb
    )
    SELECT na, nb,
           round(ma - mb, 6) AS mean_diff,
           round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
           round(POW(va / na + vb / nb, 2)
                 / (POW(va / na, 2) / (na - 1)
                    + POW(vb / nb, 2) / (nb - 1)), 4) AS welch_df
    FROM ab
    """,
    tier="P2",
)
def agg_ab_test_welch(spark, t):
    """Welch's unequal-variance t-test between two event populations
    (click = A vs view = B on value): mean difference, t statistic, and
    the Welch–Satterthwaite degrees of freedom — the A/B-test readout
    every experimentation platform computes, here as two aggregates and
    closed-form arithmetic (compare |t| to the t(df) quantile).

    Welch rather than Student on purpose: it never assumes equal
    variances, so it is the safe default for production metrics. Both
    engines use the SAME sample-variance definition (var_samp /
    variance with n−1), checked at 6 dp. Shape: one conditional scan →
    a 2-row stats frame → scalar arithmetic; constant-size after the
    single pass.
    """
    g = t["events"].filter(F.col("event_type").isin("click", "view"))
    stats = (
        g.select(
            F.when(F.col("event_type") == "click", "A").otherwise("B").alias(
                "grp"
            ),
            "value",
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
    )
    a = stats.filter(F.col("grp") == "A").select(
        F.col("n").alias("na"), F.col("mean").alias("ma"), F.col("var").alias("va")
    )
    b = stats.filter(F.col("grp") == "B").select(
        F.col("n").alias("nb"), F.col("mean").alias("mb"), F.col("var").alias("vb")
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    return a.crossJoin(F.broadcast(b)).select(
        "na",
        "nb",
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2.0)
            / (
                F.pow(F.col("va") / F.col("na"), 2.0) / (F.col("na") - 1)
                + F.pow(F.col("vb") / F.col("nb"), 2.0) / (F.col("nb") - 1)
            ),
            4,
        ).alias("welch_df"),
    )


@register(
    "ts_seasonality_index",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, dayofweek(ts) AS dow,
             SUM(value) AS day_value
      FROM events GROUP BY 1, 2
    ),
    dow_avg AS (
      SELECT dow, AVG(day_value) AS dow_mean, COUNT(*) AS n_days
      FROM daily GROUP BY dow
    ),
    overall AS (SELECT AVG(day_value) AS grand_mean FROM daily)
    SELECT d.dow, d.n_days,
           round(d.dow_mean, 4) AS dow_mean,
           round(d.dow_mean / o.grand_mean, 6) AS seasonal_index
    FROM dow_avg d, overall o
    """,
    tier="P2",
)
def ts_seasonality_index(spark, t):
    """Day-of-week multiplicative seasonality indices: each weekday's
    average daily event value relative to the grand daily mean (index
    1.0 = no effect) — the classical decomposition step before
    forecasting or anomaly thresholds that must not fire every weekend.

    ``dayofweek`` is one of SURVEY §5.4's cross-engine traps — Spark and
    DuckDB agree only because the oracle uses DuckDB's ``dayofweek``
    (0=Sunday…) against Spark's ``dayofweek()-1``; the scalar-family
    query locked this mapping and this operator reuses it. Shape: one
    |days|-row daily rollup, a 7-row weekday fold, a 1-row grand mean —
    constant after one pruned pass.
    """
    daily = (
        t["events"]
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            (F.dayofweek("ts") - 1).alias("dow"),
        )
        .agg(F.sum("value").alias("day_value"))
    )
    dow_avg = daily.groupBy("dow").agg(
        F.avg("day_value").alias("dow_mean"), F.count(F.lit(1)).alias("n_days")
    )
    overall = daily.agg(F.avg("day_value").alias("grand_mean"))
    return dow_avg.crossJoin(F.broadcast(overall)).select(
        "dow",
        "n_days",
        F.round("dow_mean", 4).alias("dow_mean"),
        F.round(F.col("dow_mean") / F.col("grand_mean"), 6).alias(
            "seasonal_index"
        ),
    )


@register(
    "agg_price_elasticity",
    oracle="""
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           round(regr_slope(ln(l.l_quantity),
                            ln(l.l_extendedprice / l.l_quantity)), 6)
             AS elasticity,
           round(regr_r2(ln(l.l_quantity),
                         ln(l.l_extendedprice / l.l_quantity)), 6) AS r2
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    tier="P2",
)
def agg_price_elasticity(spark, t):
    """Per-brand price elasticity of demand: the log-log OLS slope of
    quantity on unit price (elasticity ≈ %Δqty per %Δprice) plus the
    fit's R² — the pricing-analytics staple, estimated per brand in one
    pass via the same REGR_* sufficient statistics as
    ``agg_regression`` (bit-stable at 6 dp cross-engine). R² near zero
    here is the honest answer on synthetic data — the estimator, not
    the economics, is what's verified.

    Shape: one broadcast dim join + one |brands|-group aggregate with
    map-side partials; ln() is IEEE-identical on both engines and unit
    price is strictly positive by construction.
    """
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_brand",
            F.log(F.col("l_quantity")).alias("y"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.regr_slope("y", "x"), 6).alias("elasticity"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        )
    )


@register(
    "win_rank_change",
    oracle="""
    WITH yearly AS (
      SELECT p.p_brand, year(o.o_orderdate) AS yr,
             round(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, year(o.o_orderdate)
    ),
    ranked AS (
      SELECT p_brand, yr, revenue,
             CAST(rank() OVER (PARTITION BY yr
                               ORDER BY revenue DESC, p_brand) AS BIGINT)
               AS rnk
      FROM yearly
    )
    SELECT p_brand, yr, revenue, rnk,
           lag(rnk) OVER (PARTITION BY p_brand ORDER BY yr) AS prev_rnk,
           lag(rnk) OVER (PARTITION BY p_brand ORDER BY yr) - rnk
             AS rank_gain
    FROM ranked
    """,
    tier="P2",
)
def win_rank_change(spark, t):
    """Leaderboard movement: each brand's revenue rank within every
    year, plus how many places it moved since the previous year
    (positive = climbed) — the rank-delta report behind market-share
    and bestseller-list tracking, combining two window axes: rank
    WITHIN year, lag ACROSS years.

    Ranks compare the ROUNDED revenue with a brand tie-break, so rank
    edges are deterministic cross-engine. The year partition is
    |brands| rows (fact table pre-aggregated first) and the brand
    partition is |years| rows — both windows run over bounded frames,
    never the fact table.
    """
    from pyspark.sql import Window

    yearly = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.year("o_orderdate").alias("yr"))
        .agg(r4(F.sum(net_price())).alias("revenue"))
    )
    w_rank = Window.partitionBy("yr").orderBy(
        F.desc("revenue"), F.asc("p_brand")
    )
    w_lag = Window.partitionBy("p_brand").orderBy("yr")
    ranked = yearly.withColumn(
        "rnk", F.rank().over(w_rank).cast("bigint")
    )
    return ranked.select(
        "p_brand",
        "yr",
        "revenue",
        "rnk",
        F.lag("rnk").over(w_lag).alias("prev_rnk"),
        (F.lag("rnk").over(w_lag) - F.col("rnk")).alias("rank_gain"),
    )


@register(
    "agg_robust_means",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           round(AVG(value), 4) AS arithmetic_mean,
           round(exp(AVG(ln(value))), 4) AS geometric_mean,
           round(COUNT(*) / SUM(1.0 / value), 4) AS harmonic_mean
    FROM events
    WHERE value > 0
    GROUP BY event_type
    """,
    tier="P2",
)
def agg_robust_means(spark, t):
    """The three Pythagorean means of event value per type — arithmetic,
    geometric (exp∘mean∘ln, the right average for multiplicative
    quantities like growth rates), harmonic (the right average for
    rates like price-per-unit) — with AM ≥ GM ≥ HM as the built-in
    sanity invariant. Positive values only (the geometric/harmonic
    domain), filtered identically on both engines.

    All three are one-pass commutative aggregates with map-side
    partials — the geometric mean via the log-sum identity rather than
    a product (which overflows immediately at scale).
    """
    return (
        t["events"]
        .filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("arithmetic_mean"),
            F.round(F.exp(F.avg(F.log("value"))), 4).alias("geometric_mean"),
            F.round(
                F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("value")), 4
            ).alias("harmonic_mean"),
        )
    )


@register(
    "agg_stickiness_dau_mau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    mau AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
      FROM (SELECT DISTINCT day FROM du) d
      JOIN du u ON u.day > d.day - 28 AND u.day <= d.day
      GROUP BY d.day
    )
    SELECT dau.day, dau.dau, mau.mau,
           round(dau.dau * 1.0 / mau.mau, 6) AS stickiness
    FROM dau JOIN mau USING (day)
    """,
    tier="P2",
)
def agg_stickiness_dau_mau(spark, t):
    """DAU/MAU stickiness per day: daily actives over trailing-28-day
    actives — the engagement ratio every growth dashboard leads with
    (1.0 = everyone daily, ~0.03 = monthly-only).

    The trailing distinct count is the hard part at scale: COUNT
    (DISTINCT) over a sliding window has no partial form. This plan
    reduces events to the DISTINCT (day, user) grid FIRST (one shuffle,
    the only data-proportional step), then the 28-day rolling distinct
    runs on that grid via a date-range join — |days| × 28 × daily-users
    pairs, calendar-bounded, never the raw event stream. (The
    first-seen decomposition in ``agg_cumulative_unique_users`` handles
    the unbounded variant; a bounded trailing window genuinely needs
    the grid.)
    """
    du = (
        t["events"]
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .cache()
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = du.select("day").distinct()
    mau = (
        days.alias("d")
        .join(
            du.alias("u"),
            (F.col("u.day") > F.date_sub(F.col("d.day"), 28))
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return dau.join(mau, "day").select(
        "day",
        "dau",
        "mau",
        F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
    )


@register(
    "win_time_in_state",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events
    )
    SELECT event_type AS state,
           COUNT(next_ts) AS n_stays,
           round(SUM(epoch_us(next_ts) - epoch_us(ts)) / 1000000.0, 4)
             AS total_seconds,
           round(AVG(epoch_us(next_ts) - epoch_us(ts)) / 1000000.0, 4)
             AS avg_seconds
    FROM seq WHERE next_ts IS NOT NULL
    GROUP BY event_type
    """,
    tier="P2",
)
def win_time_in_state(spark, t):
    """Time-in-state analysis: treating each user's current event type
    as a state until their next event, the total and average dwell time
    per state — "how long do users sit in 'error' before anything else
    happens" is the UX/SRE question this answers, and it complements
    the transition PROBABILITIES in ``ts_markov_transitions`` with the
    holding-time dimension (together: a semi-Markov model).

    One lead window per user, exact integer-µs dwell arithmetic,
    |types|-row aggregate. Open-ended final states (no next event) are
    excluded, not imputed — an imputed horizon would be a policy choice
    the report shouldn't hide.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.unix_micros(F.lead("ts").over(w)).alias("next_us"),
    )
    dwell = F.col("next_us") - F.col("us")
    return (
        seq.filter(F.col("next_us").isNotNull())
        .groupBy(F.col("event_type").alias("state"))
        .agg(
            F.count(F.lit(1)).alias("n_stays"),
            F.round(F.sum(dwell) / 1_000_000.0, 4).alias("total_seconds"),
            F.round(F.avg(dwell) / 1_000_000.0, 4).alias("avg_seconds"),
        )
    )


@register(
    "agg_new_vs_returning",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ),
    weekly AS (
      SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week,
             user_id
      FROM events
    )
    SELECT w.week,
           CAST(SUM(CASE WHEN f.first_day >= w.week THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN f.first_day < w.week THEN 1 ELSE 0 END)
             AS BIGINT) AS n_returning,
           round(SUM(CASE WHEN f.first_day < w.week THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS returning_share
    FROM weekly w JOIN first_seen f USING (user_id)
    GROUP BY w.week
    """,
    tier="P2",
)
def agg_new_vs_returning(spark, t):
    """Weekly new-vs-returning active users: each week's actives split
    by whether their first-ever activity falls in that week — the
    growth-accounting decomposition (is usage growth acquisition or
    retention?) that a plain active-user count conflates.

    The first-seen table is one user-keyed aggregate broadcast back
    onto the distinct weekly-active grid; a user is 'new' in exactly
    one week by construction, which the classifier's >= week boundary
    encodes (first day always lands inside its own ISO week).
    """
    first_seen = (
        t["events"]
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("first_day"))
    )
    weekly = (
        t["events"]
        .select(
            F.date_trunc("week", "ts").cast("date").alias("week"), "user_id"
        )
        .distinct()
    )
    is_new = F.col("first_day") >= F.col("week")
    return (
        weekly.join(F.broadcast(first_seen), "user_id")
        .groupBy("week")
        .agg(
            F.count_if(is_new).alias("n_new"),
            F.count_if(~is_new).alias("n_returning"),
            F.round(
                F.count_if(~is_new) / F.count(F.lit(1)), 6
            ).alias("returning_share"),
        )
    )


@register(
    "agg_topk_with_others",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand, round(SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ),
    ranked AS (
      SELECT p_brand, revenue,
             row_number() OVER (ORDER BY revenue DESC, p_brand) AS rn
      FROM rev
    )
    SELECT CASE WHEN rn <= 5 THEN p_brand ELSE 'OTHER' END AS brand,
           COUNT(*) AS n_brands,
           round(SUM(revenue), 4) AS revenue
    FROM ranked
    GROUP BY CASE WHEN rn <= 5 THEN p_brand ELSE 'OTHER' END
    """,
    tier="P2",
)
def agg_topk_with_others(spark, t):
    """Top-5 brands by revenue plus an aggregated OTHER bucket — the
    dashboard-pie pattern done right: the long tail is REPRESENTED
    (with its member count and combined mass), not silently dropped the
    way a bare LIMIT does, so the chart's parts still sum to the total.

    Rank runs on the ROUNDED revenue with a brand tie-break over the
    |brands|-row pre-aggregated frame (bounded partition — a window
    here is fine precisely because the fact table was reduced first);
    the OTHER fold is one more |brands|-row aggregate.
    """
    from pyspark.sql import Window

    rev = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(r4(F.sum(net_price())).alias("revenue"))
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("p_brand"))
    ranked = rev.withColumn("rn", F.row_number().over(w))
    bucket = F.when(F.col("rn") <= 5, F.col("p_brand")).otherwise("OTHER")
    return (
        ranked.select(bucket.alias("brand"), "revenue")
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_brands"),
            r4(F.sum("revenue")).alias("revenue"),
        )
    )


@register(
    "agg_conversion_wilson",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchased
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(purchased) AS k
      FROM per_user WHERE clicked = 1
    )
    SELECT n AS n_clickers, CAST(k AS BIGINT) AS n_converted,
           round(k * 1.0 / n, 6) AS rate,
           round((k * 1.0 / n + 1.9208 / n
                  - 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lo,
           round((k * 1.0 / n + 1.9208 / n
                  + 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_hi
    FROM s
    """,
    tier="P2",
)
def agg_conversion_wilson(spark, t):
    """Click→purchase conversion rate with a Wilson 95 % confidence
    interval — the statistically honest way to report a proportion
    (the naive ±1.96·√(p(1−p)/n) Wald interval collapses or escapes
    [0,1] at extreme rates and small n; Wilson stays valid, which is
    why every serious A/B platform uses it).

    The z constants enter as exact literals (1.96, 1.96²=3.8416,
    1.96²/2=1.9208, (1.96/2)²·4=0.9604 — identical digits both
    engines). One per-user fold to click/purchase flags, one scalar
    aggregate, closed-form arithmetic.
    """
    per_user = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias(
                "clicked"
            ),
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "purchased"
            ),
        )
    )
    s = per_user.filter(F.col("clicked") == 1).agg(
        F.count(F.lit(1)).alias("n"), F.sum("purchased").alias("k")
    )
    p = F.col("k") / F.col("n")
    n = F.col("n")
    half = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return s.select(
        F.col("n").alias("n_clickers"),
        F.col("k").alias("n_converted"),
        F.round(p, 6).alias("rate"),
        F.round((p + 1.9208 / n - half) / denom, 6).alias("wilson_lo"),
        F.round((p + 1.9208 / n + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "agg_survival_km",
    oracle="""
    WITH bounds AS (SELECT MAX(CAST(ts AS DATE)) AS horizon FROM events),
    per_user AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS t0,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS fp
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT CASE WHEN fp IS NOT NULL THEN fp - t0
                  ELSE (SELECT horizon FROM bounds) - t0 END AS t_days,
             CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM per_user
    ),
    grid AS (
      SELECT t_days, SUM(event) AS d,
             SUM(1 - event) AS c
      FROM durations GROUP BY t_days
    ),
    risk AS (
      SELECT t_days, d, c,
             (SELECT COUNT(*) FROM durations)
               - COALESCE(SUM(d + c) OVER (ORDER BY t_days
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n_risk
      FROM grid
    )
    SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
           CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_days) = 1
                THEN 0.0
                ELSE round(exp(SUM(CASE WHEN d < n_risk
                                        THEN ln(1.0 - d * 1.0 / n_risk)
                                        ELSE 0.0 END)
                               OVER (ORDER BY t_days)), 6) END AS survival
    FROM risk WHERE d > 0
    """,
    tier="P2",
)
def agg_survival_km(spark, t):
    """Kaplan–Meier survival curve of time-to-first-purchase with RIGHT
    CENSORING: users who never purchase contribute risk time up to the
    observation horizon instead of being dropped — the estimator
    conversion-latency analysis needs, because discarding non-converters
    (as ``funnel_time_to_convert`` legitimately does for its latency
    histogram) biases survival toward the fast converters.

    S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) computed as exp of the running sum of
    ln(1 − d/n) — the product form underflows and has no distributed
    order; the log form is an ordered prefix sum over the
    |distinct-duration| grid (calendar-bounded, ≤ observation window in
    days). At-risk counts come from the same grid's exclusive prefix of
    (events + censored). Both prefix passes run per-day on a bounded
    frame; the per-user fold is the only data-proportional step.
    """
    from pyspark.sql import Window

    ev = t["events"]
    bounds = ev.agg(F.max(F.col("ts").cast("date")).alias("horizon"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("fp"),
    )
    durations = (
        per_user.crossJoin(F.broadcast(bounds))
        .select(
            F.when(
                F.col("fp").isNotNull(), F.datediff("fp", "t0")
            )
            .otherwise(F.datediff("horizon", "t0"))
            .alias("t_days"),
            F.col("fp").isNotNull().cast("int").alias("event"),
        )
        .cache()
    )
    grid = durations.groupBy("t_days").agg(
        F.sum("event").alias("d"), F.sum(F.lit(1) - F.col("event")).alias("c")
    )
    n_total = durations.agg(F.count(F.lit(1)).alias("n_total"))
    w_excl = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_incl = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grid.crossJoin(F.broadcast(n_total)).select(
        "t_days",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_excl), F.lit(0))
        ).alias("n_risk"),
    )
    # the final event time can have d == n_risk (everyone remaining
    # converts): the factor is exactly 0, ln(0) is an error in DuckDB
    # and null in Spark — model the absorbing zero explicitly instead
    ln_term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("d") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    hit_zero = F.max(
        (F.col("d") == F.col("n_risk")).cast("int")
    ).over(w_incl)
    surv = F.when(hit_zero == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(ln_term).over(w_incl)), 6)
    )
    return risk.withColumn("survival", surv).filter(
        F.col("d") > 0
    ).select(
        "t_days",
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        "survival",
    )


@register(
    "ml_lift_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS score,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchased
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT purchased,
             ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM per_user
    ),
    cells AS (
      SELECT decile, COUNT(*) AS n_users, SUM(purchased) AS n_purchasers
      FROM ranked GROUP BY decile
    ),
    tot AS (SELECT SUM(n_purchasers)::DOUBLE AS total_p,
                   SUM(n_users)::DOUBLE AS total_u FROM cells)
    SELECT CAST(decile AS BIGINT) AS decile, n_users,
           CAST(n_purchasers AS BIGINT) AS n_purchasers,
           round(n_purchasers / t.total_p, 6) AS capture_share,
           round(SUM(n_purchasers) OVER (ORDER BY decile) / t.total_p, 6)
             AS cum_capture,
           round((n_purchasers * 1.0 / n_users)
                 / (t.total_p / t.total_u), 6) AS lift
    FROM cells, tot t
    """,
    tier="P2",
)
def ml_lift_deciles(spark, t):
    """Model lift/gains table: users deciled by a score (click count as
    the stand-in model), each decile's share of all purchasers, the
    cumulative gains curve, and lift over the base rate — the
    campaign-targeting readout ("mail the top 3 deciles, capture X % of
    buyers") that AUC summarizes but operators act on.

    Deciling rides the two-phase global rank (ntile arithmetic over
    rn/n_total, the ``win_ntile`` mechanism — never a partition-less
    window over users); the cumulative-gains window runs over the
    10-row decile frame.
    """
    from pyspark.sql import Window

    from .windows import two_phase_global_rank

    per_user = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("event_type") == "click").alias("score"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("purchased"),
        )
    )
    k = 10
    ranked = two_phase_global_rank(
        per_user, [F.desc("score"), F.asc("user_id")]
    ).withColumns(
        {"base": F.expr(f"n_total div {k}"), "rem": F.col("n_total") % k}
    )
    decile = F.when(
        F.col("rn") <= F.col("rem") * (F.col("base") + 1),
        F.expr("(rn + base) div (base + 1)"),
    ).otherwise(
        F.col("rem") + F.expr("(rn - rem * (base + 1) + base - 1) div base")
    )
    cells = (
        ranked.select(decile.cast("bigint").alias("decile"), "purchased")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("purchased").alias("n_purchasers"),
        )
    )
    tot = cells.agg(
        F.sum("n_purchasers").cast("double").alias("total_p"),
        F.sum("n_users").cast("double").alias("total_u"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return cells.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_users",
        "n_purchasers",
        F.round(F.col("n_purchasers") / F.col("total_p"), 6).alias(
            "capture_share"
        ),
        F.round(
            F.sum("n_purchasers").over(w) / F.col("total_p"), 6
        ).alias("cum_capture"),
        F.round(
            (F.col("n_purchasers") / F.col("n_users"))
            / (F.col("total_p") / F.col("total_u")),
            6,
        ).alias("lift"),
    )


@register(
    "agg_basket_size_hist",
    oracle="""
    WITH sizes AS (
      SELECT l_orderkey, COUNT(*) AS n_items,
             round(SUM(l_extendedprice * (1 - l_discount)), 4) AS basket_value
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_items,
           COUNT(*) AS n_orders,
           round(AVG(basket_value), 4) AS avg_basket_value
    FROM sizes GROUP BY n_items
    """,
    tier="P2",
)
def agg_basket_size_hist(spark, t):
    """Basket-size distribution: how many orders carry k line items and
    what a k-item basket is worth on average — the merchandising
    baseline behind bundle pricing and free-shipping thresholds, and
    the two-level count-of-counts aggregation shape (rows → per-key
    counts → distribution of counts) that also powers Q13.

    Two keyed aggregates back to back: the first shuffles on the order
    key with map-side combine, the second folds |orders| rows to the
    |distinct sizes| histogram. The per-basket value is rounded before
    averaging so the distribution row values are cross-engine stable.
    """
    sizes = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            r4(F.sum(net_price())).alias("basket_value"),
        )
    )
    return sizes.groupBy("n_items").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("basket_value"), 4).alias("avg_basket_value"),
    )


@register(
    "agg_repeat_purchase",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS k
      FROM events WHERE event_type = 'purchase'
    ),
    per_user AS (
      SELECT user_id,
             MAX(k) AS n_purchases,
             MIN(CASE WHEN k = 1 THEN ts END) AS first_ts,
             MIN(CASE WHEN k = 2 THEN ts END) AS second_ts
      FROM ranked GROUP BY user_id
    )
    SELECT COUNT(*) AS n_buyers,
           CAST(SUM(CASE WHEN n_purchases >= 2 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_repeat_buyers,
           round(SUM(CASE WHEN n_purchases >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS repeat_rate,
           round(AVG((epoch_us(second_ts) - epoch_us(first_ts))
                     / 86400000000.0), 4) AS avg_days_to_second
    FROM per_user
    """,
    tier="P2",
)
def agg_repeat_purchase(spark, t):
    """Repeat-purchase economics: the share of buyers who come back for
    a second purchase and how long the second one takes on average —
    the two numbers (with LTV) that decide whether acquisition spend
    amortizes. First/second purchase times come from one per-user rank
    window; the latency is exact-µs arithmetic converted to days only
    at the output edge; AVG skips one-time buyers' NULL latency on
    both engines by SQL semantics.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.row_number().over(w).alias("k"))
    )
    per_user = ranked.groupBy("user_id").agg(
        F.max("k").alias("n_purchases"),
        F.min(F.when(F.col("k") == 1, F.col("ts"))).alias("first_ts"),
        F.min(F.when(F.col("k") == 2, F.col("ts"))).alias("second_ts"),
    )
    repeat = F.col("n_purchases") >= 2
    latency_days = (
        F.unix_micros("second_ts") - F.unix_micros("first_ts")
    ) / 86_400_000_000.0
    return per_user.agg(
        F.count(F.lit(1)).alias("n_buyers"),
        F.count_if(repeat).alias("n_repeat_buyers"),
        F.round(F.count_if(repeat) / F.count(F.lit(1)), 6).alias(
            "repeat_rate"
        ),
        F.round(F.avg(latency_days), 4).alias("avg_days_to_second"),
    )


@register(
    "rfm_score_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             datediff('day', MAX(CAST(o_orderdate AS DATE)),
                      DATE '2002-01-01') AS recency_days,
             COUNT(*) AS frequency,
             round(SUM(o_totalprice), 4) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT *,
             6 - ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_raw,
             ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM base
    )
    SELECT CASE
             WHEN r_raw >= 4 AND f_score >= 4 THEN 'champions'
             WHEN r_raw >= 4 THEN 'recent'
             WHEN f_score >= 4 THEN 'loyal_lapsing'
             WHEN r_raw <= 2 AND f_score <= 2 THEN 'at_risk'
             ELSE 'regular'
           END AS segment,
           COUNT(*) AS n_customers,
           round(SUM(monetary), 4) AS segment_revenue,
           round(AVG(recency_days), 4) AS avg_recency_days
    FROM scored GROUP BY 1
    """,
    tier="P1",
)
def rfm_score_segments(spark, t):
    """RFM quintile scoring + named segments — the step AFTER the raw
    customer-360 rollup (``rfm_customer_360``): recency/frequency/
    monetary each scored 1–5 by quintile, customers bucketed into the
    named segments (champions / recent / loyal-lapsing / at-risk /
    regular) a campaign tool actually targets, reported with each
    segment's size, revenue, and average recency.

    Recency scores INVERT (recent = high score) via 6 − ntile; all
    three ntiles ride the two-phase global rank arithmetic (the
    ``win_ntile`` mechanism — one ranked pass per dimension over the
    |customers| frame, never a partition-less window), with customer-key
    tie-breaks making every quintile edge deterministic cross-engine.
    """
    from .windows import two_phase_global_rank

    base = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.lit("2002-01-01").cast("date"),
                F.max(F.col("o_orderdate").cast("date")),
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            r4(F.sum("o_totalprice")).alias("monetary"),
        )
        .cache()
    )

    def ntile5(df, order_col, out):
        ranked = two_phase_global_rank(
            df, [F.asc(order_col), F.asc("o_custkey")]
        ).withColumns(
            {"base5": F.expr("n_total div 5"), "rem5": F.col("n_total") % 5}
        )
        tile = F.when(
            F.col("rn") <= F.col("rem5") * (F.col("base5") + 1),
            F.expr("(rn + base5) div (base5 + 1)"),
        ).otherwise(
            F.col("rem5")
            + F.expr("(rn - rem5 * (base5 + 1) + base5 - 1) div base5")
        )
        return ranked.select(
            "o_custkey", tile.cast("int").alias(out)
        )

    r_s = ntile5(base.select("o_custkey", "recency_days"), "recency_days", "r_raw")
    f_s = ntile5(base.select("o_custkey", "frequency"), "frequency", "f_score")
    m_s = ntile5(base.select("o_custkey", "monetary"), "monetary", "m_score")
    scored = (
        base.join(r_s, "o_custkey")
        .join(f_s, "o_custkey")
        .join(m_s, "o_custkey")
        .withColumn("r_raw", F.lit(6) - F.col("r_raw"))
    )
    segment = (
        F.when((F.col("r_raw") >= 4) & (F.col("f_score") >= 4), "champions")
        .when(F.col("r_raw") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal_lapsing")
        .when((F.col("r_raw") <= 2) & (F.col("f_score") <= 2), "at_risk")
        .otherwise("regular")
    )
    return (
        scored.select(segment.alias("segment"), "monetary", "recency_days")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            r4(F.sum("monetary")).alias("segment_revenue"),
            F.round(F.avg("recency_days"), 4).alias("avg_recency_days"),
        )
    )


@register(
    "agg_abc_xyz_classes",
    oracle="""
    WITH part_rev AS (
      SELECT l_partkey,
             CAST(round(SUM(l_extendedprice * (1 - l_discount)) * 100)
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum_c,
             SUM(cents) OVER () AS total_c
      FROM part_rev
    ),
    abc AS (
      SELECT l_partkey,
             CASE WHEN cum_c * 5 <= total_c * 4 THEN 'A'
                  WHEN cum_c * 20 <= total_c * 19 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    ),
    weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             SUM(l_quantity) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    xyz AS (
      SELECT l_partkey,
             CASE WHEN stddev_samp(qty) / AVG(qty) <= 0.5 THEN 'X'
                  WHEN stddev_samp(qty) / AVG(qty) <= 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM weekly GROUP BY l_partkey
    )
    SELECT a.abc_class, x.xyz_class,
           COUNT(*) AS n_parts
    FROM abc a JOIN xyz x USING (l_partkey)
    GROUP BY a.abc_class, x.xyz_class
    """,
    tier="P2",
)
def agg_abc_xyz_classes(spark, t):
    """ABC×XYZ inventory classification matrix: parts classed by revenue
    concentration (A = the first 80 % of cumulative revenue, B to 95 %,
    C the tail) crossed with demand variability (X/Y/Z by the
    coefficient of variation of weekly shipped quantity) — the 9-cell
    grid that drives stocking policy (AX: automate; CZ: make-to-order).

    The cumulative-revenue cut runs on the two-phase prefix sum in
    EXACT integer cents with integer threshold comparisons
    (cum·5 ≤ total·4 for the 80 % line) — float cumulative sums
    accumulate in engine-specific order and a part sitting on the
    threshold could class differently per engine (the ``win_vwap``
    lesson applied preemptively); the CV classifier uses the same
    sample-stddev definition on both engines. Two part-keyed
    aggregates + one part-keyed join; output is the constant 9-cell
    matrix.
    """
    from .windows import two_phase_scan

    part_rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum(net_price()) * 100)
            .cast("bigint")
            .alias("cents")
        )
        .cache()
    )
    cum = two_phase_scan(
        part_rev, [F.desc("cents"), F.asc("l_partkey")], ["cents"]
    )
    total = part_rev.agg(F.sum("cents").alias("total_c"))
    abc = cum.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        F.when(F.col("cum_cents") * 5 <= F.col("total_c") * 4, "A")
        .when(F.col("cum_cents") * 20 <= F.col("total_c") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    weekly = (
        t["lineitem"]
        .groupBy(
            "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
        )
        .agg(F.sum("l_quantity").alias("qty"))
    )
    cv = F.stddev_samp("qty") / F.avg("qty")
    xyz = weekly.groupBy("l_partkey").agg(
        F.when(cv <= 0.5, "X").when(cv <= 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        )
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@register(
    "agg_did_discount_effect",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS treated,
             CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS post,
             AVG(l_quantity) AS mean_qty, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT
      round((SELECT mean_qty FROM cells WHERE treated=1 AND post=1), 6)
        AS treat_post,
      round((SELECT mean_qty FROM cells WHERE treated=1 AND post=0), 6)
        AS treat_pre,
      round((SELECT mean_qty FROM cells WHERE treated=0 AND post=1), 6)
        AS ctrl_post,
      round((SELECT mean_qty FROM cells WHERE treated=0 AND post=0), 6)
        AS ctrl_pre,
      round(((SELECT mean_qty FROM cells WHERE treated=1 AND post=1)
             - (SELECT mean_qty FROM cells WHERE treated=1 AND post=0))
            - ((SELECT mean_qty FROM cells WHERE treated=0 AND post=1)
               - (SELECT mean_qty FROM cells WHERE treated=0 AND post=0)), 6)
        AS did_estimate,
      CAST((SELECT SUM(n) FROM cells) AS BIGINT) AS n_lines
    """,
    tier="P2",
)
def agg_did_discount_effect(spark, t):
    """Difference-in-differences estimate of the deep-discount effect on
    quantity: (treated post − treated pre) − (control post − control
    pre), where treatment = discount > 5 % and the period split is the
    1998 boundary — the quasi-experimental workhorse for "did the
    policy change move the metric beyond the secular trend", reported
    with all four cell means so the parallel-trends eyeball check is
    right there.

    One conditional scan folds the fact table into the 2×2 cell means
    (map-side partials); the estimator is closed-form arithmetic over
    the 4-row frame. (On synthetic data the estimate ≈ 0 — the verified
    machinery, not the economics, is the deliverable.)
    """
    treated = (F.col("l_discount") > 0.05).cast("int")
    post = (
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz")
    ).cast("int")
    cells = (
        t["lineitem"]
        .groupBy(treated.alias("treated"), post.alias("post"))
        .agg(F.avg("l_quantity").alias("mean_qty"), F.count(F.lit(1)).alias("n"))
        .cache()
    )

    def cell(tr, po, name):
        return cells.filter(
            (F.col("treated") == tr) & (F.col("post") == po)
        ).select(F.col("mean_qty").alias(name))

    n_lines = cells.agg(F.sum("n").alias("n_lines"))
    out = (
        cell(1, 1, "tp")
        .crossJoin(F.broadcast(cell(1, 0, "tr")))
        .crossJoin(F.broadcast(cell(0, 1, "cp")))
        .crossJoin(F.broadcast(cell(0, 0, "cr")))
        .crossJoin(F.broadcast(n_lines))
    )
    return out.select(
        F.round("tp", 6).alias("treat_post"),
        F.round("tr", 6).alias("treat_pre"),
        F.round("cp", 6).alias("ctrl_post"),
        F.round("cr", 6).alias("ctrl_pre"),
        F.round(
            (F.col("tp") - F.col("tr")) - (F.col("cp") - F.col("cr")), 6
        ).alias("did_estimate"),
        "n_lines",
    )


@register(
    "ts_purchase_cycle",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             datediff('day',
                      lag(CAST(o_orderdate AS DATE))
                        OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey),
                      CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders
    ),
    per_cust AS (
      SELECT o_custkey, AVG(gap_days) AS avg_gap
      FROM gaps WHERE gap_days IS NOT NULL
      GROUP BY o_custkey
    )
    SELECT COUNT(*) AS n_repeat_customers,
           round(AVG(avg_gap), 4) AS mean_cycle_days,
           round(MIN(avg_gap), 4) AS fastest_cycle_days,
           round(MAX(avg_gap), 4) AS slowest_cycle_days
    FROM per_cust
    """,
    tier="P2",
)
def ts_purchase_cycle(spark, t):
    """Purchase-cycle length: each repeat customer's average days
    between consecutive orders, summarized across the base — the
    replenishment-cadence number behind reorder reminders and
    churn-risk clocks ("2× their cycle with no order" is the classic
    trigger; see ``agg_repeat_purchase`` for the first→second special
    case).

    One lag window per customer over exact DATE arithmetic, a
    customer-keyed mean of gaps (first orders drop via NULL-lag), and
    one scalar summary fold.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = t["orders"].select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    )
    per_cust = (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(F.avg("gap_days").alias("avg_gap"))
    )
    return per_cust.agg(
        F.count(F.lit(1)).alias("n_repeat_customers"),
        F.round(F.avg("avg_gap"), 4).alias("mean_cycle_days"),
        F.round(F.min("avg_gap"), 4).alias("fastest_cycle_days"),
        F.round(F.max("avg_gap"), 4).alias("slowest_cycle_days"),
    )


@register(
    "agg_hhi_concentration",
    oracle="""
    WITH custrev AS (
      SELECT c.c_mktsegment, o.o_custkey, SUM(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           round(10000 * SUM(rev * rev) / (SUM(rev) * SUM(rev)), 4) AS hhi
    FROM custrev
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tier="P2",
)
def agg_hhi_concentration(spark, t):
    """Herfindahl-Hirschman revenue-concentration index per market
    segment — the antitrust-style "is this segment dominated by a few
    customers" screen (10,000 = monopoly, → 0 = atomized).

    HHI = Σ shareᵢ² ×10⁴ needs no per-row share column: with
    S = Σ revᵢ it equals 10⁴·Σ revᵢ²/S², so one two-level aggregate
    computes it — per-(segment, customer) revenue, then per-segment
    SUM(rev²)/SUM(rev)². Both levels are map-side-combinable hash
    aggregates; the second input is bounded by the customer count, and
    no window, self-join, or share materialization appears at any
    scale.
    """
    custrev = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    return (
        custrev.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.lit(10000)
                * F.sum(F.col("rev") * F.col("rev"))
                / (F.sum("rev") * F.sum("rev")),
                4,
            ).alias("hhi"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_pvm_decomposition",
    oracle="""
    WITH yearly AS (
      SELECT n.n_name AS nation,
             SUM(CASE WHEN EXTRACT(year FROM o.o_orderdate) = 1997
                      THEN l.l_quantity ELSE 0 END) AS q97,
             SUM(CASE WHEN EXTRACT(year FROM o.o_orderdate) = 1997
                      THEN l.l_extendedprice * (1 - l.l_discount)
                      ELSE 0 END) AS rev97,
             SUM(CASE WHEN EXTRACT(year FROM o.o_orderdate) = 1998
                      THEN l.l_quantity ELSE 0 END) AS q98,
             SUM(CASE WHEN EXTRACT(year FROM o.o_orderdate) = 1998
                      THEN l.l_extendedprice * (1 - l.l_discount)
                      ELSE 0 END) AS rev98
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name
    )
    SELECT nation,
           round(rev98 - rev97, 4) AS rev_change,
           round((q98 - q97) * (rev97 / q97), 4) AS volume_effect,
           round((rev98 / q98 - rev97 / q97) * q98, 4) AS price_effect
    FROM yearly
    WHERE q97 > 0 AND q98 > 0
    ORDER BY nation
    """,
    tier="P2",
)
def agg_pvm_decomposition(spark, t):
    """Price-volume decomposition of the 1997→1998 revenue change per
    supplier nation: Δrev splits exactly into a volume effect
    (Δq · p₉₇) and a price effect (Δp · q₉₈) — the finance-style
    "why did revenue move" waterfall, where the two effects sum to the
    change by construction (using the old price for volume and the new
    quantity for price leaves no mix residual in a one-level grouping).

    Both years fold in ONE scan via conditional aggregation — no
    self-join of the fact table to itself per year, which is the naive
    formulation and doubles the shuffle. Dimension chain broadcasts;
    the effects are arithmetic over the |nations|-row aggregate.
    """
    yr = F.year("o_orderdate")
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    yearly = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.when(yr == 1997, F.col("l_quantity")).otherwise(0)).alias("q97"),
            F.sum(F.when(yr == 1997, net).otherwise(0)).alias("rev97"),
            F.sum(F.when(yr == 1998, F.col("l_quantity")).otherwise(0)).alias("q98"),
            F.sum(F.when(yr == 1998, net).otherwise(0)).alias("rev98"),
        )
    )
    return (
        yearly.filter((F.col("q97") > 0) & (F.col("q98") > 0))
        .select(
            "nation",
            F.round(F.col("rev98") - F.col("rev97"), 4).alias("rev_change"),
            F.round(
                (F.col("q98") - F.col("q97")) * (F.col("rev97") / F.col("q97")), 4
            ).alias("volume_effect"),
            F.round(
                (F.col("rev98") / F.col("q98") - F.col("rev97") / F.col("q97"))
                * F.col("q98"),
                4,
            ).alias("price_effect"),
        )
        .orderBy("nation")
    )


@register(
    "agg_customer_migration_matrix",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                      THEN o_totalprice ELSE 0 END) AS h1,
             SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                      THEN o_totalprice ELSE 0 END) AS h2
      FROM orders
      GROUP BY o_custkey
    ),
    tiered AS (
      SELECT CASE WHEN h1 = 0 THEN 'none'
                  WHEN h1 < 800000 THEN 'low'
                  WHEN h1 < 1500000 THEN 'mid'
                  ELSE 'high' END AS tier_from,
             CASE WHEN h2 = 0 THEN 'none'
                  WHEN h2 < 800000 THEN 'low'
                  WHEN h2 < 1500000 THEN 'mid'
                  ELSE 'high' END AS tier_to
      FROM spend
    )
    SELECT tier_from, tier_to, COUNT(*) AS n_customers,
           round(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY tier_from), 4)
             AS row_share
    FROM tiered
    GROUP BY tier_from, tier_to
    ORDER BY tier_from, tier_to
    """,
    tier="P2",
)
def agg_customer_migration_matrix(spark, t):
    """Customer value-tier migration matrix between two periods (orders
    before vs from 1998): how many low/mid/high/none-spend customers
    moved to each tier, with each cell's share of its origin row — the
    churn/upgrade chord diagram behind every retention program (the
    marketing twin of ``ts_markov_transitions``, which tracks event
    types; segment cuts are fixed absolute thresholds so the matrix is
    comparable across runs, unlike quantile tiers that move with the
    population).

    Both periods aggregate in ONE scan (conditional sums per customer) —
    no per-period self-join — and everything after the per-customer
    fold is arithmetic over a ≤16-row matrix; the row-share window runs
    on that matrix, not on data.
    """
    spend = t["orders"].groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"),
                F.col("o_totalprice"),
            ).otherwise(0)
        ).alias("h1"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz"),
                F.col("o_totalprice"),
            ).otherwise(0)
        ).alias("h2"),
    )

    def tier(c):
        return (
            F.when(F.col(c) == 0, "none")
            .when(F.col(c) < 800000, "low")
            .when(F.col(c) < 1500000, "mid")
            .otherwise("high")
        )

    from pyspark.sql import Window

    cells = (
        spend.select(tier("h1").alias("tier_from"), tier("h2").alias("tier_to"))
        .groupBy("tier_from", "tier_to")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    w = Window.partitionBy("tier_from")
    return cells.select(
        "tier_from",
        "tier_to",
        "n_customers",
        F.round(
            F.col("n_customers") * F.lit(1.0) / F.sum("n_customers").over(w), 4
        ).alias("row_share"),
    ).orderBy("tier_from", "tier_to")


@register(
    "attribution_time_decay",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events
    ),
    based AS (
      SELECT *,
             (us - MIN(us) OVER (PARTITION BY user_id)) / 86400000000.0
               AS t_days
      FROM ev
    ),
    weighted AS (
      SELECT *,
             CASE WHEN event_type <> 'purchase'
                  THEN exp(0.6931471805599453 * t_days) END AS x
      FROM based
    ),
    w1 AS (
      SELECT *, SUM(x) OVER (PARTITION BY user_id ORDER BY us
                             RANGE BETWEEN {_LOOKBACK_US} PRECEDING
                                   AND 1 PRECEDING) AS s
      FROM weighted
    ),
    w2 AS (
      SELECT *, CASE WHEN event_type = 'purchase' AND s > 0
                     THEN value / s END AS q
      FROM w1
    ),
    w3 AS (
      SELECT *, x * SUM(q) OVER (PARTITION BY user_id ORDER BY us
                                 RANGE BETWEEN 1 FOLLOWING
                                       AND {_LOOKBACK_US} FOLLOWING) AS credit
      FROM w2
    )
    SELECT event_type AS channel,
           round(SUM(COALESCE(credit, 0)), 4) AS credited_revenue,
           CAST(SUM(CASE WHEN credit IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_credited_touches
    FROM w3 WHERE event_type <> 'purchase'
    GROUP BY event_type
    """,
    tier="P2",
)
def attribution_time_decay(spark, t):
    """Time-decay multi-touch attribution (1-day half-life): each
    purchase's value splits over its 7-day-lookback touches with weight
    ∝ 2^(−Δdays), so the touch an hour before the purchase earns ~2×
    the credit of one a day before — completing the attribution family
    (last-touch / linear / decay).

    The decay NORMALIZATION usually forces a purchase×touch join; the
    exponential factors it away: 2^(−λ(p−t)) / Σ 2^(−λ(p−t')) =
    2^(λt) / Σ 2^(λt') — the purchase term cancels, so the same
    two-mirror-RANGE-window plan as ``attribution_linear_multi_touch``
    works: a backward window sums touch weights x=2^(λt) into each
    purchase's normalizer, a forward window hands value/Σx back to the
    touches, and each touch multiplies by its own x. Exponents are
    anchored to the per-user MIN timestamp (the anchor cancels in the
    ratio) so 30 days of span costs e^21, comfortably inside double
    range. One user shuffle, one per-user sort, zero joins.
    """
    from pyspark.sql import Window

    ln2 = 0.6931471805599453
    ev = t["events"].select(
        "user_id", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    part = Window.partitionBy("user_id")
    spec = part.orderBy("us")
    w_back = spec.rangeBetween(-_LOOKBACK_US, -1)
    w_fwd = spec.rangeBetween(1, _LOOKBACK_US)
    is_touch = F.col("event_type") != "purchase"
    t_days = (F.col("us") - F.min("us").over(part)) / F.lit(86400000000.0)
    x = F.when(is_touch, F.exp(F.lit(ln2) * t_days))
    w1 = ev.withColumn("x", x).withColumn("s", F.sum("x").over(w_back))
    q = F.when(
        (F.col("event_type") == "purchase") & (F.col("s") > 0),
        F.col("value") / F.col("s"),
    )
    w2 = w1.withColumn("q", q)
    credit = F.col("x") * F.sum("q").over(w_fwd)
    return (
        w2.withColumn("credit", credit)
        .filter(is_touch)
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            r4(F.sum(F.coalesce("credit", F.lit(0.0)))).alias(
                "credited_revenue"
            ),
            F.sum(F.col("credit").isNotNull().cast("bigint")).alias(
                "n_credited_touches"
            ),
        )
    )


@register(
    "agg_theil_decomposition",
    oracle="""
    WITH x AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(round(SUM(o.o_totalprice) * 100) AS BIGINT) AS rev_c
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    tot AS (
      SELECT COUNT(*)::DOUBLE AS n,
             CAST(SUM(rev_c) AS DOUBLE) / 100.0 / COUNT(*) AS mu
      FROM x
    ),
    seg0 AS (
      SELECT segment, rev_c,
             CAST(SUM(rev_c) OVER (PARTITION BY segment) AS DOUBLE)
               / 100.0 / COUNT(*) OVER (PARTITION BY segment) AS mug0
      FROM x
    ),
    seg AS (
      SELECT segment, COUNT(*)::DOUBLE AS ng,
             CAST(SUM(rev_c) AS DOUBLE) / 100.0 / COUNT(*) AS mug,
             AVG(((rev_c / 100.0) / mug0)
                 * ln((rev_c / 100.0) / mug0)) AS theil_g
      FROM seg0
      GROUP BY segment
    )
    SELECT s.segment,
           CAST(s.ng AS BIGINT) AS n_customers,
           round(s.mug, 4) AS mean_rev,
           round(s.theil_g, 6) AS theil_within,
           round((s.ng / t.n) * (s.mug / t.mu) * ln(s.mug / t.mu), 6)
             AS between_term,
           round((s.ng / t.n) * (s.mug / t.mu) * s.theil_g, 6)
             AS within_contrib
    FROM seg s CROSS JOIN tot t
    ORDER BY s.segment
    """,
    tier="P2",
)
def agg_theil_decomposition(spark, t):
    """Theil-T inequality of customer revenue, decomposed by market
    segment: T = T_between + Σ weighted within-segment terms — unlike
    Gini (``agg_gini_revenue``), Theil decomposes EXACTLY, so the
    report says how much revenue inequality lives between segments vs
    inside them (the additivity is asserted in tests).

    Per-customer revenue folds once; each segment's own Theil needs the
    segment mean inside the entropy term, which one window over the
    segment partition provides (bounded by customers-per-segment); the
    |segments|-row report then cross-joins the 1-row global frame.

    Float discipline (r6 — caught by the sf0.001 sweep, the 4-dp class
    from r3): per-customer revenue folds to EXACT integer cents and
    every mean is derived as (exact integer sum) / 100 / count, so the
    rounded report columns see bit-identical doubles in both engines
    instead of association-ordered double AVGs whose 4th decimal can
    sit on a half boundary (mean_rev hit ….52275 at sf0.001).
    """
    from pyspark.sql import Window

    x = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.round(F.sum("o_totalprice") * 100)
            .cast("bigint")
            .alias("rev_c")
        )
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (
            F.sum("rev_c").cast("double") / 100.0 / F.count(F.lit(1))
        ).alias("mu"),
    )
    w_seg = Window.partitionBy("segment")
    mug0 = (
        F.sum("rev_c").over(w_seg).cast("double")
        / 100.0
        / F.count(F.lit(1)).over(w_seg)
    )
    ratio = (F.col("rev_c") / 100.0) / mug0
    seg = (
        x.withColumn("term", ratio * F.log(ratio))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("double").alias("ng"),
            (
                F.sum("rev_c").cast("double") / 100.0 / F.count(F.lit(1))
            ).alias("mug"),
            F.avg("term").alias("theil_g"),
        )
    )
    return (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.col("ng").cast("bigint").alias("n_customers"),
            F.round("mug", 4).alias("mean_rev"),
            F.round("theil_g", 6).alias("theil_within"),
            F.round(
                (F.col("ng") / F.col("n"))
                * (F.col("mug") / F.col("mu"))
                * F.log(F.col("mug") / F.col("mu")),
                6,
            ).alias("between_term"),
            F.round(
                (F.col("ng") / F.col("n"))
                * (F.col("mug") / F.col("mu"))
                * F.col("theil_g"),
                6,
            ).alias("within_contrib"),
        )
        .orderBy("segment")
    )


@register(
    "agg_bounce_rate",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT *,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    ),
    entered AS (
      SELECT *,
             first_value(event_type) OVER (
               PARTITION BY user_id, session_no
               ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS entry_type
      FROM sess
    ),
    per_session AS (
      SELECT user_id, session_no,
             max(entry_type) AS entry_type,
             count(*) AS n_events
      FROM entered GROUP BY user_id, session_no
    )
    SELECT entry_type,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_bounces,
           round(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS bounce_rate
    FROM per_session
    GROUP BY entry_type
    ORDER BY entry_type
    """,
    tier="P2",
)
def agg_bounce_rate(spark, t):
    """Bounce rate by session entry type: of the sessions that OPEN with
    each event type, what share end after that single event — the
    landing-page health metric, computed on the same 30-minute-gap
    session definition as ``etl_sessionize`` (one definition, many
    consumers, as a real warehouse requires).

    Sessionization is the standard two-window gaps-and-islands on the
    user partition; the entry event is a ``min_by`` on the exact
    (µs, event_id) order key — deterministic even with equal
    timestamps — and the report is a ≤|event types|-row aggregate.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e = t["events"].select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.min_by("event_type", F.struct("ts_us", "event_id")).alias(
            "entry_type"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounces.alias("n_bounces"),
            F.round(bounces * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
                "bounce_rate"
            ),
        )
        .orderBy("entry_type")
    )


@register(
    "agg_growth_accounting",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    marked AS (
      SELECT user_id, day,
             lag(day)  OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      FROM act
    ),
    cls AS (
      SELECT day,
             SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS n_new,
             SUM(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS n_retained,
             SUM(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
                      THEN 1 ELSE 0 END) AS n_resurrected
      FROM marked GROUP BY day
    ),
    churn AS (
      SELECT day + 1 AS day, COUNT(*) AS n_churned
      FROM marked
      WHERE next_day IS NULL OR next_day > day + 1
      GROUP BY day + 1
    )
    SELECT COALESCE(c.day, ch.day) AS day,
           CAST(COALESCE(c.n_new, 0) AS BIGINT) AS n_new,
           CAST(COALESCE(c.n_retained, 0) AS BIGINT) AS n_retained,
           CAST(COALESCE(c.n_resurrected, 0) AS BIGINT) AS n_resurrected,
           COALESCE(ch.n_churned, 0) AS n_churned
    FROM cls c FULL OUTER JOIN churn ch ON ch.day = c.day
    ORDER BY day
    """,
    tier="P2",
)
def agg_growth_accounting(spark, t):
    """DAU growth accounting: every day's active users decomposed into
    new / retained (active yesterday) / resurrected (returning after a
    gap), plus the users churning INTO each day (active the day before,
    absent now; the day after the last observed activity counts as the
    churn day, including one synthetic day past the window's end) —
    the standard user-growth ledger where
    DAU(d) = new + retained + resurrected and
    DAU(d) − DAU(d−1) = new + resurrected − churned.

    One distinct (user, day) fold, one lag/lead window per user (frame
    bounded by a user's active days), then two calendar-bounded daily
    aggregates outer-joined — nothing after the first exchange is
    data-proportional. The ledger identities are asserted in tests.
    """
    from pyspark.sql import Window

    act = (
        t["events"]
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    marked = act.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    cls = marked.groupBy("day").agg(
        F.sum(F.when(F.col("prev_day").isNull(), 1).otherwise(0)).alias("n_new"),
        F.sum(
            F.when(F.col("prev_day") == F.date_sub("day", 1), 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_day").isNotNull()
                & (F.col("prev_day") < F.date_sub("day", 1)),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    churn = (
        marked.filter(
            F.col("next_day").isNull()
            | (F.col("next_day") > F.date_add("day", 1))
        )
        .groupBy(F.date_add("day", 1).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        cls.join(churn, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
        )
        .orderBy("day")
    )


@register(
    "agg_whale_curve_topshares",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_orders,
           round(SUM(o_totalprice), 4) AS total_revenue,
           round(SUM(CASE WHEN rn <= ceil(0.01 * n) THEN o_totalprice
                          ELSE 0 END) / SUM(o_totalprice), 6) AS share_top1pct,
           round(SUM(CASE WHEN rn <= ceil(0.05 * n) THEN o_totalprice
                          ELSE 0 END) / SUM(o_totalprice), 6) AS share_top5pct,
           round(SUM(CASE WHEN rn <= ceil(0.10 * n) THEN o_totalprice
                          ELSE 0 END) / SUM(o_totalprice), 6) AS share_top10pct
    FROM ranked
    """,
    tier="P2",
)
def agg_whale_curve_topshares(spark, t):
    """Whale-curve summary: the revenue share captured by the top 1 %,
    5 %, and 10 % of orders — the concentration headline that
    ``pareto_revenue_deciles`` (10 fixed bands) and
    ``agg_hhi_concentration`` (a single index) bracket but don't state
    directly.

    The global revenue rank comes from ``two_phase_global_rank``
    (n_total rides along), so the whole operator is one ranked scan +
    one conditional-sum fold — the oracle's partition-less window is
    again the specification the plan avoids.
    """
    from .windows import two_phase_global_rank

    ranked = two_phase_global_rank(
        t["orders"].select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
    )
    def share(p):
        return F.round(
            F.sum(
                F.when(
                    F.col("rn") <= F.ceil(F.lit(p) * F.col("n_total")),
                    F.col("o_totalprice"),
                ).otherwise(0)
            )
            / F.sum("o_totalprice"),
            6,
        )

    return ranked.agg(
        F.max("n_total").cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_revenue"),
        share(0.01).alias("share_top1pct"),
        share(0.05).alias("share_top5pct"),
        share(0.10).alias("share_top10pct"),
    )


@register(
    "agg_duplicate_invoice_detector",
    oracle="""
    SELECT a.o_orderkey AS key_lo, b.o_orderkey AS key_hi,
           a.o_custkey,
           round(a.o_totalprice, 4) AS amount_lo,
           round(b.o_totalprice, 4) AS amount_hi,
           CAST(abs(datediff('day', a.o_orderdate, b.o_orderdate)) AS BIGINT)
             AS days_apart
    FROM orders a
    JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND CAST(floor(a.o_totalprice / 5000) AS BIGINT)
         = CAST(floor(b.o_totalprice / 5000) AS BIGINT)
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 90
    ORDER BY key_lo, key_hi
    """,
    tier="P2",
)
def agg_duplicate_invoice_detector(spark, t):
    """Suspiciously-similar invoice pairs: same customer, amounts in
    the same $5,000 band, within 90 days — the accounts-payable /
    order-intake fraud screen. A naive formulation self-joins the fact
    on the customer alone (quadratic in a customer's orders); this
    joins on the (customer, amount-band) composite blocking key, so the
    blow-up is bounded by band-collision multiplicity — the same
    inverted-index / LSH-blocking discipline as the dedup family, with
    the date window as a cheap residual. (The r1–r3 rule demanded
    exact-cent amount equality, which the synthetic price distribution
    never produces at ANY fixture scale — the output was vacuously
    empty, caught by the r4 zero-row oracle audit. Banding is also the
    more realistic screen: near-identical amounts are what double-entry
    typos produce. Like any blocking key, pairs straddling a band
    boundary are missed by design.)

    At 100 TB the composite key keeps posting lists small; a skewed
    band (gift-card denominations) would surface as a hot key and take
    the salted-join treatment (``join_salted_skew``).
    """
    o = t["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.floor(F.col("o_totalprice") / 5000).cast("bigint").alias("band"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a, b = o.alias("a"), o.alias("b")
    days = F.abs(F.datediff(F.col("b.d"), F.col("a.d")))
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(days <= 90)
        .select(
            F.col("a.o_orderkey").alias("key_lo"),
            F.col("b.o_orderkey").alias("key_hi"),
            F.col("a.o_custkey").alias("o_custkey"),
            F.round(F.col("a.o_totalprice"), 4).alias("amount_lo"),
            F.round(F.col("b.o_totalprice"), 4).alias("amount_hi"),
            days.cast("bigint").alias("days_apart"),
        )
        .orderBy("key_lo", "key_hi")
    )


@register(
    "agg_percent_of_total_multi_level",
    oracle="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           round(rev, 4) AS revenue,
           round(rev / SUM(rev) OVER (PARTITION BY region), 6)
             AS share_of_region,
           round(SUM(rev) OVER (PARTITION BY region)
                 / SUM(rev) OVER (), 6) AS region_share_of_total
    FROM nat
    ORDER BY region, nation
    """,
    tier="P2",
)
def agg_percent_of_total_multi_level(spark, t):
    """Two-level percent-of-total: each nation's share of its region and
    each region's share of the whole — the hierarchy-contribution view
    every BI drill-down renders next to the raw numbers (and the
    share-math complement of ``agg_rollup``, which gives the subtotal
    rows but not the ratios).

    The fact folds to the |nations|-row grid FIRST; both share windows
    then run over that bounded grid (≤25 rows per region partition,
    one grid-total frame) — the window-over-aggregate pattern where
    nothing after the first exchange is data-proportional.
    """
    from pyspark.sql import Window

    nat = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return nat.select(
        "region",
        "nation",
        F.round("rev", 4).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w_region), 6).alias(
            "share_of_region"
        ),
        F.round(
            F.sum("rev").over(w_region) / F.sum("rev").over(w_all), 6
        ).alias("region_share_of_total"),
    ).orderBy("region", "nation")


@register(
    "agg_assortment_penetration",
    oracle="""
    WITH bought AS (
      SELECT DISTINCT n.n_name AS nation, p.p_brand AS brand
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      JOIN part p     ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT COUNT(DISTINCT p_brand) AS n_brands FROM part)
    SELECT b.nation,
           COUNT(*) AS brands_bought,
           CAST(MAX(t.n_brands) AS BIGINT) AS brands_total,
           round(COUNT(*) * 1.0 / MAX(t.n_brands), 4) AS penetration
    FROM bought b CROSS JOIN nb t
    GROUP BY b.nation
    ORDER BY b.nation
    """,
    tier="P2",
)
def agg_assortment_penetration(spark, t):
    """Assortment penetration per nation: what share of the brand
    catalog each market has actually bought — the category-management
    screen for "where is the assortment under-sold" (a low-penetration
    nation with high revenue concentration is a distribution problem,
    not a demand problem; cf. ``agg_hhi_concentration``).

    Distinct (nation, brand) incidence first (the |nations|×|brands|-
    bounded grid), the brand-catalog size as a 1-row frame — after the
    incidence distinct nothing is data-proportional.
    """
    bought = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    nb = t["part"].agg(F.countDistinct("p_brand").alias("n_brands"))
    return (
        bought.crossJoin(F.broadcast(nb))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("brands_bought"),
            F.max("n_brands").cast("bigint").alias("brands_total"),
            F.round(
                F.count(F.lit(1)) * F.lit(1.0) / F.max("n_brands"), 4
            ).alias("penetration"),
        )
        .orderBy("nation")
    )


@register(
    "agg_mann_whitney_u",
    oracle="""
    WITH labeled AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    per AS (
      SELECT v, SUM(pos) AS np, SUM(1 - pos) AS nn
      FROM labeled GROUP BY v
    ),
    cum AS (
      SELECT v, np, nn,
             SUM(nn) OVER (ORDER BY v) - nn AS nn_below
      FROM per
    ),
    tot AS (SELECT SUM(np)::DOUBLE AS n1, SUM(nn)::DOUBLE AS n2,
                   SUM((np + nn) * (np + nn) * (np + nn) - (np + nn))::DOUBLE
                     AS tie_sum
            FROM per)
    SELECT round(SUM(np * (nn_below + nn / 2.0)), 4) AS u_stat,
           CAST(t.n1 AS BIGINT) AS n1,
           CAST(t.n2 AS BIGINT) AS n2,
           round((SUM(np * (nn_below + nn / 2.0)) - t.n1 * t.n2 / 2)
                 / sqrt(t.n1 * t.n2 / 12 *
                        ((t.n1 + t.n2 + 1)
                         - t.tie_sum / ((t.n1 + t.n2) * (t.n1 + t.n2 - 1)))),
                 6) AS z_score
    FROM cum, tot t
    GROUP BY t.n1, t.n2, t.tie_sum
    """,
    tier="P2",
)
def agg_mann_whitney_u(spark, t):
    """Mann–Whitney U test: does purchase value stochastically dominate
    click value — the NONPARAMETRIC A/B answer that pairs with
    ``agg_ab_test_welch`` (means) the way median pairs with mean: no
    normality assumption, robust to the heavy tails Welch hates.
    U relates to ``ml_auc_eval`` by U = AUC·n₁·n₂ — the same
    tie-corrected cumulative machinery computes both, which is why this
    reuses the two-phase prefix sum rather than any per-row ranking.

    Reported with the tie-corrected normal-approximation z-score
    ((U−n₁n₂/2)/σ_U with σ²_U = n₁n₂/12·[(N+1) − Σ(t³−t)/(N(N−1))],
    t = per-distinct-value tie-group size); the ordered pass runs over
    |distinct values| rows only.
    """
    from .windows import two_phase_scan

    per = (
        t["events"]
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            F.col("value").alias("v"),
            (F.col("event_type") == "purchase").cast("int").alias("pos"),
        )
        .groupBy("v")
        .agg(
            F.sum("pos").alias("np"),
            F.sum(F.lit(1) - F.col("pos")).alias("nn"),
        )
        .cache()
    )
    cum = two_phase_scan(per, [F.asc("v")], ["nn"]).select(
        "v", "np", "nn", (F.col("cum_nn") - F.col("nn")).alias("nn_below")
    )
    tie = F.col("np") + F.col("nn")
    tot = per.agg(
        F.sum("np").cast("double").alias("n1"),
        F.sum("nn").cast("double").alias("n2"),
        F.sum(tie * tie * tie - tie).cast("double").alias("tie_sum"),
    )
    u = F.sum(F.col("np") * (F.col("nn_below") + F.col("nn") / 2.0))
    n1, n2, ties = F.col("n1"), F.col("n2"), F.col("tie_sum")
    sigma_u = F.sqrt(
        n1 * n2 / 12 * ((n1 + n2 + 1) - ties / ((n1 + n2) * (n1 + n2 - 1)))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2", "tie_sum")
        .agg(
            F.round(u, 4).alias("u_stat"),
            F.round((u - n1 * n2 / 2) / sigma_u, 6).alias("z_score"),
        )
        .select(
            "u_stat",
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            "z_score",
        )
    )


@register(
    "agg_spearman_corr",
    oracle="""
    WITH li AS (
      SELECT l_quantity AS q, l_extendedprice AS p FROM lineitem
    ),
    rq AS (
      SELECT q, (2.0 * (SUM(COUNT(*)) OVER (ORDER BY q) - COUNT(*))
                 + COUNT(*) + 1) / 2 AS rank_q
      FROM li GROUP BY q
    ),
    rp AS (
      SELECT p, (2.0 * (SUM(COUNT(*)) OVER (ORDER BY p) - COUNT(*))
                 + COUNT(*) + 1) / 2 AS rank_p
      FROM li GROUP BY p
    )
    SELECT round(corr(rq.rank_q, rp.rank_p), 6) AS spearman_rho,
           COUNT(*) AS n
    FROM li
    JOIN rq ON rq.q = li.q
    JOIN rp ON rp.p = li.p
    """,
    tier="P2",
)
def agg_spearman_corr(spark, t):
    """Spearman rank correlation between line quantity and extended
    price — the monotone-association measure that survives the
    nonlinearity Pearson (``agg_regression``) misses. Exact
    tie-handling: each distinct value gets its AVERAGE rank
    ((2·count_below + count + 1)/2), the textbook fractional-rank
    correction, computed per DISTINCT value — so the ordered passes run
    over value-cardinality frames (quantity has 50 distinct values!)
    and the rank maps broadcast back onto the fact rows for one
    Pearson-on-ranks fold.

    The two rank maps get different machinery, sized to their frames:
    quantity's domain is BOUNDED (TPC-H quantities are 1..50 by
    construction), so its 50-row map ranks with a plain ordered window
    — one bounded single-partition pass, no cache/offsets machinery;
    the price map is value-cardinality (≈ distinct prices, grows with
    data) and takes the two-phase prefix sum, never a partition-less
    rank over rows. (r4: the 50-row frame previously paid the full
    two-phase cost — a cache materialization, a range exchange, an
    offsets join — for nothing.)
    """
    from pyspark.sql import Window

    from .windows import two_phase_scan

    li = t["lineitem"].select(
        F.col("l_quantity").alias("q"), F.col("l_extendedprice").alias("p")
    )

    def fractional_rank(col, cum_cnt):
        return (
            (F.lit(2.0) * (cum_cnt - F.col("cnt")) + F.col("cnt") + 1) / 2
        ).alias(f"rank_{col}")

    per_q = li.groupBy("q").agg(F.count(F.lit(1)).alias("cnt"))
    w_q = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    rq = per_q.select("q", fractional_rank("q", F.sum("cnt").over(w_q)))

    per_p = li.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    cum_p = two_phase_scan(per_p, [F.asc("p")], ["cnt"])
    rp = cum_p.select("p", fractional_rank("p", F.col("cum_cnt")))
    return (
        li.join(F.broadcast(rq), "q")
        .join(rp, "p")
        .agg(
            F.round(F.corr("rank_q", "rank_p"), 6).alias("spearman_rho"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_price_dispersion_audit",
    oracle="""
    WITH unitp AS (
      SELECT l_partkey, l_extendedprice / l_quantity AS up
      FROM lineitem
    ),
    stats AS (
      SELECT l_partkey,
             COUNT(*) AS n_lines,
             AVG(up) AS mean_up,
             stddev_samp(up) AS sd_up
      FROM unitp
      GROUP BY l_partkey
      HAVING COUNT(*) >= 5
    )
    SELECT l_partkey AS p_partkey, n_lines,
           round(mean_up, 4) AS mean_unit_price,
           round(sd_up / mean_up, 6) AS cv
    FROM stats
    ORDER BY round(sd_up / mean_up, 6) DESC, l_partkey
    LIMIT 20
    """,
    tier="P2",
)
def agg_price_dispersion_audit(spark, t):
    """Pricing-consistency screen: the 20 parts whose realized unit
    price (extendedprice/quantity) varies most across order lines
    (coefficient of variation), among parts with ≥5 lines — where a
    merchandiser looks for broken discount logic or channel leakage
    (``agg_price_elasticity`` asks how demand responds to price; this
    asks whether the same part even HAS one price).

    One per-part moment aggregate + a 20-row TakeOrderedAndProject on
    the ROUNDED cv with the part key as tie-break — the usual
    deterministic-cut discipline.
    """
    unitp = t["lineitem"].select(
        "l_partkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
    )
    stats = (
        unitp.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.avg("up").alias("mean_up"),
            F.stddev_samp("up").alias("sd_up"),
        )
        .filter(F.col("n_lines") >= 5)
    )
    cv = F.round(F.col("sd_up") / F.col("mean_up"), 6)
    return (
        stats.select(
            F.col("l_partkey").alias("p_partkey"),
            "n_lines",
            F.round("mean_up", 4).alias("mean_unit_price"),
            cv.alias("cv"),
        )
        .orderBy(F.desc("cv"), F.asc("p_partkey"))
        .limit(20)
    )


@register(
    "path_regex_match",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(
               CASE event_type
                 WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                 WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                 ELSE 'e' END,
               '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'v+p')) AS BIGINT)
             AS n_view_to_purchase,
           CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT)
             AS n_error_bursts
    FROM s
    """,
    tier="P2",
)
def path_regex_match(spark, t):
    """Event-SEQUENCE pattern matching (the capability SQL standards
    call MATCH_RECOGNIZE, rebuilt relationally): encode each user's
    time-ordered event types as a one-char-per-event string and count
    regex pattern hits — here 'v+p' (a view streak converting straight
    to purchase) and 'ee+' (consecutive-error bursts). Funnels count
    fixed steps in order; this matches arbitrary regular patterns over
    the full per-user sequence, including adjacency ("immediately
    followed by"), which no join/window composition expresses cleanly.

    Build: one groupBy(user) collecting (ts, event_id, initial)
    structs, ``array_sort`` (lexicographic struct order = the
    timeline), project the initial field out (GetArrayStructFields —
    codegen, not a lambda), concat to the sequence string, then JVM
    ``regexp_count``. Per-group state is the user's event history —
    bounded by per-user activity, the same state class every
    sessionizer carries; both regexes are RE2-safe (no backtracking
    blowup) and match identically in Java regex and DuckDB RE2, since
    leftmost non-overlapping greedy semantics agree.

    Production bound (unbounded-history mitigation): a user's full
    lifetime sequence grows without limit, so at 100 TB the collect
    must be capped the way the other depth-stressed ops cap theirs —
    either (a) pre-filter to a TIME-BOUNDED lookback window (``ts >=
    now - interval N days``; partition pruning makes it a cheap scan
    cut, and pattern counts over a rolling window are what the
    downstream actually wants), or (b) chunk long histories into
    overlapping spans (split every M events with a pattern-length-1
    overlap so no match straddles a seam undetected) and sum per-span
    counts. The fixture corpus's per-user depth is event-table-bounded
    (~hundreds), so the uncapped form is exact here; the K=30 depth
    probe lands at 2.2× (SCALING.md).
    """
    initial = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seqs = (
        t["events"]
        .select("user_id", F.struct("ts", "event_id", initial.alias("c")).alias("s"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("s")).getField("c"), ""
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("bigint").alias("seq_len"),
        F.regexp_count("seq", F.lit("v+p")).cast("bigint").alias(
            "n_view_to_purchase"
        ),
        F.regexp_count("seq", F.lit("ee+")).cast("bigint").alias(
            "n_error_bursts"
        ),
    )


@register(
    "agg_histogram_quantile_merge",
    oracle="""
    WITH h AS (
      SELECT o_orderpriority AS pri,
             LEAST(63, CAST(floor(o_totalprice / 9000) AS BIGINT)) AS bin,
             COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    ),
    cum AS (
      SELECT pri, bin, c,
             SUM(c) OVER (PARTITION BY pri ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY pri) AS n
      FROM h
    )
    SELECT pri AS o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MIN(CASE WHEN 2 * cum >= n
                         THEN (bin + 1) * 9000 END) AS BIGINT) AS p50_hi,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * n
                         THEN (bin + 1) * 9000 END) AS BIGINT) AS p90_hi,
           CAST(MIN(CASE WHEN 100 * cum >= 99 * n
                         THEN (bin + 1) * 9000 END) AS BIGINT) AS p99_hi
    FROM cum GROUP BY pri
    """,
    tier="P2",
)
def agg_histogram_quantile_merge(spark, t):
    """Mergeable fixed-bin quantile sketch — the quantile sibling of
    ``agg_hll_partial_merge``: per-shard 64-bin histograms of order
    value (bin width 9 000, top bin clamped) are the persisted partial,
    histogram MERGE is elementwise count addition (associative and
    lossless, unlike rank-based sketches), and P50/P90/P99 read off the
    merged cumulative histogram as bin upper edges.

    The engine actually exercises the merge path: raw orders are split
    into 4 deterministic ingest shards (``o_orderkey % 4``), partials
    are built per (shard, priority, bin), then merged by summation —
    the oracle computes the direct un-sharded histogram, so the hash
    match proves the partial→merge algebra loses nothing. Threshold
    tests are exact integer cross-multiplications (``2·cum ≥ n``,
    ``10·cum ≥ 9·n``, ``100·cum ≥ 99·n`` — ceil(q·n) without floats),
    and every output is an integer bin edge: no float seam anywhere.

    This is the 100 TB quantile pattern where exact percentiles are
    unaffordable and t-digest/KLL merge order is engine-private:
    persist one 64-long histogram per (partition, group) at ingest
    (O(shards·groups·64) state, vs O(rows) for exact), answer any
    range/rollup quantile by adding histograms. Error is bounded by
    bin width by construction and reported honestly as the edge, not a
    fake interpolated precision; ``agg_approx_percentile`` covers the
    engine-native sketch and ``agg_percentile`` the exact path. The
    post-merge cumulative window runs on ≤ |priority|·64 rows —
    partition-bounded, never data-proportional.
    """
    from pyspark.sql import Window

    part = (
        t["orders"]
        .select(
            F.col("o_orderpriority").alias("pri"),
            (F.col("o_orderkey") % 4).alias("shard"),
            F.least(
                F.lit(63), F.floor(F.col("o_totalprice") / 9000)
            ).cast("long").alias("bin"),
        )
        .groupBy("pri", "shard", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = part.groupBy("pri", "bin").agg(F.sum("c").alias("c"))
    w_cum = (
        Window.partitionBy("pri")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("pri")
    cum = merged.select(
        "pri",
        "bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    edge = (F.col("bin") + 1) * 9000
    return cum.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.max("n").alias("n_orders"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), edge)).alias("p50_hi"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("n"), edge)
        ).alias("p90_hi"),
        F.min(
            F.when(100 * F.col("cum") >= 99 * F.col("n"), edge)
        ).alias("p99_hi"),
    )


@register(
    "agg_cuped_adjusted",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS post
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS BIGINT) AS sx,
             CAST(SUM(post) AS BIGINT) AS sy,
             CAST(SUM(pre * pre) AS BIGINT) AS sxx,
             CAST(SUM(pre * post) AS BIGINT) AS sxy
      FROM pu
    ),
    theta AS (
      SELECT n,
             (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx) AS th,
             sx::DOUBLE / n AS mean_pre_pooled
      FROM pooled
    ),
    grp AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(pre) AS BIGINT) AS gx,
             CAST(SUM(post) AS BIGINT) AS gy,
             CAST(SUM(pre * pre) AS BIGINT) AS gxx,
             CAST(SUM(post * post) AS BIGINT) AS gyy,
             CAST(SUM(pre * post) AS BIGINT) AS gxy
      FROM pu GROUP BY 1
    )
    SELECT g.grp, g.n_users,
           round(g.gy::DOUBLE / g.n_users / 100, 6) AS mean_post,
           round((g.gy::DOUBLE / g.n_users
                  - t.th * (g.gx::DOUBLE / g.n_users - t.mean_pre_pooled))
                 / 100, 6) AS mean_adjusted,
           round((g.n_users * g.gyy - g.gy * g.gy)::DOUBLE
                 / (g.n_users * (g.n_users - 1)) / 10000, 4) AS var_post,
           round(((g.n_users * g.gyy - g.gy * g.gy)::DOUBLE
                    / (g.n_users * (g.n_users - 1))
                  - 2 * t.th * ((g.n_users * g.gxy - g.gx * g.gy)::DOUBLE
                    / (g.n_users * (g.n_users - 1)))
                  + t.th * t.th * ((g.n_users * g.gxx - g.gx * g.gx)::DOUBLE
                    / (g.n_users * (g.n_users - 1)))) / 10000, 4)
             AS var_adjusted
    FROM grp g CROSS JOIN theta t
    """,
    tier="P2",
)
def agg_cuped_adjusted(spark, t):
    """CUPED variance reduction for A/B metrics (Deng et al., WSDM'13
    — the industry-standard experiment-sensitivity technique): per-user
    purchase revenue is split at 2024-01-16 into a PRE-period covariate
    and the POST-period metric, θ = cov(pre, post) / var(pre) is fit on
    the POOLED population, and each deterministic assignment group
    (user_id parity) reports its raw vs CUPED-adjusted mean and
    variance — the adjusted variance is what shrinks the experiment's
    required sample size.

    Float discipline (the repo's r3 lesson): revenue folds to exact
    integer CENTS per user per period, every moment (Σx, Σxy, Σx², …)
    is exact BIGINT arithmetic, and θ plus each variance is ONE closed-
    form expression over those integers — var(adjusted) is expanded
    analytically as var(y) − 2θ·cov + θ²·var(x) rather than re-
    aggregating adjusted doubles, so both engines evaluate the same
    scalar expression tree on identical integers (6/4-dp rounded).

    Scale: one conditional scan → per-user partial aggregation (the
    natural pre-shuffle combine) → a 2-row group frame crossed with a
    1-row broadcast θ. The per-user frame is the only shuffle and it
    is keyed on the experiment unit — exactly how a 100 TB events
    table wants to aggregate.
    """
    cutoff = F.lit("2024-01-16").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    pu = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < cutoff, cents).otherwise(0)).alias(
                "pre"
            ),
            F.sum(F.when(F.col("ts") >= cutoff, cents).otherwise(0)).alias(
                "post"
            ),
        )
    )
    pooled = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
        F.sum(F.col("pre") * F.col("post")).alias("sxy"),
    ).select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("th"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_pre_pooled"),
    )
    grp = (
        pu.groupBy(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
                "grp"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("pre").alias("gx"),
            F.sum("post").alias("gy"),
            F.sum(F.col("pre") * F.col("pre")).alias("gxx"),
            F.sum(F.col("post") * F.col("post")).alias("gyy"),
            F.sum(F.col("pre") * F.col("post")).alias("gxy"),
        )
    )
    nn = F.col("n_users") * (F.col("n_users") - 1)
    var_post = (
        F.col("n_users") * F.col("gyy") - F.col("gy") * F.col("gy")
    ).cast("double") / nn
    cov = (
        F.col("n_users") * F.col("gxy") - F.col("gx") * F.col("gy")
    ).cast("double") / nn
    var_pre = (
        F.col("n_users") * F.col("gxx") - F.col("gx") * F.col("gx")
    ).cast("double") / nn
    return grp.crossJoin(F.broadcast(pooled)).select(
        "grp",
        "n_users",
        F.round(F.col("gy").cast("double") / F.col("n_users") / 100, 6).alias(
            "mean_post"
        ),
        F.round(
            (
                F.col("gy").cast("double") / F.col("n_users")
                - F.col("th")
                * (
                    F.col("gx").cast("double") / F.col("n_users")
                    - F.col("mean_pre_pooled")
                )
            )
            / 100,
            6,
        ).alias("mean_adjusted"),
        F.round(var_post / 10000, 4).alias("var_post"),
        F.round(
            (
                var_post
                - 2 * F.col("th") * cov
                + F.col("th") * F.col("th") * var_pre
            )
            / 10000,
            4,
        ).alias("var_adjusted"),
    )


@register(
    "agg_bloom_filter_membership",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0
    ),
    probe AS (
      SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 1
    ),
    bits AS (
      SELECT DISTINCT ({ph60_sql('b.k', 'bloom1')}) % 65536 AS pos
      FROM build b
      UNION
      SELECT DISTINCT ({ph60_sql('b.k', 'bloom2')}) % 65536 FROM build b
      UNION
      SELECT DISTINCT ({ph60_sql('b.k', 'bloom3')}) % 65536 FROM build b
    ),
    probe_pos AS (
      SELECT k, ({ph60_sql('k', 'bloom1')}) % 65536 AS p1,
             ({ph60_sql('k', 'bloom2')}) % 65536 AS p2,
             ({ph60_sql('k', 'bloom3')}) % 65536 AS p3
      FROM probe
    ),
    fp AS (
      SELECT pp.k FROM probe_pos pp
      WHERE EXISTS (SELECT 1 FROM bits WHERE pos = pp.p1)
        AND EXISTS (SELECT 1 FROM bits WHERE pos = pp.p2)
        AND EXISTS (SELECT 1 FROM bits WHERE pos = pp.p3)
    ),
    stats AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_false_positives
    )
    SELECT n_build, n_bits_set, n_probes, n_false_positives,
           round(n_false_positives::DOUBLE / n_probes, 6) AS fp_rate,
           round((n_bits_set::DOUBLE / 65536)
                 * (n_bits_set::DOUBLE / 65536)
                 * (n_bits_set::DOUBLE / 65536), 6) AS fp_expected
    FROM stats
    """,
    tier="P2",
)
def agg_bloom_filter_membership(spark, t):
    """Bloom filter build + probe with an EXACT false-positive audit —
    the membership sketch that completes the family (HLL cardinality,
    count-min frequency, bitmap exact-distinct, histogram quantiles):
    even-key orders build an m=65536-bit, k=3 filter through the
    portable ph60 hash family; odd keys (true non-members by
    construction) probe it, and a probe is a false positive iff ALL
    three of its bit positions are set. The measured fp_rate sits next
    to the occupancy-based expectation (bits-set/m)³ — written as an
    explicit product, never POW, because libm pow is not bit-identical
    across engines.

    Spark shape: the filter is a DISTINCT-positions frame (≤ m rows —
    the sketch property), built by a 3-way union of hash projections
    and probed with three LEFT SEMI joins (each AQE-broadcast: the
    bit-set side is ≤ 64 Ki rows no matter how big the build side
    gets). This is the join-pruning primitive `join_bloom_prune` uses
    via Spark's native injected filter — here the filter itself is the
    subject, bit-exactly reproducible cross-engine.

    At 100 TB: build-side dedup + hash projection is one shuffle;
    the bit array would be a fixed-size aggregate buffer (Spark's
    BloomFilterAggregate) instead of a distinct frame, and the probe
    is map-side only — the shape every shuffle-free semi-join wants.
    """
    m_bits = 65536
    build = (
        t["orders"]
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    probe = (
        t["orders"]
        .filter(F.col("o_orderkey") % 2 == 1)
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    bits = (
        build.select((ph60("k", "bloom1") % m_bits).alias("pos"))
        .union(build.select((ph60("k", "bloom2") % m_bits).alias("pos")))
        .union(build.select((ph60("k", "bloom3") % m_bits).alias("pos")))
        .distinct()
    )
    probe_pos = probe.select(
        "k",
        (ph60("k", "bloom1") % m_bits).alias("p1"),
        (ph60("k", "bloom2") % m_bits).alias("p2"),
        (ph60("k", "bloom3") % m_bits).alias("p3"),
    )
    fp = (
        probe_pos.join(
            bits.withColumnRenamed("pos", "p1"), "p1", "left_semi"
        )
        .join(bits.withColumnRenamed("pos", "p2"), "p2", "left_semi")
        .join(bits.withColumnRenamed("pos", "p3"), "p3", "left_semi")
    )
    counts = (
        build.agg(F.count(F.lit(1)).alias("n_build"))
        .crossJoin(F.broadcast(bits.agg(F.count(F.lit(1)).alias("n_bits_set"))))
        .crossJoin(F.broadcast(probe.agg(F.count(F.lit(1)).alias("n_probes"))))
        .crossJoin(
            F.broadcast(fp.agg(F.count(F.lit(1)).alias("n_false_positives")))
        )
    )
    occ = F.col("n_bits_set").cast("double") / m_bits
    return counts.select(
        "n_build",
        "n_bits_set",
        "n_probes",
        "n_false_positives",
        F.round(
            F.col("n_false_positives").cast("double") / F.col("n_probes"), 6
        ).alias("fp_rate"),
        F.round(occ * occ * occ, 6).alias("fp_expected"),
    )



@register(
    "agg_sequential_patterns",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ),
    pairs AS (
      SELECT a, b, COUNT(*) AS n_ab FROM seq WHERE b IS NOT NULL
      GROUP BY a, b
    ),
    tots AS (
      SELECT SUM(n_ab) AS n_all FROM pairs
    ),
    lhs AS (SELECT a, SUM(n_ab) AS n_a FROM pairs GROUP BY a),
    rhs AS (SELECT b, SUM(n_ab) AS n_b FROM pairs GROUP BY b)
    SELECT p.a AS antecedent, p.b AS consequent,
           CAST(p.n_ab AS BIGINT) AS n_pairs,
           round(CAST(p.n_ab AS DOUBLE) / l.n_a, 4) AS confidence,
           round((CAST(p.n_ab AS DOUBLE) / l.n_a)
                 / (CAST(r.n_b AS DOUBLE) / t.n_all), 4) AS lift
    FROM pairs p
    JOIN lhs l ON l.a = p.a
    JOIN rhs r ON r.b = p.b
    CROSS JOIN tots t
    ORDER BY antecedent, consequent
""",
    tier="P2",
)
def agg_sequential_patterns(spark, t):
    """Sequential pattern mining over the event stream — for every
    consecutive behavior transition A→B (per user, time-ordered):
    support (pair count), confidence (P(B next | A)), and lift
    (confidence vs B's base rate as a follower). The 1-step market-
    basket-sequence table behind "users who view then click convert
    2.3× more" — the sequence complement of `ts_markov_transitions`
    (row-normalized probabilities) with the association-rule metrics
    attached.

    Scale shape: consecutive pairs come from ONE lead() window per
    user partition (the per-key frame idiom — no self-join on the
    event stream, which is the naive O(n²)-per-user form
    `join_self_sequence` demonstrates for adjacency); everything after
    is |event_types|²-bounded (≤25 rows), joined broadcast-small.
    Confidence/lift are single IEEE divisions of exact counts.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    )
    pairs = (
        seq.filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    tots = pairs.agg(F.sum("n_ab").alias("n_all"))
    lhs = pairs.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    rhs = pairs.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    conf = F.col("n_ab").cast("double") / F.col("n_a")
    base = F.col("n_b").cast("double") / F.col("n_all")
    return (
        pairs.join(F.broadcast(lhs), "a")
        .join(F.broadcast(rhs), "b")
        .crossJoin(F.broadcast(tots))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("n_ab").cast("bigint").alias("n_pairs"),
            F.round(conf, 4).alias("confidence"),
            F.round(conf / base, 4).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )



#: unrolled Markov-walk depth for ``attribution_markov_removal``
#: (start→…→conv paths up to this many hops; the conv self-loop makes
#: the mass cumulative, so depth only truncates the geometric tail).
MARKOV_L = 8


@register(
    "attribution_markov_removal",
    oracle="""
    WITH firstbuy AS (
      SELECT user_id, MIN(ts) AS t_buy FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    journey AS (
      SELECT e.user_id, e.ts, e.event_id,
             CASE WHEN e.event_type = 'purchase' THEN 'conv'
                  ELSE e.event_type END AS state
      FROM events e LEFT JOIN firstbuy f ON f.user_id = e.user_id
      WHERE f.t_buy IS NULL OR e.ts <= f.t_buy
    ),
    steps AS (
      SELECT state AS s,
             COALESCE(lead(state) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                      'null') AS t
      FROM journey
      UNION ALL
      SELECT 'start' AS s,
             first(state ORDER BY ts, event_id) AS t
      FROM journey GROUP BY user_id
    ),
    cnt AS (
      SELECT s, t, COUNT(*) AS n FROM steps WHERE s <> 'conv' GROUP BY s, t
    ),
    tr AS (
      SELECT c.s, c.t, CAST(c.n AS DOUBLE) / SUM(c.n) OVER (PARTITION BY c.s) AS p
      FROM cnt c
      UNION ALL SELECT 'conv', 'conv', 1.0
    ),
    scen AS (
      SELECT unnest(['none', 'click', 'error', 'signup', 'view']) AS r
    ),
    w0 AS (
      SELECT r, 'start' AS state, CAST(1099511627776 AS BIGINT) AS m_q
      FROM scen
    ),
    w1 AS (
      SELECT w.r, tr.t AS state,
             CAST(SUM(CAST(floor(w.m_q * tr.p) AS BIGINT)) AS BIGINT) AS m_q
      FROM w0 w
      JOIN tr ON tr.s = w.state AND tr.t <> w.r
      GROUP BY w.r, tr.t
    ),
    w2 AS (
      SELECT w.r, tr.t AS state,
             CAST(SUM(CAST(floor(w.m_q * tr.p) AS BIGINT)) AS BIGINT) AS m_q
      FROM w1 w
      JOIN tr ON tr.s = w.state AND tr.t <> w.r
      GROUP BY w.r, tr.t
    ),
    w3 AS (
      SELECT w.r, tr.t AS state,
             CAST(SUM(CAST(floor(w.m_q * tr.p) AS BIGINT)) AS BIGINT) AS m_q
      FROM w2 w
      JOIN tr ON tr.s = w.state AND tr.t <> w.r
      GROUP BY w.r, tr.t
    ),
    w4 AS (
      SELECT w.r, tr.t AS state,
             CAST(SUM(CAST(floor(w.m_q * tr.p) AS BIGINT)) AS BIGINT) AS m_q
      FROM w3 w
      JOIN tr ON tr.s = w.state AND tr.t <> w.r
      GROUP BY w.r, tr.t
    ),
    w5 AS (
      SELECT w.r, tr.t AS state,
             CAST(SUM(CAST(floor(w.m_q * tr.p) AS BIGINT)) AS BIGINT) AS m_q
      FROM w4 w
      JOIN tr ON tr.s = w.state AND tr.t <> w.r
      GROUP BY w.r, tr.t
    ),
    w6 AS (
      SELECT w.r, tr.t AS state,
             CAST(SUM(CAST(floor(w.m_q * tr.p) AS BIGINT)) AS BIGINT) AS m_q
      FROM w5 w
      JOIN tr ON tr.s = w.state AND tr.t <> w.r
      GROUP BY w.r, tr.t
    ),
    w7 AS (
      SELECT w.r, tr.t AS state,
             CAST(SUM(CAST(floor(w.m_q * tr.p) AS BIGINT)) AS BIGINT) AS m_q
      FROM w6 w
      JOIN tr ON tr.s = w.state AND tr.t <> w.r
      GROUP BY w.r, tr.t
    ),
    w8 AS (
      SELECT w.r, tr.t AS state,
             CAST(SUM(CAST(floor(w.m_q * tr.p) AS BIGINT)) AS BIGINT) AS m_q
      FROM w7 w
      JOIN tr ON tr.s = w.state AND tr.t <> w.r
      GROUP BY w.r, tr.t
    ),
    pconv AS (
      SELECT r, MAX(m_q) AS p_q FROM w8 WHERE state = 'conv' GROUP BY r
    ),
    basefull AS (SELECT p_q AS full_q FROM pconv WHERE r = 'none')
    SELECT p.r AS removed_channel,
           round(p.p_q / 1099511627776.0, 4) AS p_convert,
           round(1.0 - CAST(p.p_q AS DOUBLE) / b.full_q, 4)
             AS removal_effect
    FROM pconv p CROSS JOIN basefull b
    WHERE p.r <> 'none'
    ORDER BY removed_channel
""",
    tier="P2",
)
def attribution_markov_removal(spark, t):
    """MARKOV-CHAIN attribution by removal effect — the data-driven
    answer to "which channel actually causes conversions": fit a
    first-order transition matrix over user journeys (start → touches →
    first purchase as the absorbing 'conv' state, journey's end without
    purchase as 'null'), compute the absorption probability from
    'start', then KNOCK OUT each channel (its inbound transitions
    reroute to 'null') and report how much conversion probability
    disappears — the removal effect that last-touch and linear
    attribution (`attribution_last_touch`/`_linear_multi_touch`/
    `_time_decay`) approximate heuristically.

    Engine shape: journeys truncate at the first purchase with one
    per-user window; the transition matrix is |states|²-bounded (≤30
    rows); absorption runs as 8 UNROLLED mass-propagation steps —
    each a tiny join+aggregate, the same bounded-iteration batch-graph
    idiom as label propagation/pagerank — with the 'conv' self-loop
    accumulating absorbed mass so the final read is one row per
    scenario. All five scenarios (full + 4 removals) ride the SAME
    8-step dataflow as rows, not as five separate plans.

    Exactness: transition probabilities are single IEEE divisions of
    exact counts; walk masses are integer micro-units (2⁴⁰ scale) with
    FLOOR applied per (state→state) term BEFORE each per-state SUM —
    double mass sums would be association-order-dependent, and the
    floor-then-merge order is pinned identically in the unrolled
    DuckDB CTE chain (generated from the same constants).
    """
    from pyspark.sql import Window

    e = t["events"]
    firstbuy = (
        e.filter("event_type = 'purchase'")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    journey = (
        e.join(F.broadcast(firstbuy), "user_id", "left")
        .filter(F.col("t_buy").isNull() | (F.col("ts") <= F.col("t_buy")))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", "conv")
            .otherwise(F.col("event_type"))
            .alias("state"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ONE window pass emits both step kinds: every row's (state, next)
    # transition, plus — on each user's FIRST row (row_number = 1,
    # same window spec, so lead and row_number share one sort) — the
    # ('start', first state) edge the old form derived with a separate
    # min_by groupBy over the same journey subtree. The explode of a
    # 1-or-2-element array replaces that second exchange+aggregate
    # pass (r9; min_by(state) at rn=1 IS the rn=1 row's state, so the
    # step multiset is identical).
    j2 = journey.select(
        "state",
        F.coalesce(F.lead("state").over(w), F.lit("null")).alias("t_next"),
        F.row_number().over(w).alias("rn"),
    )
    pair = F.struct(F.col("state").alias("s"), F.col("t_next").alias("t"))
    start = F.struct(F.lit("start").alias("s"), F.col("state").alias("t"))
    steps = j2.select(
        F.explode(
            F.when(F.col("rn") == 1, F.array(pair, start)).otherwise(
                F.array(pair)
            )
        ).alias("st")
    ).select("st.s", "st.t")
    cnt = (
        steps.filter("s <> 'conv'")
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wtot = Window.partitionBy("s")
    tr = cnt.select(
        "s", "t", (F.col("n").cast("double") / F.sum("n").over(wtot)).alias("p")
    ).unionByName(
        spark.range(1).select(
            F.lit("conv").alias("s"), F.lit("conv").alias("t"),
            F.lit(1.0).alias("p"),
        )
    )
    # |states|²-bounded (≤30 rows) but its lineage is the full event
    # scan — without pinning, EVERY unrolled step's broadcast build
    # re-executes that scan (measured 5.9 s at sf0.01; 1.3 s pinned).
    tr = F.broadcast(tr.localCheckpoint())
    scen = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in
                      ["none", "click", "error", "signup", "view"]])
        ).alias("r")
    )
    walk = scen.select(
        "r", F.lit("start").alias("state"),
        F.lit(1 << 40).cast("bigint").alias("m_q"),
    )
    for _ in range(MARKOV_L):
        walk = (
            walk.join(
                tr,
                (F.col("s") == F.col("state")) & (F.col("t") != F.col("r")),
            )
            .groupBy("r", F.col("t").alias("next_state"))
            .agg(
                F.sum(F.floor(F.col("m_q") * F.col("p")).cast("bigint"))
                .cast("bigint")
                .alias("m_q")
            )
            .withColumnRenamed("next_state", "state")
        )
    # 5-row result of the 8-step chain, consumed twice (scenario rows +
    # the 'none' baseline): the baseline rides a single-partition
    # window over the SAME 5-row frame instead of a checkpoint + self
    # cross-join (r9 — the chain then appears once in one lazy plan
    # with no build-time materialization job; a partition-less window
    # is fine here because the frame is 5 rows by construction).
    pconv = walk.filter("state = 'conv'").groupBy("r").agg(
        F.max("m_q").alias("p_q")
    )
    return (
        pconv.select(
            "r",
            "p_q",
            F.max(F.when(F.col("r") == "none", F.col("p_q")))
            .over(Window.partitionBy())
            .alias("full_q"),
        )
        .filter("r <> 'none'")
        .select(
            F.col("r").alias("removed_channel"),
            F.round(F.col("p_q") / (1 << 40), 4).alias("p_convert"),
            F.round(
                1.0 - F.col("p_q").cast("double") / F.col("full_q"), 4
            ).alias("removal_effect"),
        )
        .orderBy("removed_channel")
    )


@register(
    "attribution_shapley",
    oracle="""
    WITH b AS (
      SELECT user_id,
             bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END)
               AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    cnt AS (SELECT mask, COUNT(*) AS n_conv FROM b WHERE conv = 1
            GROUP BY mask),
    s AS (SELECT CAST(i AS INTEGER) AS s FROM range(16) t(i)),
    v AS (SELECT s.s, COALESCE(SUM(cnt.n_conv), 0) AS v
          FROM s LEFT JOIN cnt ON (cnt.mask & ~s.s) = 0
          GROUP BY s.s),
    ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
                                 ('signup', 4), ('view', 8))
                  t(channel, bit)),
    phi AS (
      SELECT ch.channel,
             SUM((CASE bit_count(v0.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                  WHEN 2 THEN 2 ELSE 6 END) * (v1.v - v0.v)) AS phi24
      FROM ch
      JOIN v v0 ON (v0.s & ch.bit) = 0
      JOIN v v1 ON v1.s = v0.s + ch.bit
      GROUP BY ch.channel
    )
    SELECT channel, CAST(phi24 AS BIGINT) AS phi_24ths,
           round(phi24 / 24.0, 4) AS phi
    FROM phi ORDER BY channel
    """,
    tier="P2",
)
def attribution_shapley(spark, t):
    """EXACT Shapley-value attribution over channel coalitions — the
    game-theoretic rung of the attribution ladder above last-touch /
    linear / time-decay / Markov-removal: each of the four non-purchase
    channels is a player, a user's journey contributes its distinct
    touch SET, and the coalition value v(S) counts converted users
    whose entire touchset fits inside S. The Shapley axioms (efficiency
    / symmetry / dummy) make this the canonical "fair" credit split;
    with n=4 players the 2^4 = 16 coalitions enumerate exactly.

    Exactness: touchsets fold to a 4-bit mask with ``bit_or`` (one
    user-keyed aggregate — the ONLY data-proportional shuffle); v() is
    a subset-sum over the <=16-row mask-count frame; the Shapley
    weights s!(n-s-1)!/n! are the integers {6,2,2,6}/24, so phi is
    carried as an exact BIGINT in 24ths and only the display column
    divides. No floats anywhere before the final round.

    Scale shape: the per-user fold is map-side combinable; everything
    after it operates on constant-size frames (16 coalitions x 4
    channels), broadcast-joined — at 100 TB the cost is one pass over
    events plus a fixed 16-row epilogue. The bitwise containment join
    plans as a BroadcastNestedLoopJoin over the 16-row frame, bounded
    by construction (tests/test_plan_audit.py BNLJ_OK).
    """
    ev = t["events"]
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    users = ev.groupBy("user_id").agg(
        F.bit_or(bit).alias("mask"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    cnt = (
        users.filter(F.col("conv") == 1)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n_conv"))
    )
    s = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (
        s.join(
            F.broadcast(cnt),
            (F.col("mask").bitwiseAND(F.bitwise_not(F.col("s"))) == 0),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).alias("v"))
    )
    ch = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit int",
    )
    w24 = (
        F.when(F.bit_count(F.col("v0.s")) == 0, 6)
        .when(F.bit_count(F.col("v0.s")) == 1, 2)
        .when(F.bit_count(F.col("v0.s")) == 2, 2)
        .otherwise(6)
    )
    v0 = v.alias("v0")
    v1 = v.alias("v1")
    return (
        ch.join(F.broadcast(v0), F.col("v0.s").bitwiseAND(F.col("bit")) == 0)
        .join(F.broadcast(v1), F.col("v1.s") == F.col("v0.s") + F.col("bit"))
        .groupBy("channel")
        .agg(
            F.sum(w24 * (F.col("v1.v") - F.col("v0.v")))
            .cast("bigint")
            .alias("phi_24ths")
        )
        .select(
            "channel",
            "phi_24ths",
            F.round(F.col("phi_24ths") / 24.0, 4).alias("phi"),
        )
        .orderBy("channel")
    )


@register(
    "agg_delta_method_ratio",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             {ph60_sql("CAST(user_id AS VARCHAR)", "abratio")} % 2 AS grp,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT grp,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM per_user GROUP BY grp
    ),
    stats AS (
      SELECT grp, n, sx / sy AS ratio,
             ((sxx - sx * sx / n)
              - 2 * (sx / sy) * (sxy - sx * sy / n)
              + (sx / sy) * (sx / sy) * (syy - sy * sy / n))
             / ((n - 1) * (sy / n) * (sy / n) * n) AS var_r
      FROM mom
    )
    SELECT CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           round(a.ratio, 6) AS ratio_a,
           round(b.ratio, 6) AS ratio_b,
           round(b.ratio - a.ratio, 6) AS diff,
           round((b.ratio - a.ratio) / sqrt(a.var_r + b.var_r), 4)
             AS z_score
    FROM stats a JOIN stats b ON a.grp = 0 AND b.grp = 1
    """,
    tier="P2",
)
def agg_delta_method_ratio(spark, t):
    """A/B test on a RATIO metric (revenue-cents per event) with
    DELTA-METHOD variance — the experimentation-platform statistic
    Welch's t cannot give you: when the metric is a ratio of two
    per-user sums, user-level correlation between numerator and
    denominator drives the variance, and the delta method
    Var(x̄/ȳ) ≈ (s_xx - 2R*s_xy + R²*s_yy) / (n*ȳ²) is the standard
    correction (Deng et al., KDD'18 practice). Complements
    ``agg_ab_test_welch`` (mean metrics) and ``agg_cuped_adjusted``
    (variance reduction).

    Exactness: per-user (x, y) fold to exact integer cents/counts; the
    group moments are six exact-int sums (one map-side-combined
    aggregate — 100 TB costs one pass); ratio/variance/z form a FIXED
    double expression tree over exactly-cast ints, and sqrt is
    IEEE-correctly-rounded on both engines (unlike exp/ln it is
    REQUIRED exact by the standard), so the z-score matches to the
    bit before display rounding. Assignment is the portable hash —
    reproducible across engines and runs.
    """
    per_user = t["events"].groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    ).select(
        (ph60("user_id", "abratio") % 2).alias("grp"), "x", "y"
    )
    mom = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    ratio = sx / sy
    var_r = (
        (F.col("sxx") - sx * sx / n)
        - 2 * ratio * (F.col("sxy") - sx * sy / n)
        + ratio * ratio * (F.col("syy") - sy * sy / n)
    ) / ((n - 1) * (sy / n) * (sy / n) * n)
    stats = mom.select(
        "grp", n.alias("n"), ratio.alias("ratio"), var_r.alias("var_r")
    )
    a = stats.filter(F.col("grp") == 0).alias("a")
    b = stats.filter(F.col("grp") == 1).alias("b")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").cast("bigint").alias("n_a"),
        F.col("b.n").cast("bigint").alias("n_b"),
        r6(F.col("a.ratio")).alias("ratio_a"),
        r6(F.col("b.ratio")).alias("ratio_b"),
        r6(F.col("b.ratio") - F.col("a.ratio")).alias("diff"),
        F.round(
            (F.col("b.ratio") - F.col("a.ratio"))
            / F.sqrt(F.col("a.var_r") + F.col("b.var_r")),
            4,
        ).alias("z_score"),
    )


#: rate quantization for the cross-segment moment fold (micro-units)
_EB_Q = 1 << 20


@register(
    "agg_empirical_bayes_shrinkage",
    oracle=f"""
    WITH seg AS (
      SELECT c.c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (o.o_orderstatus = 'F') AS BIGINT) AS s
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey
    ),
    q AS (
      SELECT c_nationkey, n, s,
             CAST(floor(s * {_EB_Q} * 1.0 / n) AS BIGINT) AS pq
      FROM seg
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS k,
             CAST(SUM(pq) AS DOUBLE) AS sp,
             CAST(SUM(pq * pq) AS DOUBLE) AS spp
      FROM q
    ),
    ab AS (
      SELECT (sp / k) / {_EB_Q} AS m,
             ((spp / k) - (sp / k) * (sp / k))
               / ({_EB_Q}.0 * {_EB_Q}.0) AS v
      FROM mom
    ),
    prior AS (
      SELECT m * (m * (1 - m) / v - 1) AS alpha,
             (1 - m) * (m * (1 - m) / v - 1) AS beta
      FROM ab
    )
    SELECT q.c_nationkey, nat.n_name, q.n AS n_orders,
           q.s AS n_f_orders,
           round(q.s * 1.0 / q.n, 6) AS raw_rate,
           round((q.s + p.alpha) / (q.n + p.alpha + p.beta), 6)
             AS shrunk_rate,
           round(p.alpha, 4) AS alpha,
           round(p.beta, 4) AS beta
    FROM q CROSS JOIN prior p
    JOIN nation nat ON nat.n_nationkey = q.c_nationkey
    ORDER BY q.c_nationkey
    """,
    tier="P2",
)
def agg_empirical_bayes_shrinkage(spark, t):
    """EMPIRICAL-BAYES (beta-binomial) SHRINKAGE of per-nation
    'F'-status order rates — the small-sample fix every segment report
    needs: a nation where 6 of 8 orders closed should NOT rank above
    one with 700 of 1000; method-of-moments fits a Beta(alpha, beta)
    prior from the cross-segment rate spread, and each segment's rate
    shrinks toward the prior mean in proportion to its sample size:
    (s + alpha)/(n + alpha + beta). The Bayesian sibling of
    ``agg_conversion_wilson`` (frequentist interval, no pooling).
    Degenerate spread (v = 0, all segments identical) would divide by
    zero by construction — the op is defined on segments with real
    binomial spread, which order-status rates always have.

    Determinism: segment counts are exact integers; per-segment rates
    quantize to FLOOR(s*2^20/n) BEFORE the cross-segment moment fold,
    so the 25-row mean/variance inputs are exact integer sums
    (association-order-free — the house micro-unit idiom); the
    alpha/beta/shrink arithmetic is one fixed double tree. Scale
    shape: one broadcast-dim fact join + a map-side-combined segment
    fold; everything after operates on the |segments|-row frame with a
    1-row broadcast prior.
    """
    seg = (
        t["orders"]
        .join(
            t["customer"].select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("o_orderstatus") == "F").cast("int"))
            .cast("bigint")
            .alias("s"),
        )
    )
    q = seg.withColumn(
        "pq",
        F.floor(F.col("s") * F.lit(_EB_Q) * 1.0 / F.col("n")).cast(
            "bigint"
        ),
    )
    mom = q.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("pq").cast("double").alias("sp"),
        F.sum(F.col("pq") * F.col("pq")).cast("double").alias("spp"),
    )
    m = (F.col("sp") / F.col("k")) / _EB_Q
    v = (
        (F.col("spp") / F.col("k"))
        - (F.col("sp") / F.col("k")) * (F.col("sp") / F.col("k"))
    ) / (float(_EB_Q) * float(_EB_Q))
    c = m * (1 - m) / v - 1
    prior = mom.select(
        (m * c).alias("alpha"), ((1 - m) * c).alias("beta")
    )
    return (
        q.crossJoin(F.broadcast(prior))
        .join(
            t["nation"].select(
                F.col("n_nationkey").alias("c_nationkey"), "n_name"
            ),
            "c_nationkey",
        )
        .select(
            "c_nationkey",
            "n_name",
            F.col("n").alias("n_orders"),
            F.col("s").alias("n_f_orders"),
            r6(F.col("s") * 1.0 / F.col("n")).alias("raw_rate"),
            r6(
                (F.col("s") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta"))
            ).alias("shrunk_rate"),
            F.round("alpha", 4).alias("alpha"),
            F.round("beta", 4).alias("beta"),
        )
        .orderBy("c_nationkey")
    )


#: unit-price quantization for the index basket folds (1/1024 cent)
_IDX_Q = 1 << 10


@register(
    "agg_price_index_laspeyres",
    oracle=f"""
    WITH py AS (
      SELECT l_partkey,
             EXTRACT(year FROM l_shipdate)::INTEGER AS yr,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
               AS qty
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate) IN (1995, 2000)
      GROUP BY 1, 2
    ),
    pq AS (
      SELECT l_partkey, yr, qty,
             CAST(floor(cents * {_IDX_Q} * 1.0 / qty) AS BIGINT) AS p
      FROM py WHERE qty > 0
    ),
    bp AS (
      SELECT b.l_partkey,
             b.p AS p0, b.qty AS q0, c.p AS p1, c.qty AS q1
      FROM pq b JOIN pq c
        ON c.l_partkey = b.l_partkey AND b.yr = 1995 AND c.yr = 2000
    ),
    folds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(p1 * q0) AS DOUBLE) AS l_num,
             CAST(SUM(p0 * q0) AS DOUBLE) AS l_den,
             CAST(SUM(p1 * q1) AS DOUBLE) AS p_num,
             CAST(SUM(p0 * q1) AS DOUBLE) AS p_den
      FROM bp
    )
    SELECT n_parts,
           round(l_num / l_den, 6) AS laspeyres,
           round(p_num / p_den, 6) AS paasche,
           round(sqrt((l_num / l_den) * (p_num / p_den)), 6) AS fisher
    FROM folds
    """,
    tier="P2",
)
def agg_price_index_laspeyres(spark, t):
    """LASPEYRES / PAASCHE / FISHER price indices, 1995 base year vs
    2000 — the econometric price-level summary (the CPI construction):
    Laspeyres weights price relatives by BASE-year quantities
    (overstates inflation under substitution), Paasche by CURRENT-year
    quantities (understates), Fisher is their geometric mean (the
    "ideal" index). Computed over every part traded in both years from
    unit values (revenue/quantity per part-year). Complements
    ``agg_price_elasticity`` (quantity response) and
    ``agg_pvm_decomposition`` (price-volume-mix bridge) on the pricing
    shelf.

    Exactness: part-year revenue and quantity fold to exact integers;
    unit prices quantize to FLOOR(cents * 2^10 / qty) so all four
    basket sums are exact BIGINT dot products (cast to double only for
    the two final divisions; sqrt is IEEE-exact). Scale shape: one
    map-side-combined (part, year) fold, a self-join on part (both
    sides already aggregated — |parts| rows), one scalar basket fold.
    """
    yr = F.year("l_shipdate")
    py = (
        t["lineitem"]
        .filter(yr.isin(1995, 2000))
        .groupBy(F.col("l_partkey"), yr.alias("yr"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.sum(F.floor("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    pq = py.filter(F.col("qty") > 0).select(
        "l_partkey",
        "yr",
        "qty",
        F.floor(F.col("cents") * F.lit(_IDX_Q) * 1.0 / F.col("qty"))
        .cast("bigint")
        .alias("p"),
    )
    b = pq.filter(F.col("yr") == 1995).select(
        "l_partkey", F.col("p").alias("p0"), F.col("qty").alias("q0")
    )
    c = pq.filter(F.col("yr") == 2000).select(
        "l_partkey", F.col("p").alias("p1"), F.col("qty").alias("q1")
    )
    folds = b.join(c, "l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).cast("double").alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).cast("double").alias("l_den"),
        F.sum(F.col("p1") * F.col("q1")).cast("double").alias("p_num"),
        F.sum(F.col("p0") * F.col("q1")).cast("double").alias("p_den"),
    )
    las = F.col("l_num") / F.col("l_den")
    paa = F.col("p_num") / F.col("p_den")
    return folds.select(
        "n_parts",
        r6(las).alias("laspeyres"),
        r6(paa).alias("paasche"),
        r6(F.sqrt(las * paa)).alias("fisher"),
    )

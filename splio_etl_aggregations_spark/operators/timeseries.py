"""Time-series regularization operators.

Spark has no native resample/gap-fill (pandas' ``resample().ffill()``);
these compose it from sequence-explode grids + ignore-null window fills —
the canonical Spark formulation, kept fully JVM-side.

Scale shape: the grid explode is narrow (user_id, hour) and the fill is
one window per user partition — shuffle volume is O(grid rows), grid
density is bounded by the chosen bucket width, and each user's fill is
independent (embarrassingly partition-parallel).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.helpers import r4
from ..registry import register


@register(
    "ts_resample_ffill",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS h, SUM(value) AS s
      FROM events WHERE user_id < 100 GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM b GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM rng
    ),
    j AS (SELECT g.user_id, g.h, b.s FROM grid g
          LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.h),
    f AS (SELECT user_id, h,
                 last_value(s IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS UNBOUNDED PRECEDING) AS filled
          FROM j)
    SELECT user_id, h AS hour, round(filled, 4) AS value_ffill FROM f
    """,
    tier="P2",
)
def ts_resample_ffill(spark, t):
    """Resample each user's event stream onto a regular hourly grid and
    forward-fill the gaps — pandas ``resample('1h').sum().ffill()``
    re-expressed as DataFrame ops.

    Grid: ``sequence(min_hour, max_hour, 1 hour)`` per user, exploded —
    gap hours materialize as rows with NULL, then
    ``last(value, ignorenulls=True)`` over an unbounded-preceding frame
    carries the latest observation forward. Restricted to user_id < 100
    to keep the t2 compare payload bounded (~70k rows); the plan is
    user-partitioned so the restriction is a filter, not a design limit.
    """
    b = (
        t["events"]
        .filter(F.col("user_id") < 100)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum("value").alias("s"))
    )
    grid = (
        b.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    j = grid.join(b, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        F.col("h").alias("hour"),
        r4(F.last("s", ignorenulls=True).over(w)).alias("value_ffill"),
    )


@register(
    "ts_interpolate_linear",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS h, round(SUM(value), 4) AS s
      FROM events WHERE user_id < 100 GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM b GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM rng
    ),
    j AS (SELECT g.user_id, g.h, b.s FROM grid g
          LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.h),
    f AS (SELECT user_id, h, s,
                 last_value(s IGNORE NULLS) OVER wp AS ps,
                 last_value(CASE WHEN s IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wp AS ph,
                 first_value(s IGNORE NULLS) OVER wn AS ns,
                 first_value(CASE WHEN s IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wn AS nh
          FROM j
          WINDOW wp AS (PARTITION BY user_id ORDER BY h
                        ROWS UNBOUNDED PRECEDING),
                 wn AS (PARTITION BY user_id ORDER BY h
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, h AS hour,
           CAST(floor(CASE WHEN s IS NOT NULL THEN s
                           WHEN ps IS NULL THEN ns
                           WHEN ns IS NULL THEN ps
                           ELSE ps + (ns - ps) * ((epoch(h) - epoch(ph))
                                                  / (epoch(nh) - epoch(ph)))
                      END * 10000 + 0.5) AS BIGINT) / 10000.0 AS value_interp
    FROM f
    """,
    tier="P2",
)
def ts_interpolate_linear(spark, t):
    """Linear interpolation across gap hours (pandas
    ``resample('1h').sum().interpolate()``): each NULL grid row gets the
    time-weighted blend of its nearest observations on either side;
    leading/trailing gaps fall back to nearest-value fill.

    Two ignore-null windows per user partition (backward last + forward
    first for value and observation hour) — still a single shuffle on
    user_id; both frames evaluate in the same per-partition sort. The
    interpolation arithmetic is written identically in the oracle so the
    rounded doubles agree.
    """
    b = (
        t["events"]
        .filter(F.col("user_id") < 100)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        # pre-round the observations (determinism policy §5.4): the two
        # engines' SUMs differ in the last ulp, and interpolating from
        # them would flip the 4th decimal at rounding boundaries —
        # rounding first makes both sides interpolate identical inputs
        .agg(r4(F.sum("value")).alias("s"))
    )
    grid = (
        b.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    j = grid.join(b, ["user_id", "h"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("s").isNotNull(), F.col("h"))
    ps = F.last("s", ignorenulls=True).over(wp)
    ph = F.last(obs_h, ignorenulls=True).over(wp)
    ns = F.first("s", ignorenulls=True).over(wn)
    nh = F.first(obs_h, ignorenulls=True).over(wn)
    ratio = (
        (F.unix_timestamp("h") - F.unix_timestamp(ph)).cast("double")
        / (F.unix_timestamp(nh) - F.unix_timestamp(ph)).cast("double")
    )
    interp = (
        F.when(F.col("s").isNotNull(), F.col("s"))
        .when(ps.isNull(), ns)
        .when(ns.isNull(), ps)
        .otherwise(ps + (ns - ps) * ratio)
    )
    # round with floor(x*1e4 + 0.5)/1e4, not round(): interpolating 4-dp
    # inputs lands on exact .xxxx5 midpoints where Spark's round (HALF_UP
    # on the shortest decimal string), DuckDB's round, and DuckDB's
    # decimal cast all disagree with each other (measured, all three).
    # floor is exact on doubles, so the same formula over the same
    # doubles is engine-independent — the determinism-policy move of
    # never letting a cross-engine rounding layer near a midpoint.
    return j.select(
        "user_id",
        F.col("h").alias("hour"),
        (
            F.floor(interp * 10000 + F.lit(0.5)).cast("bigint") / F.lit(10000.0)
        ).alias("value_interp"),
    )


@register(
    "ts_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT user_id, round(quantile_cont(value, 0.5), 4) AS med
      FROM events GROUP BY user_id
    ),
    dev AS (
      SELECT e.user_id,
             round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
      FROM events e JOIN med m USING (user_id) GROUP BY e.user_id
    )
    SELECT e.event_id, e.user_id, round(e.value, 4) AS value, m.med, d.mad,
           round(abs(e.value - m.med) / (1.4826 * d.mad), 4) AS robust_z
    FROM events e JOIN med m USING (user_id) JOIN dev d USING (user_id)
    WHERE d.mad > 0
      AND round(abs(e.value - m.med) / (1.4826 * d.mad), 4) > 3.0
    """,
    tier="P2",
)
def ts_anomaly_mad(spark, t):
    """Robust per-user anomaly detection: events whose value deviates
    from the user's median by more than 3 MAD-sigmas (median absolute
    deviation x 1.4826, the robust stdev estimate that outliers can't
    poison the way they poison mean/stddev thresholds).

    Two aggregation passes (median, then MAD around it) plus the scoring
    join — every stage keys on user_id, so the plan is three co-
    partitioned exchanges and no global state. The median/MAD are
    4-dp-rounded BEFORE the z-score and the z-score BEFORE the
    threshold, so both engines make identical boundary calls
    (quantile interpolation equality across engines is only proven at
    4 dp — see ``agg_percentile``).
    """
    e = t["events"]
    med = e.groupBy("user_id").agg(
        r4(F.percentile("value", 0.5)).alias("med")
    )
    dev = (
        e.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            r4(F.percentile(F.abs(F.col("value") - F.col("med")), 0.5)).alias(
                "mad"
            )
        )
    )
    z = r4(F.abs(F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad")))
    return (
        e.join(med, "user_id")
        .join(dev, "user_id")
        .filter(F.col("mad") > 0)
        .withColumn("robust_z", z)
        .filter(F.col("robust_z") > 3.0)
        .select(
            "event_id", "user_id", r4("value").alias("value"), "med", "mad",
            "robust_z",
        )
    )


@register(
    "ts_gap_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS gap_us
      FROM events
    )
    SELECT user_id,
           COUNT(gap_us)::BIGINT AS n_gaps,
           round(SUM(gap_us) / (COUNT(gap_us) * 1000000.0), 4)
             AS avg_gap_s,
           MIN(gap_us) AS min_gap_us,
           MAX(gap_us) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
    """,
    tier="P2",
)
def ts_gap_stats(spark, t):
    """Inter-event gap statistics per user (count / avg / min / max gap
    seconds) — the cadence profile behind sessionization-gap and
    bot-detection thresholds.

    One window (lag over the user partition, exact integer µs ordering
    with an event_id tie-break — §5.4) and one aggregate, both keyed on
    user_id: a single shuffle end to end.
    """
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us, F.asc("event_id"))
    gap = (us - F.lag(us).over(w)).alias("gap_us")
    g = t["events"].select("user_id", gap).filter(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        # exact-integer mean: SUM(µs) is an exact bigint both engines,
        # so the single division is bit-identical (a double AVG's
        # association flipped the 4th dp at sf0.1 — r3 sweep)
        r4(
            F.sum("gap_us") / (F.count("gap_us") * F.lit(1_000_000.0))
        ).alias("avg_gap_s"),
        # min/max stay exact integer µs: the 4-dp seconds form hit a
        # .xxxx5 representation boundary at sf0.1 (gap 1653.21735 s
        # rounded .2174 vs .2173 across engines)
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@register(
    "ts_hourly_profile",
    oracle="""
    SELECT EXTRACT(hour FROM ts)::INTEGER AS hour_of_day, event_type,
           COUNT(*)::BIGINT AS n_events,
           floor(AVG(value) * 10000 + 0.5) / 10000 AS avg_value
    FROM events GROUP BY 1, 2
    """,
    tier="P2",
)
def ts_hourly_profile(spark, t):
    """Hour-of-day × event-type activity profile (the 24×|types|
    seasonality matrix behind load forecasting and send-time
    optimization). One grouped aggregate; map-side combine collapses
    each partition to ≤24·|types| rows before the exchange, so shuffle
    volume is constant regardless of table size."""
    return (
        t["events"]
        .groupBy(
            F.hour("ts").alias("hour_of_day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            # floor(x*1e4+0.5)/1e4, not round(): the hourly means land on
            # .xxxx5 midpoints where engine round() implementations
            # disagree (caught by the sf0.001 differential)
            (
                F.floor(F.avg("value") * 10000 + F.lit(0.5)).cast("bigint")
                / F.lit(10000.0)
            ).alias("avg_value"),
        )
    )


@register(
    "ts_year_over_year",
    oracle="""
    WITH m AS (
      SELECT EXTRACT(year FROM o_orderdate)::INTEGER AS yr,
             EXTRACT(month FROM o_orderdate)::INTEGER AS mo,
             round(SUM(o_totalprice), 4) AS revenue,
             SUM(o_totalprice) AS raw_rev
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, revenue,
           round(raw_rev - lag(raw_rev) OVER w, 4) AS yoy_delta,
           round((raw_rev / lag(raw_rev) OVER w - 1) * 100, 4) AS yoy_pct
    FROM m
    WINDOW w AS (PARTITION BY mo ORDER BY yr)
    """,
    tier="P2",
)
def ts_year_over_year(spark, t):
    """Year-over-year monthly revenue: each (year, month) cell vs the
    same month one year earlier — absolute delta and percent growth,
    NULL where no prior year exists. The standard BI seasonality-aware
    growth rollup.

    The lag window partitions by month-of-year (12 partitions of
    |years| rows over the pre-aggregated monthly frame) — the input is
    already reduced to #months rows by a map-side-combined aggregate,
    so the window cost is trivial at any table size.
    """
    m = (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            r4(F.sum("o_totalprice")).alias("revenue"),
            F.sum("o_totalprice").alias("raw_rev"),
        )
    )
    w = Window.partitionBy("mo").orderBy("yr")
    prev = F.lag("raw_rev").over(w)
    return m.select(
        "yr",
        "mo",
        "revenue",
        r4(F.col("raw_rev") - prev).alias("yoy_delta"),
        r4((F.col("raw_rev") / prev - 1) * 100).alias("yoy_pct"),
    )


@register(
    "ts_peak_concurrency",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
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
      SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no,
             ts_us
      FROM flagged
    ),
    spans AS (
      SELECT user_id, session_no, MIN(ts_us) AS s_start, MAX(ts_us) AS s_end
      FROM sess GROUP BY user_id, session_no
    ),
    bounds AS (
      SELECT s_start AS ts_us, 1 AS delta FROM spans
      UNION ALL
      SELECT s_end, -1 FROM spans
    ),
    run AS (
      SELECT SUM(delta) OVER (ORDER BY ts_us, delta
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM bounds
    )
    SELECT (SELECT MAX(conc) FROM run)::BIGINT AS peak_concurrency,
           (SELECT COUNT(*) FROM spans)::BIGINT AS n_sessions,
           (SELECT COUNT(DISTINCT user_id) FROM spans)::BIGINT AS n_users
    """,
    tier="P3",
)
def ts_peak_concurrency(spark, t):
    """Peak concurrent sessions (capacity-planning's favorite number):
    gap-30-min sessions per user (same convention as ``etl_sessionize``)
    become ±1 boundary events, and a sweep-line running sum's maximum is
    the peak concurrency. Ends sort before starts at the same microsecond
    (delta −1 < +1), so touching sessions never double-count.

    The sweep's running sum over ALL boundaries is the scale problem — a
    plain global window is one task — so it rides ``two_phase_scan``;
    the max of a cumulative sum is deterministic under equal-key
    reordering because equal keys share one sign.
    """
    from .windows import two_phase_scan

    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e = t["events"].select("user_id", "event_id", us.alias("ts_us"))
    prev = F.lag("ts_us").over(w)
    flagged = e.withColumn(
        "new_s",
        (prev.isNull() | (F.col("ts_us") - prev > 1_800_000_000)).cast("int"),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = sess.groupBy("user_id", "session_no").agg(
        F.min("ts_us").alias("s_start"), F.max("ts_us").alias("s_end")
    ).localCheckpoint(eager=False)  # sweep + two count consumers
    bounds = spans.select(
        F.col("s_start").alias("ts_us"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(F.col("s_end").alias("ts_us"), F.lit(-1).alias("delta"))
    )
    peak = two_phase_scan(
        bounds, [F.asc("ts_us"), F.asc("delta")], ["delta"]
    ).agg(F.max("cum_delta").cast("bigint").alias("peak_concurrency"))
    counts = spans.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    return peak.crossJoin(F.broadcast(counts)).select(
        "peak_concurrency", "n_sessions", "n_users"
    )


#: EWMA smoothing factor and window length (trailing 10 events).
EWMA_ALPHA = 0.3
EWMA_N = 10


@register(
    "ts_ewma10",
    oracle=f"""
    WITH lagged AS (
      SELECT event_id, user_id, value,
             {", ".join(f"lag(value, {i}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v{i}" for i in range(1, EWMA_N))},
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN {EWMA_N - 1} PRECEDING AND CURRENT ROW)
               AS n_win
      FROM events
    )
    SELECT event_id,
           round((value {" ".join(f"+ {(1 - EWMA_ALPHA) ** i!r} * v{i}" for i in range(1, EWMA_N))})
                 / {sum((1 - EWMA_ALPHA) ** i for i in range(EWMA_N))!r}, 4)
             AS ewma
    FROM lagged WHERE n_win = {EWMA_N}
    """,
    tier="P2",
)
def ts_ewma10(spark, t):
    """Exponentially weighted moving average over each user's trailing
    10 events (alpha = 0.3, normalized finite-window form) — the
    smoothing primitive behind trend lines and alert baselines.

    Spark windows can't express the recursive EWMA, so the bounded form
    expands to 9 lags + a weighted sum — ONE window spec evaluated in a
    single pass, exact weights written as double literals identically
    into both engines. Rows without a full 10-event history are
    excluded so the normalization is constant.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("value")] + [
        F.lag("value", i).over(w) for i in range(1, EWMA_N)
    ]
    weights = [(1 - EWMA_ALPHA) ** i for i in range(EWMA_N)]
    total = sum(weights)
    n_win = F.count(F.lit(1)).over(
        w.rowsBetween(-(EWMA_N - 1), 0)
    )
    num = lags[0] + sum(
        (F.lit(weights[i]) * lags[i] for i in range(1, EWMA_N)),
        F.lit(0.0),
    )
    return (
        t["events"]
        .select(
            "event_id",
            (num / F.lit(total)).alias("raw"),
            n_win.alias("n_win"),
        )
        .filter(F.col("n_win") == EWMA_N)
        .select("event_id", F.round("raw", 4).alias("ewma"))
    )


@register(
    "ts_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    counts AS (
      SELECT cur, nxt, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY cur, nxt
    )
    SELECT cur AS cur_state, nxt AS next_state, n AS n_transitions,
           round(n * 1.0 / SUM(n) OVER (PARTITION BY cur), 6) AS prob
    FROM counts
    """,
    tier="P2",
)
def ts_markov_transitions(spark, t):
    """First-order Markov transition matrix of user behavior:
    P(next event type | current), estimated from each user's adjacent
    event pairs — the behavioral model behind next-action prediction,
    absorbing-state detection (what follows 'error'?), and simulated
    journey generation. The |types|×|types| probability grid is the
    compact summary of millions of journeys.

    One lead window per user (single user_id exchange), a 25-cell
    aggregate, and the row-normalization window runs over the bounded
    grid — never the event stream.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    counts = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_row = Window.partitionBy("cur")
    return counts.select(
        F.col("cur").alias("cur_state"),
        F.col("nxt").alias("next_state"),
        F.col("n").alias("n_transitions"),
        F.round(F.col("n") / F.sum("n").over(w_row), 6).alias("prob"),
    )


@register(
    "ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS x
      FROM orders GROUP BY 1
    ),
    mu AS (SELECT AVG(x) AS mean_x, COUNT(*) AS n_days FROM daily),
    cusum AS (
      SELECT day,
             round(abs(SUM(x - (SELECT mean_x FROM mu))
                       OVER (ORDER BY day)), 4) AS dev
      FROM daily
    ),
    best AS (SELECT dev, day FROM cusum ORDER BY dev DESC, day LIMIT 1)
    SELECT best.day AS change_day, best.dev AS cusum_stat,
           round((SELECT mean_x FROM mu), 4) AS daily_mean,
           (SELECT n_days FROM mu) AS n_days
    FROM best
    """,
    tier="P2",
)
def ts_cusum_changepoint(spark, t):
    """CUSUM change-point locator on the daily revenue series: the day
    where the cumulative deviation from the overall daily mean peaks —
    the classical single-change-point estimate (a level shift before/
    after day d maximizes |Σ(x−μ)| at d), and the monitoring statistic
    behind drift alarms that a fixed threshold can't express.

    The running deviation uses the two-phase distributed prefix sum
    (day-keyed — bounded by calendar, but the policy is no
    partition-less windows, period), the argmax folds max-then-tiebreak
    in ONE lexicographic struct-max (the ``dq_ks_drift`` mechanism,
    negated day epoch for the earliest-day tie), and deviations round
    BEFORE the argmax so both engines pick the same day.
    """
    daily = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("x"))
        .cache()
    )
    mu = daily.agg(
        F.avg("x").alias("mean_x"), F.count(F.lit(1)).alias("n_days")
    )
    from .windows import two_phase_scan

    dev_in = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("x") - F.col("mean_x")).alias("d")
    )
    cum = two_phase_scan(dev_in, [F.asc("day")], ["d"])
    scored = cum.select(
        "day", F.round(F.abs("cum_d"), 4).alias("dev")
    )
    best = scored.agg(
        F.max(
            F.struct(
                F.col("dev"),
                (-F.unix_date(F.col("day"))).alias("nd"),
            )
        ).alias("b")
    )
    return best.crossJoin(F.broadcast(mu)).select(
        F.date_from_unix_date(-F.col("b.nd")).alias("change_day"),
        F.col("b.dev").alias("cusum_stat"),
        F.round("mean_x", 4).alias("daily_mean"),
        "n_days",
    )


@register(
    "ts_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS x
      FROM orders GROUP BY 1
    )
    SELECT COUNT(*) AS n_pairs,
           round(corr(a.x, b.x), 6) AS acf1,
           round(corr(a.x, c.x), 6) AS acf7
    FROM daily a
    JOIN daily b ON b.day = a.day + 1
    JOIN daily c ON c.day = a.day + 7
    """,
    tier="P2",
)
def ts_autocorrelation(spark, t):
    """Lag-1 and lag-7 autocorrelation of the daily revenue series —
    the two numbers that say whether yesterday predicts today (momentum)
    and whether the series has weekly structure (seasonality), i.e.
    whether a forecaster needs AR terms and weekly dummies at all.

    Computed as self-JOINS on exact date arithmetic (day+1 / day+7)
    rather than a lag window: the joins express the lag alignment
    declaratively, drop calendar gaps pairwise (the statistically
    correct treatment — a lag across a gap is not a lag-1 pair), and
    need no ordered pass at all. Both engines use the same sample
    Pearson definition; the daily frame is date-bounded so the joins
    broadcast.
    """
    daily = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("x"))
        .cache()
    )
    a = daily.select(F.col("day").alias("d0"), F.col("x").alias("x0"))
    b = daily.select(
        F.date_sub(F.col("day"), 1).alias("d0"), F.col("x").alias("x1")
    )
    c = daily.select(
        F.date_sub(F.col("day"), 7).alias("d0"), F.col("x").alias("x7")
    )
    return (
        a.join(b, "d0")
        .join(c, "d0")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("x0", "x1"), 6).alias("acf1"),
            F.round(F.corr("x0", "x7"), 6).alias("acf7"),
        )
    )


@register(
    "ts_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS x
      FROM orders GROUP BY 1
    ),
    preds AS (
      SELECT a.day, a.x AS actual, b.x AS naive_pred, c.x AS snaive_pred
      FROM daily a
      JOIN daily b ON b.day = a.day - 1
      JOIN daily c ON c.day = a.day - 7
    )
    SELECT 'naive_lag1' AS model, COUNT(*) AS n_days,
           round(AVG(abs(actual - naive_pred)), 4) AS mae,
           round(AVG(abs(actual - naive_pred) / actual) * 100, 4) AS mape_pct
    FROM preds
    UNION ALL
    SELECT 'seasonal_naive_lag7', COUNT(*),
           round(AVG(abs(actual - snaive_pred)), 4),
           round(AVG(abs(actual - snaive_pred) / actual) * 100, 4)
    FROM preds
    """,
    tier="P2",
)
def ts_forecast_backtest(spark, t):
    """Forecast-baseline backtest: MAE and MAPE of the two forecasts
    every model must beat — yesterday's value (naive) and last week's
    same-day value (seasonal naive) — evaluated on the daily revenue
    series. If a trained model can't beat these two numbers it ships
    nothing; computing them first is forecasting hygiene, and they
    double as the demand-volatility summary.

    Same gap-correct self-join alignment as ``ts_autocorrelation``
    (exact date arithmetic, days missing a lag drop pairwise), both
    models evaluated on the SAME aligned day set so their errors
    compare fairly. MAPE divides by actual (always positive here) and
    the report is two rows of scalar folds.
    """
    daily = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("x"))
        .cache()
    )
    a = daily.select("day", F.col("x").alias("actual"))
    b = daily.select(
        F.date_add(F.col("day"), 1).alias("day"), F.col("x").alias("naive_pred")
    )
    c = daily.select(
        F.date_add(F.col("day"), 7).alias("day"),
        F.col("x").alias("snaive_pred"),
    )
    preds = a.join(b, "day").join(c, "day").cache()

    def row(model, pred):
        err = F.abs(F.col("actual") - F.col(pred))
        return preds.agg(
            F.lit(model).alias("model"),
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg(err), 4).alias("mae"),
            F.round(F.avg(err / F.col("actual")) * 100, 4).alias("mape_pct"),
        ).select("model", "n_days", "mae", "mape_pct")

    return row("naive_lag1", "naive_pred").unionByName(
        row("seasonal_naive_lag7", "snaive_pred")
    )


@register(
    "ts_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS purchases,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS clicks
      FROM events
      GROUP BY 1
    )
    SELECT day, purchases, clicks,
           round(corr(purchases, clicks) OVER (
             ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
             AS corr7
    FROM daily
    ORDER BY day
    """,
    tier="P2",
)
def ts_rolling_corr(spark, t):
    """7-day rolling Pearson correlation between the daily purchase and
    click series — the co-movement monitor behind "did the click→buy
    relationship break this week" alerts.

    The raw event stream folds to one row per day FIRST (map-side
    combinable hash aggregate), and only then does the partition-less
    window run — over the |days| frame, which is calendar-bounded
    (365 rows/year), not data-proportional; same bounded-frame argument
    as ``agg_cumulative_unique_users``. ``corr`` is a native window
    aggregate on both engines, and the first 6 days correlate over
    their shorter prefix frames identically.
    """
    daily = (
        t["events"]
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "purchases"
            ),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "clicks"
            ),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "purchases",
        "clicks",
        r4(F.corr("purchases", "clicks").over(w)).alias("corr7"),
    ).orderBy("day")


@register(
    "ts_outlier_winsorize",
    oracle="""
    WITH cuts AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p5,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN e.value < c.p5 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > c.p95 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clipped_high,
           round(AVG(e.value), 4) AS mean_raw,
           round(AVG(LEAST(GREATEST(e.value, c.p5), c.p95)), 4)
             AS mean_winsorized,
           round(c.p5, 4) AS p5,
           round(c.p95, 4) AS p95
    FROM events e
    JOIN cuts c USING (event_type)
    GROUP BY e.event_type, c.p5, c.p95
    ORDER BY e.event_type
    """,
    tier="P2",
)
def ts_outlier_winsorize(spark, t):
    """Per-stratum 5/95-percentile winsorization report: how many values
    each tail clips and what it does to the mean — the robust-metric
    pre-step for revenue/latency series where a handful of outliers move
    the average (cf. ``agg_robust_means`` for the trimmed/winsorized
    global means and ``ts_anomaly_mad`` for pointwise flags).

    Two-pass fit/apply like ``ml_standardize_features``: an exact
    interpolated-percentile aggregate per event_type (|strata| rows,
    broadcast), then one full scan applying LEAST/GREATEST — the clip is
    a pure map-side projection, and exact percentile agreement between
    the engines is already proven by ``agg_percentile``.
    """
    e = t["events"]
    cuts = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p5"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p5")), F.col("p95"))
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "p5", "p95")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") < F.col("p5"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.round(F.avg("value"), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
        )
        .select(
            "event_type",
            "n",
            "n_clipped_low",
            "n_clipped_high",
            "mean_raw",
            "mean_winsorized",
            F.round("p5", 4).alias("p5"),
            F.round("p95", 4).alias("p95"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_burstiness_fano",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           COUNT(*) AS n_days,
           round(AVG(n), 4) AS mean_daily,
           round(var_samp(n), 4) AS var_daily,
           round(var_samp(n) / AVG(n), 4) AS fano_factor,
           round((stddev_samp(n) / AVG(n) - 1)
                 / (stddev_samp(n) / AVG(n) + 1), 4) AS burstiness
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
    """,
    tier="P2",
)
def ts_burstiness_fano(spark, t):
    """Burstiness diagnostics of each event stream's daily arrival
    counts: the Fano factor (variance/mean — 1 for a Poisson process,
    ≫1 for bursty traffic) and the Goh–Barabási burstiness index
    ((σ/μ−1)/(σ/μ+1) ∈ [−1,1)) — what capacity planning reads before
    sizing stream partitions, and the statistical cousin of
    ``ts_anomaly_mad`` (which flags individual bursts; this scores the
    stream's character).

    One day-level fold then a |event types|-row moment aggregate —
    nothing after the first hash exchange is data-proportional.
    """
    daily = (
        t["events"]
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cv = F.stddev_samp("n") / F.avg("n")
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("n"), 4).alias("mean_daily"),
            F.round(F.var_samp("n"), 4).alias("var_daily"),
            F.round(F.var_samp("n") / F.avg("n"), 4).alias("fano_factor"),
            F.round((cv - 1) / (cv + 1), 4).alias("burstiness"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS bar, value,
             epoch_us(ts) AS us, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    framed AS (
      SELECT *,
             first_value(value) OVER (
               PARTITION BY bar ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS o,
             last_value(value) OVER (
               PARTITION BY bar ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
      FROM e
    )
    SELECT bar,
           round(MAX(o), 4) AS open,
           round(MAX(value), 4) AS high,
           round(MIN(value), 4) AS low,
           round(MAX(c), 4) AS close,
           COUNT(*) AS n_trades
    FROM framed
    GROUP BY bar
    ORDER BY bar
    """,
    tier="P2",
)
def ts_ohlc_bars(spark, t):
    """Hourly OHLC candlestick bars over purchase values: open (first in
    the bar by exact µs+id order), high, low, close (last), and trade
    count — the bar-builder every financial/metrics rollup starts from,
    complementing ``win_vwap`` (volume-weighted level) and
    ``win_bollinger_bands`` (which consume bars like these).

    First/last are window functions over the bar partition (bounded by
    a bar's events) with the deterministic (µs, event_id) tie order —
    NOT min/max_by on a bare timestamp, which ties would make
    engine-dependent; the aggregate then folds each bar to one row.
    """
    from pyspark.sql import Window

    e = t["events"].filter(F.col("event_type") == "purchase").select(
        F.date_trunc("hour", "ts").alias("bar"),
        "value",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("bar").orderBy("us", "event_id")
    framed = e.select(
        "bar",
        "value",
        F.first("value").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("o"),
        F.last("value").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("c"),
    )
    return (
        framed.groupBy("bar")
        .agg(
            F.round(F.max("o"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max("c"), 4).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .orderBy("bar")
    )


@register(
    "ts_revenue_index_rebased",
    oracle="""
    WITH daily AS (
      SELECT c.c_mktsegment AS segment,
             CAST(o.o_orderdate AS DATE) AS day,
             SUM(o.o_totalprice) AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      GROUP BY 1, 2
    ),
    based AS (
      SELECT *, first_value(rev) OVER (
               PARTITION BY segment ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS base
      FROM daily
    )
    SELECT segment, day,
           round(rev, 4) AS revenue,
           round(100.0 * rev / base, 4) AS index_rebased
    FROM based
    ORDER BY segment, day
    """,
    tier="P2",
)
def ts_revenue_index_rebased(spark, t):
    """Rebased revenue index per segment (first observed day = 100) over
    one quarter — the BI convention for comparing growth trajectories
    of differently-sized segments on one axis (absolute revenue hides
    the small segment's faster growth; the index doesn't).

    Daily fold first, then one first_value window per segment partition
    (calendar-bounded frame) — the same bounded-window discipline as
    ``win_mtd_ytd_running``, with the date range pushed to the orders
    scan.
    """
    from pyspark.sql import Window

    daily = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "segment",
        "day",
        F.round("rev", 4).alias("revenue"),
        F.round(F.lit(100.0) * F.col("rev") / F.first("rev").over(w), 4).alias(
            "index_rebased"
        ),
    ).orderBy("segment", "day")


@register(
    "ts_shipping_delay_trend",
    oracle="""
    WITH delays AS (
      SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS delay_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT month,
           COUNT(*) AS n_lines,
           round(quantile_cont(delay_days, 0.5), 4) AS p50_delay,
           round(quantile_cont(delay_days, 0.9), 4) AS p90_delay,
           round(AVG(delay_days), 4) AS mean_delay
    FROM delays
    GROUP BY month
    ORDER BY month
    """,
    tier="P2",
)
def ts_shipping_delay_trend(spark, t):
    """Monthly fulfillment-latency trend: p50/p90/mean order→ship delay
    per month over one year — the operations SLO chart
    (``sql_shipping_delay_priority`` buckets a single year's lines;
    this tracks the latency DISTRIBUTION over time, which is where
    degradations show first — at the p90, not the mean).

    The date filter pushes to the orders scan; one fact join on the
    order key; exact interpolated percentiles per month (12 groups) —
    percentile state is per-group and the group count is
    calendar-bounded.
    """
    delays = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(
            t["lineitem"].select("l_orderkey", "l_shipdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("delay_days"),
        )
    )
    return (
        delays.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.percentile("delay_days", F.lit(0.5)), 4).alias("p50_delay"),
            F.round(F.percentile("delay_days", F.lit(0.9)), 4).alias("p90_delay"),
            F.round(F.avg("delay_days"), 4).alias("mean_delay"),
        )
        .orderBy("month")
    )


@register(
    "ts_month_end_lift",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(o_orderdate AS DATE) AS day,
             CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS eom,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders
      GROUP BY 1, 2, 3
    ),
    flagged AS (
      SELECT month, rev_cents,
             CASE WHEN datediff('day', day, eom) < 3 THEN 1 ELSE 0 END
               AS is_month_end
      FROM daily
    )
    SELECT month,
           round(AVG(CASE WHEN is_month_end = 1 THEN rev_cents END)
                 / 100.0, 4) AS avg_daily_rev_month_end,
           round(AVG(CASE WHEN is_month_end = 0 THEN rev_cents END)
                 / 100.0, 4) AS avg_daily_rev_rest,
           round(AVG(CASE WHEN is_month_end = 1 THEN rev_cents END)
                 / AVG(CASE WHEN is_month_end = 0 THEN rev_cents END), 4)
             AS month_end_lift
    FROM flagged
    GROUP BY month
    ORDER BY month
    """,
    tier="P2",
)
def ts_month_end_lift(spark, t):
    """Month-end (last 3 days) vs rest-of-month average daily revenue,
    per month — the payday/budget-flush effect every retail planner
    checks before blaming a promo for a spike
    (``ts_seasonality_index`` captures weekday shape; this captures
    the calendar-position shape weekday can't).

    A daily fold with a calendar flag (``last_day`` is exact date
    arithmetic on both engines), then conditional means per month —
    calendar-bounded throughout. Revenue folds as INTEGER CENTS: a
    double AVG's last ulp depends on partition summation order, and one
    month's mean landed within an ulp of a .00005 rounding boundary —
    integer sums are order-independent, so the mean is the same exact
    rational on both engines (the ``win_vwap`` / ``agg_abc_xyz_classes``
    policy).
    """
    daily = (
        t["orders"]
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.col("o_orderdate").cast("date").alias("day"),
            F.last_day(F.col("o_orderdate").cast("date")).alias("eom"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("rev_cents")
        )
    )
    is_end = (F.datediff("eom", "day") < 3).cast("int")
    flagged = daily.select("month", "rev_cents", is_end.alias("is_month_end"))
    end_avg = F.avg(F.when(F.col("is_month_end") == 1, F.col("rev_cents")))
    rest_avg = F.avg(F.when(F.col("is_month_end") == 0, F.col("rev_cents")))
    return (
        flagged.groupBy("month")
        .agg(
            F.round(end_avg / 100.0, 4).alias("avg_daily_rev_month_end"),
            F.round(rest_avg / 100.0, 4).alias("avg_daily_rev_rest"),
            F.round(end_avg / rest_avg, 4).alias("month_end_lift"),
        )
        .orderBy("month")
    )


@register(
    "ts_rolling_regression_slope",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    win AS (
      SELECT user_id, day,
             COUNT(*) OVER w AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(cents) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * cents) OVER w AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, day,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           END AS slope_cents_per_day
    FROM win
    """,
    tier="P2",
)
def ts_rolling_regression_slope(spark, t):
    """Rolling 7-day OLS trend per user: the least-squares slope of
    daily spend (exact integer cents) against the day index over a
    ROWS 6-PRECEDING window — the per-entity trend detector behind
    "spend accelerating/decelerating" alerts, where a global
    regression (``agg_regression``) sees only one line for everyone.

    Exactness discipline: every windowed sum (Σx, Σy, Σxy, Σx²) is
    BIGINT arithmetic over per-row cent conversions, so the engines
    cannot drift on float association inside the frame; the slope
    exists as a double exactly once (one division of two exact
    integers) and rounds to 6 dp. Frames with a single day yield NULL
    (zero denominator guarded on both sides, never NaN/inf). One
    shuffle on user_id; frame state is 4 running integers — the
    closed-form rolling regression, no matrix ops, no UDF.
    """
    daily = (
        t["events"]
        .groupBy(
            "user_id", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "cents"
            )
        )
        .withColumn("x", F.datediff("day", F.lit("2024-01-01")).cast("long"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    win = daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("cents").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("cents")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return win.select(
        "user_id",
        "day",
        F.when(
            denom != 0,
            F.round(num.cast("double") / denom.cast("double"), 6),
        ).alias("slope_cents_per_day"),
    )


@register(
    "ts_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(SUM(o_totalprice), 4) AS v
      FROM orders GROUP BY 1
    ),
    tr AS (
      SELECT day, v,
             round(AVG(v) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4) AS trend
      FROM daily
    ),
    det AS (
      SELECT dayofweek(day) AS dow, round(v - trend, 4) AS det FROM tr
    ),
    seas AS (
      SELECT dow, det,
             round(AVG(det) OVER (PARTITION BY dow), 4) AS seasonal
      FROM det
    )
    SELECT CAST(dow AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           MAX(seasonal) AS seasonal,
           round(AVG(abs(det - seasonal)), 4) AS mean_abs_resid
    FROM seas GROUP BY 1
    """,
    tier="P2",
)
def ts_stl_decompose(spark, t):
    """Seasonal-trend decomposition of the daily revenue series
    (classical additive STL shape: trend = centered 7-observation
    moving average, seasonal = day-of-week mean of the detrended
    series, residual = what's left) — the decomposition behind every
    'is this dip seasonality or a real change?' question, and the
    missing sibling of ``ts_seasonality_index`` (pure ratio-to-average)
    and ``ts_forecast_backtest`` (point forecasts): this one reports
    the seasonal COMPONENT and the residual magnitude per weekday.

    Determinism discipline: every stage is rounded to 4 dp before the
    next consumes it (daily sums are large-double territory — the r3
    cross-engine class), the trend window is a ROWS frame over the
    observed-day sequence (identical semantics both engines, no
    calendar-gap ambiguity), and day-of-week uses the repo convention
    (DuckDB ``dayofweek`` 0=Sunday ≡ Spark ``dayofweek()-1``,
    aggs.py:2355 note).

    Scale: the fact scan reduces to one row per DAY before any window
    runs, so the trend window's single-partition sort is
    calendar-bounded (~2.4k rows here; 36.5k rows for a century) —
    whitelisted in the plan audit like every other daily-frame shape
    (``ts_rolling_corr``, ``ts_forecast_backtest``); the seasonal
    window re-shuffles the same bounded frame by the 7-value dow key.
    """
    daily = (
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("v"))
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    det = daily.select(
        (F.dayofweek("day") - 1).alias("dow"),
        F.round(
            F.col("v") - F.round(F.avg("v").over(w7), 4), 4
        ).alias("det"),
    )
    seas = det.select(
        "dow",
        "det",
        F.round(F.avg("det").over(Window.partitionBy("dow")), 4).alias(
            "seasonal"
        ),
    )
    return seas.groupBy(F.col("dow").cast("int").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("seasonal").alias("seasonal"),
        F.round(F.avg(F.abs(F.col("det") - F.col("seasonal"))), 4).alias(
            "mean_abs_resid"
        ),
    )


@register(
    "ts_holt_linear_forecast",
    oracle="""
    WITH RECURSIVE m AS (
      SELECT o_orderpriority AS pri,
             date_trunc('month', o_orderdate) AS mo,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    s AS (
      SELECT pri, cents,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY mo) AS tt,
             COUNT(*) OVER (PARTITION BY pri) AS tn
      FROM m
    ),
    hw(pri, tt, l, b) AS (
      SELECT pri, 1, cents::DOUBLE, CAST(0.0 AS DOUBLE) FROM s WHERE tt = 1
      UNION ALL
      SELECT s.pri, s.tt,
             0.5 * s.cents + 0.5 * (hw.l + hw.b),
             0.5 * ((0.5 * s.cents + 0.5 * (hw.l + hw.b)) - hw.l)
               + 0.5 * hw.b
      FROM hw JOIN s ON s.pri = hw.pri AND s.tt = hw.tt + 1
    )
    SELECT hw.pri AS o_orderpriority,
           CAST(hw.tt AS BIGINT) AS n_months,
           round(hw.l / 100, 6) AS level,
           round(hw.b / 100, 6) AS trend,
           round((hw.l + 1 * hw.b) / 100, 6) AS forecast_1,
           round((hw.l + 2 * hw.b) / 100, 6) AS forecast_2,
           round((hw.l + 3 * hw.b) / 100, 6) AS forecast_3
    FROM hw JOIN (SELECT pri, MAX(tt) AS tn FROM s GROUP BY pri) z
      ON z.pri = hw.pri AND z.tn = hw.tt
    """,
    tier="P2",
)
def ts_holt_linear_forecast(spark, t):
    """Holt's two-parameter linear-trend exponential smoothing (the
    level+trend member of the Holt-Winters family) over each
    priority's monthly revenue, with a 3-month-ahead forecast — the
    workhorse short-horizon forecaster between the naive seasonal
    index (``ts_seasonality_index``) and a full STL fit
    (``ts_stl_decompose``). α = β = 1/2, initialized l₁ = y₁, b₁ = 0;
    the recursion runs over each group's OBSERVED months in order
    (sparse fixture months are a ranked sequence, not gap-filled —
    documented semantics shared by both engines).

    Determinism: monthly revenue folds to exact BIGINT cents first;
    the smoothing recursion is then the identical IEEE double sequence
    on both sides — the oracle's recursive CTE and the numpy loop
    evaluate literally the same expression tree per step
    (l ← ½y + ½(l+b); b ← ½(l_new − l) + ½b), so no tolerance is
    needed even after 80 steps (dyadic α keeps every op exact until
    the mantissa fills, after which both engines round identically).

    Scale shape: the heavy work is the per-(priority, month) cents
    aggregation — one map-side-combinable shuffle over the fact table.
    The recursion itself is inherently sequential PER GROUP, so it
    runs as a JVM ``aggregate()`` fold over each priority's sorted
    ≤ 80-element monthly array (the canonical Spark split: reduce big
    data to small per-key state distributively, iterate the state
    where iteration is cheap — r9 moved the iteration from
    ``applyInPandas`` into codegen; the fold replays the identical
    IEEE expression tree per step, checked row-equal). At 100 TB the
    month arrays are still 80 elements per key — the pattern holds for
    any bounded-window recursive filter (EWMA/Kalman/Holt).
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    monthly = (
        t["orders"]
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.date_trunc("month", "o_orderdate").alias("mo"),
        )
        .agg(F.sum(cents).alias("cents"))
    )

    # JVM fold over the sorted monthly array: l ← ½y + ½(l+b),
    # b ← ½(l_new − l) + ½b — the same IEEE double tree per step as
    # the oracle's recursive CTE (l_new's expression is duplicated
    # inside the struct; both copies round identically, so b sees the
    # exact l_new value). A null l marks the first element.
    seq = F.array_sort(F.collect_list(F.struct("mo", "cents")))

    def holt_step(acc, e):
        y = e["cents"].cast("double")
        l_new = F.lit(0.5) * y + F.lit(0.5) * (acc["l"] + acc["b"])
        return F.struct(
            F.when(acc["l"].isNull(), y).otherwise(l_new).alias("l"),
            F.when(acc["l"].isNull(), F.lit(0.0))
            .otherwise(F.lit(0.5) * (l_new - acc["l"]) + F.lit(0.5) * acc["b"])
            .alias("b"),
        )

    holt_init = F.struct(
        F.lit(None).cast("double").alias("l"),
        F.lit(None).cast("double").alias("b"),
    )
    state = monthly.groupBy("pri").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.aggregate(seq, holt_init, holt_step).alias("s"),
    )
    l, b = F.col("s.l"), F.col("s.b")
    return state.select(
        F.col("pri").alias("o_orderpriority"),
        "n_months",
        F.round(l / 100, 6).alias("level"),
        F.round(b / 100, 6).alias("trend"),
        F.round((l + 1 * b) / 100, 6).alias("forecast_1"),
        F.round((l + 2 * b) / 100, 6).alias("forecast_2"),
        F.round((l + 3 * b) / 100, 6).alias("forecast_3"),
    )


@register(
    "ts_lead_lag_xcorr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    pairs AS (SELECT a.t AS type_a, b.t AS type_b
              FROM types a JOIN types b ON a.t < b.t),
    lags AS (SELECT CAST(i - 3 AS INTEGER) AS lag FROM range(7) t(i)),
    dots AS (
      SELECT p.type_a, p.type_b, l.lag,
             CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS dot
      FROM pairs p
      CROSS JOIN lags l
      JOIN daily ca ON ca.event_type = p.type_a
      JOIN daily cb ON cb.event_type = p.type_b
                   AND cb.d = ca.d + l.lag
      GROUP BY p.type_a, p.type_b, l.lag
    ),
    best AS (
      SELECT type_a, type_b, lag, dot,
             row_number() OVER (PARTITION BY type_a, type_b
                                ORDER BY dot DESC, lag) AS rk,
             MAX(CASE WHEN lag = 0 THEN dot END)
               OVER (PARTITION BY type_a, type_b) AS dot0
      FROM dots
    )
    SELECT type_a, type_b, lag AS best_lag, dot AS best_dot, dot0
    FROM best WHERE rk = 1
    ORDER BY type_a, type_b
    """,
    tier="P2",
)
def ts_lead_lag_xcorr(spark, t):
    """Lead-lag CROSS-CORRELATION scan between event-type time series —
    "does one signal lead another, and by how many days?": for every
    type pair and every lag in [-3, +3], the raw-count dot product
    sum_t cnt_a(t) * cnt_b(t + lag), reporting the argmax lag (the
    lead/lag estimate) against the lag-0 dot as the no-shift baseline.
    The Granger-style screening question answered without leaving the
    engine.

    Scale shape: 100 TB of events folds map-side to a |days| x |types|
    daily-count frame (the ONLY data-proportional aggregate); the lag
    scan is a self-join of that tiny frame against a 7-row lag spine
    and a |types|^2/2 pair spine — constant cost once counts exist.
    Exactness: dot products are exact BIGINT sums of counts; argmax
    breaks ties by the smaller lag via the (dot DESC, lag) rank.
    Same family as ``ts_rolling_corr`` (within-pair levels) and
    ``ts_autocorrelation`` (self-lag); this is the cross-signal lag
    ESTIMATOR.
    """
    daily = (
        t["events"]
        .groupBy(
            F.to_date("ts").alias("d"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    types = t["events"].select(
        F.col("event_type").alias("tt")
    ).distinct()
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.tt") < F.col("b.tt"))
        .select(
            F.col("a.tt").alias("type_a"), F.col("b.tt").alias("type_b")
        )
    )
    lags = spark.range(7).select((F.col("id") - 3).cast("int").alias("lag"))
    ca = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("d").alias("da"),
        F.col("cnt").alias("ca"),
    )
    cb = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("d").alias("db"),
        F.col("cnt").alias("cb"),
    )
    dots = (
        pairs.crossJoin(F.broadcast(lags))
        .join(ca, "type_a")
        .withColumn("db", F.date_add(F.col("da"), F.col("lag")))
        .join(cb, ["type_b", "db"])
        .groupBy("type_a", "type_b", "lag")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    wrk = Window.partitionBy("type_a", "type_b").orderBy(
        F.desc("dot"), "lag"
    )
    wall = Window.partitionBy("type_a", "type_b")
    return (
        dots.withColumn("rk", F.row_number().over(wrk))
        .withColumn(
            "dot0",
            F.max(F.when(F.col("lag") == 0, F.col("dot"))).over(wall),
        )
        .filter(F.col("rk") == 1)
        .select(
            "type_a",
            "type_b",
            F.col("lag").alias("best_lag"),
            F.col("dot").alias("best_dot"),
            "dot0",
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "ts_sax_symbolic",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  // 5 AS INTEGER) AS seg,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS seg_cents
      FROM events
      GROUP BY 1, 2
    ),
    lettered AS (
      SELECT user_id, seg,
             substr('abcd',
                    ntile(4) OVER (PARTITION BY user_id
                                   ORDER BY seg_cents, seg), 1) AS letter
      FROM daily
    ),
    words AS (
      SELECT user_id,
             string_agg(letter, '' ORDER BY seg) AS sax_word
      FROM lettered GROUP BY user_id
    )
    SELECT sax_word,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS min_user
    FROM words GROUP BY sax_word
    ORDER BY sax_word
    """,
    tier="P2",
)
def ts_sax_symbolic(spark, t):
    """SAX-style SYMBOLIC discretization of per-user activity series —
    the motif-mining front end (Lin et al.'s Symbolic Aggregate
    approXimation): each user's January value series is piecewise
    aggregated into 5-day segments (PAA), each segment mapped to a
    letter a-d, and the per-user letter string ("sax word") is the
    shape signature that groups users by trajectory — the report is
    the word histogram. Classic SAX cuts at Gaussian breakpoints of a
    z-normalized series; this variant assigns letters by WITHIN-USER
    QUARTILE RANK (ntile over segment sums), which preserves the
    shape-classing property while staying exactly integer — no mean /
    std / sqrt whose cross-engine float drift could flip a boundary
    letter.

    Scale shape: one (user, segment) aggregate (map-side combinable,
    value folded to exact floor-cents), one ntile window and one
    ordered string_agg both partitioned by user — shuffle volume is
    |users| x |segments| rows of three integers regardless of event
    count. Word histogram is a tiny final fold.
    """
    daily = (
        t["events"]
        .groupBy(
            "user_id",
            F.floor(
                F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
                / 5
            )
            .cast("int")
            .alias("seg"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "seg_cents"
            )
        )
    )
    wq = Window.partitionBy("user_id").orderBy("seg_cents", "seg")
    lettered = daily.select(
        "user_id",
        "seg",
        F.substring(F.lit("abcd"), F.ntile(4).over(wq), 1).alias("letter"),
    )
    words = lettered.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "letter"))),
                lambda s: s["letter"],
            ),
        ).alias("sax_word")
    )
    return (
        words.groupBy("sax_word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("user_id").cast("bigint").alias("min_user"),
        )
        .orderBy("sax_word")
    )


@register(
    "ts_croston_intermittent",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT l_partkey AS pk,
             datediff('day', DATE '1995-01-02',
                      CAST(date_trunc('week', l_shipdate) AS DATE)) // 7
               AS wk,
             CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS x
      FROM lineitem WHERE l_partkey % 97 = 0 GROUP BY 1, 2
    ),
    s AS (
      SELECT pk, wk, x,
             ROW_NUMBER() OVER (PARTITION BY pk ORDER BY wk) AS tt,
             wk - lag(wk) OVER (PARTITION BY pk ORDER BY wk) AS g
      FROM d
    ),
    cr(pk, tt, z, p) AS (
      SELECT pk, 1, x::DOUBLE, CAST(1.0 AS DOUBLE) FROM s WHERE tt = 1
      UNION ALL
      SELECT s.pk, s.tt, 0.5 * s.x + 0.5 * cr.z, 0.5 * s.g + 0.5 * cr.p
      FROM cr JOIN s ON s.pk = cr.pk AND s.tt = cr.tt + 1
    )
    SELECT cr.pk AS p_partkey, CAST(cr.tt AS BIGINT) AS n_weeks,
           round(cr.z, 6) AS size_smooth,
           round(cr.p, 6) AS interval_smooth,
           round(cr.z / cr.p, 6) AS croston_rate
    FROM cr JOIN (SELECT pk, MAX(tt) AS m FROM s GROUP BY pk) fin
      ON fin.pk = cr.pk AND fin.m = cr.tt
    ORDER BY p_partkey
    """,
    tier="P2",
)
def ts_croston_intermittent(spark, t):
    """CROSTON'S METHOD for intermittent demand — the supply-chain
    forecaster for zero-heavy series where SES/Holt break (Croston
    1972): per sampled part (1/97 hash slice), weekly order quantities
    are sparse events, and the method smooths demand SIZE and
    inter-demand INTERVAL as two coupled SES recursions (alpha = 1/2),
    forecasting rate = size/interval units per week. Fills the
    intermittent-demand gap beside ``ts_holt_linear_forecast`` (dense
    trend) and ``ts_seasonality_index`` (dense seasonality).

    Determinism: weekly demand folds to exact BIGINT units
    (floor(quantity) per row); the recursion is the identical IEEE
    double sequence on both engines (dyadic alpha — same discipline as
    Holt, whose docstring derives why no tolerance is needed);
    Monday-anchored week numbers are exact integer arithmetic.
    Initialization convention (documented semantics): z1 = first
    demand, p1 = 1; single-demand parts report rate = that demand.

    Scale shape: the fact table folds map-side to (part, week) rows;
    the inherently sequential recursion then runs as a JVM
    ``aggregate()`` fold over each part's sorted (week, demand) array —
    <= |weeks| elements per group, whole-stage codegen, no Python
    boundary (r9: the previous ``applyInPandas`` form paid ~1.5 s of
    Arrow+worker overhead for 207 groups; the fold replays the
    identical IEEE expression tree per step, checked row-equal).
    """
    wk = (
        F.datediff(
            F.date_trunc("week", "l_shipdate").cast("date"),
            F.lit("1995-01-02").cast("date"),
        )
        / 7
    ).cast("int")
    d = (
        t["lineitem"]
        .filter(F.col("l_partkey") % 97 == 0)
        .groupBy(F.col("l_partkey").alias("pk"), wk.alias("wk"))
        .agg(
            F.sum(F.floor("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )

    # JVM fold: per part, sort the (week, demand) pairs and replay the
    # recursion with aggregate() — z ← ½x + ½z, p ← ½(wk−prev_wk) + ½p,
    # literally the same IEEE double tree per step as the oracle's
    # recursive CTE (dyadic α; a null z marks the first element).
    seq = F.array_sort(F.collect_list(F.struct("wk", "x")))

    def croston_step(acc, e):
        first = acc["z"].isNull()
        return F.struct(
            F.when(first, e["x"].cast("double"))
            .otherwise(
                F.lit(0.5) * e["x"].cast("double") + F.lit(0.5) * acc["z"]
            )
            .alias("z"),
            F.when(first, F.lit(1.0))
            .otherwise(
                F.lit(0.5) * (e["wk"] - acc["pw"]).cast("double")
                + F.lit(0.5) * acc["p"]
            )
            .alias("p"),
            e["wk"].alias("pw"),
        )

    croston_init = F.struct(
        F.lit(None).cast("double").alias("z"),
        F.lit(None).cast("double").alias("p"),
        F.lit(None).cast("int").alias("pw"),
    )
    state = d.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.aggregate(seq, croston_init, croston_step).alias("s"),
    )
    return state.select(
        F.col("pk").alias("p_partkey"),
        "n_weeks",
        F.round("s.z", 6).alias("size_smooth"),
        F.round("s.p", 6).alias("interval_smooth"),
        F.round(F.col("s.z") / F.col("s.p"), 6).alias("croston_rate"),
    ).orderBy("p_partkey")


@register(
    "ts_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
               AS i
      FROM daily
    ),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn,
             (b.cents - a.cents) * 1.0 / (b.i - a.i) AS slope
      FROM idx a JOIN idx b
        ON b.event_type = a.event_type AND b.i > a.i
    ),
    sstat AS (
      SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY event_type
    ),
    nn AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n
           FROM idx GROUP BY event_type),
    sen AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM pairs
    )
    SELECT s.event_type,
           CAST(nn.n AS BIGINT) AS n_days,
           s.s AS s_stat,
           round((CASE WHEN s.s > 0 THEN s.s - 1
                       WHEN s.s < 0 THEN s.s + 1
                       ELSE 0 END)
                 / sqrt(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0), 4)
             AS z_mk,
           round(sen.slope / 100.0, 6) AS sen_slope
    FROM sstat s
    JOIN nn ON nn.event_type = s.event_type
    JOIN sen ON sen.event_type = s.event_type
            AND sen.rk = (sen.m + 1) // 2
    ORDER BY s.event_type
    """,
    tier="P2",
)
def ts_mann_kendall_trend(spark, t):
    """MANN-KENDALL trend test + SEN'S SLOPE per event-type daily
    revenue series — the nonparametric monotone-trend detector
    monitoring stacks run where a linear fit would be distorted by
    outliers: S = sum of pairwise sign comparisons (exact integers),
    the normal approximation z = (S -+ 1)/sqrt(n(n-1)(2n+5)/18) with
    continuity correction, and the Theil-Sen slope estimate as the
    LOWER MEDIAN of all pairwise slopes (documented convention — an
    exact element selection, never an average of two floats).
    Complements ``ts_rolling_regression_slope`` (parametric, windowed)
    and ``ts_cusum_changepoint`` (level shifts).

    Exactness: daily cents are exact integer folds; every pairwise
    sign is integer; slopes are exact-int-over-exact-int divisions both
    engines compute identically, so the rank-based median selection is
    deterministic (ties broken by the total slope order itself);
    variance uses the no-ties formula as defined semantics (cents
    ties are possible in principle — the statistic is DEFINED on the
    no-ties form; both engines agree by construction). Scale shape:
    the fact stream folds map-side to |types| x |days| rows; the
    O(days^2) pair frame is calendar-bounded (~435 pairs/type here,
    ~66k for a year) — constant w.r.t. fact-table size.
    """
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    widx = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type", "cents", F.row_number().over(widx).alias("i")
    )
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.i") > F.col("a.i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.cents") > F.col("a.cents"), 1)
        .when(F.col("b.cents") < F.col("a.cents"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("b.cents") - F.col("a.cents"))
            * 1.0
            / (F.col("b.i") - F.col("a.i"))
        ).alias("slope"),
    )
    sstat = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("bigint").alias("s")
    )
    nn = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    wsl = Window.partitionBy("event_type").orderBy("slope")
    wall = Window.partitionBy("event_type")
    sen = (
        pairs.select(
            "event_type",
            "slope",
            F.row_number().over(wsl).alias("rk"),
            F.count(F.lit(1)).over(wall).alias("m"),
        )
        .filter(F.col("rk") == F.floor((F.col("m") + 1) / 2))
        .select("event_type", "slope")
    )
    s, n = F.col("s"), F.col("n")
    zc = (
        F.when(s > 0, s - 1).when(s < 0, s + 1).otherwise(0)
    )
    return (
        sstat.join(nn, "event_type")
        .join(sen, "event_type")
        .select(
            "event_type",
            n.cast("bigint").alias("n_days"),
            F.col("s").alias("s_stat"),
            F.round(
                zc / F.sqrt(n * (n - 1) * (2 * n + 5) / 18.0), 4
            ).alias("z_mk"),
            F.round(F.col("slope") / 100.0, 6).alias("sen_slope"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_interrupted_series",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS tt,
             CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END
               AS post,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2, 3
    ),
    seg AS (
      SELECT post,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(tt) AS DOUBLE) AS st,
             CAST(SUM(cents) AS DOUBLE) AS sy,
             CAST(SUM(tt * tt) AS DOUBLE) AS stt,
             CAST(SUM(tt * cents) AS DOUBLE) AS sty
      FROM daily GROUP BY post
    ),
    fit AS (
      SELECT post, n,
             (n * sty - st * sy) / (n * stt - st * st) AS slope,
             (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n
               AS intercept
      FROM seg
    )
    SELECT CAST(pre.n AS BIGINT) AS n_pre,
           CAST(post.n AS BIGINT) AS n_post,
           round(pre.slope / 100, 6) AS slope_pre,
           round(post.slope / 100, 6) AS slope_post,
           round((post.intercept + post.slope * 14
                  - (pre.intercept + pre.slope * 14)) / 100, 6)
             AS level_jump,
           round((post.slope - pre.slope) / 100, 6) AS slope_change
    FROM fit pre JOIN fit post ON pre.post = 0 AND post.post = 1
    """,
    tier="P2",
)
def ts_interrupted_series(spark, t):
    """INTERRUPTED TIME-SERIES analysis of the 2024-01-15 cut — the
    quasi-experimental workhorse for "did the launch change the
    trajectory?": independent OLS segments on the daily revenue series
    before and after the intervention, reporting the LEVEL JUMP at the
    cut (counterfactual pre-trend extrapolated to day 14 vs the post
    fit evaluated there) and the SLOPE CHANGE — the two coefficients a
    segmented-regression ITS model estimates. Complements
    ``agg_did_discount_effect`` (difference-in-differences across
    groups) with the single-series pre/post design, and
    ``ts_cusum_changepoint`` (detects WHEN) with the effect-size
    estimate (HOW MUCH).

    Exactness: daily cents and day indices are exact integers; each
    segment's OLS is the closed-form slope/intercept from five exact
    sums (the ``agg_regression`` sufficient-statistics discipline) in
    one fixed double tree. Scale shape: one map-side-combined daily
    fold, then a 2-row segment frame — the fit costs one pass
    regardless of event volume.
    """
    daily = (
        t["events"]
        .groupBy(
            F.to_date("ts").alias("d"),
            F.datediff(
                F.to_date("ts"), F.lit("2024-01-01").cast("date")
            ).alias("tt"),
            F.when(
                F.col("ts") < F.lit("2024-01-15").cast("timestamp"), 0
            ).otherwise(1).alias("post"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    seg = daily.groupBy("post").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("tt").cast("double").alias("st"),
        F.sum("cents").cast("double").alias("sy"),
        F.sum(F.col("tt") * F.col("tt")).cast("double").alias("stt"),
        F.sum(F.col("tt") * F.col("cents")).cast("double").alias("sty"),
    )
    n, st, sy = F.col("n"), F.col("st"), F.col("sy")
    slope = (n * F.col("sty") - st * sy) / (n * F.col("stt") - st * st)
    fit = seg.select(
        "post",
        "n",
        slope.alias("slope"),
        ((sy - slope * st) / n).alias("intercept"),
    )
    pre = fit.filter(F.col("post") == 0).alias("pre")
    post = fit.filter(F.col("post") == 1).alias("post")
    return pre.crossJoin(F.broadcast(post)).select(
        F.col("pre.n").cast("bigint").alias("n_pre"),
        F.col("post.n").cast("bigint").alias("n_post"),
        F.round(F.col("pre.slope") / 100, 6).alias("slope_pre"),
        F.round(F.col("post.slope") / 100, 6).alias("slope_post"),
        F.round(
            (
                F.col("post.intercept") + F.col("post.slope") * 14
                - (F.col("pre.intercept") + F.col("pre.slope") * 14)
            )
            / 100,
            6,
        ).alias("level_jump"),
        F.round(
            (F.col("post.slope") - F.col("pre.slope")) / 100, 6
        ).alias("slope_change"),
    )

"""ETL change-management operators — the reference's home domain.

An ETL-aggregations pipeline (the reference's stated purpose, SURVEY.md
§0) lives and dies by incremental loads: detecting what changed between
snapshots and merging deltas into a base table. Both operators here are
pure DataFrame compositions whose semantics hash-check against ANSI SQL,
so the driver proves the change-detection logic, not just the happy
path. ``agg_incremental_merge`` (operators/aggs.py) covers the third leg
— merging partial *aggregates*.

Scale posture: both shapes shuffle once on the business key (the same
key the base table would be bucketed/partitioned by in a warehouse), and
the classification logic is pure codegen-friendly column expressions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.helpers import r4
from ..functions.portable_hash import ph60, ph60_sql
from ..registry import register


@register(
    "etl_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    )
    SELECT
      COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
      CASE
        WHEN old.o_orderkey IS NULL THEN 'insert'
        WHEN new.o_orderkey IS NULL THEN 'delete'
        WHEN old.o_orderstatus <> new.o_orderstatus
          OR old.o_totalprice <> new.o_totalprice THEN 'update'
        ELSE 'unchanged'
      END AS change_type
    FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
    """,
    tier="P2",
)
def etl_snapshot_diff(spark, t):
    """Snapshot diff: classify every key across two table versions as
    insert / delete / update / unchanged (CDC-style change detection).

    The two 'snapshots' are overlapping date slices of orders, so all
    four classes occur. One full outer join on the key; the classifier
    is a null-pattern CASE — no UDF, fully codegen. At warehouse scale
    both sides are bucketed by the key, making the diff shuffle-free
    (see ``join_bucketed_colocated``).
    """
    orders = t["orders"]
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    old = orders.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(*cols)
    new = orders.filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    ).select(*[F.col(c).alias(f"n_{c}") for c in cols])
    j = old.join(
        new, old["o_orderkey"] == new["n_o_orderkey"], "full"
    )
    return j.select(
        F.coalesce("o_orderkey", "n_o_orderkey").alias("o_orderkey"),
        F.when(F.col("o_orderkey").isNull(), "insert")
        .when(F.col("n_o_orderkey").isNull(), "delete")
        .when(
            (F.col("o_orderstatus") != F.col("n_o_orderstatus"))
            | (F.col("o_totalprice") != F.col("n_o_totalprice")),
            "update",
        )
        .otherwise("unchanged")
        .alias("change_type"),
    )


@register(
    "etl_upsert_merge",
    oracle="""
    WITH delta AS (
      SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice,
             'delta' AS src
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    ),
    base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, 'base' AS src FROM orders
    ),
    merged AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderkey
        ORDER BY CASE WHEN src = 'delta' THEN 0 ELSE 1 END) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
    )
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice, src
    FROM merged WHERE rn = 1
    """,
    tier="P2",
)
def etl_upsert_merge(spark, t):
    """Upsert (MERGE) without a table format: delta rows win over base
    rows on key collision, union-then-rank style.

    The delta re-prices recent orders by +10 %; the merge keeps exactly
    one row per key, preferring the delta. This is the portable
    DataFrame form of ``MERGE INTO`` — union + per-key priority
    row_number — which shuffles once on the key and needs no
    format-level transaction support. The ``src`` column in the output
    makes the winner visible to the hash-check.
    """
    orders = t["orders"]
    base = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", F.lit("base").alias("src")
    )
    delta = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("delta").alias("src"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(
        F.when(F.col("src") == "delta", 0).otherwise(1)
    )
    return (
        base.unionByName(delta)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "src",
        )
    )


@register(
    "dq_constraint_report",
    oracle="""
    SELECT 'orders_orphan_custkey' AS check_name,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'orders_null_custkey',
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'orders_bad_status',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.1)
    UNION ALL
    SELECT 'orders_duplicate_pk',
           (SELECT COUNT(*) FROM (
              SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING COUNT(*) > 1))
    """,
    tier="P2",
)
def dq_constraint_report(spark, t):
    """Data-quality constraint report (the Deequ-style audit an ETL
    pipeline runs before publishing): referential orphans via anti
    joins, null checks, domain checks, primary-key uniqueness — one row
    per check with its violation count (all zero on these fixtures;
    the machinery is the deliverable and the oracle proves each check's
    semantics, not just the zeros).

    Scale shape: each check is an independent aggregate/anti-join over
    one pass of its table; checks evaluate in parallel jobs and the
    report is |checks| rows.
    """
    orders, customer, lineitem = t["orders"], t["customer"], t["lineitem"]

    def row(name, df):
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    checks = [
        row(
            "orders_orphan_custkey",
            orders.join(
                customer, orders["o_custkey"] == customer["c_custkey"], "left_anti"
            ),
        ),
        row(
            "lineitem_orphan_orderkey",
            lineitem.join(
                orders, lineitem["l_orderkey"] == orders["o_orderkey"], "left_anti"
            ),
        ),
        row("orders_null_custkey", orders.filter(F.col("o_custkey").isNull())),
        row(
            "orders_bad_status",
            orders.filter(~F.col("o_orderstatus").isin("F", "O", "P")),
        ),
        row(
            "lineitem_discount_range",
            lineitem.filter(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
            ),
        ),
        row(
            "orders_duplicate_pk",
            orders.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@register(
    "dq_profile",
    oracle="""
    SELECT 'o_totalprice' AS col_name,
           COUNT(*) AS n_rows,
           CAST(COUNT(o_totalprice) AS BIGINT) AS n_nonnull,
           COUNT(DISTINCT o_totalprice) AS n_distinct,
           round(MIN(o_totalprice), 4) AS min_val,
           round(MAX(o_totalprice), 4) AS max_val,
           round(AVG(o_totalprice), 4) AS avg_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), CAST(COUNT(o_custkey) AS BIGINT),
           COUNT(DISTINCT o_custkey),
           round(MIN(o_custkey), 4), round(MAX(o_custkey), 4),
           round(AVG(o_custkey), 4)
    FROM orders
    """,
    tier="P2",
)
def dq_profile(spark, t):
    """Column-profile report (row/non-null/distinct counts + min/max/avg
    per column) — the table-stats shape feeding both data-quality
    dashboards and optimizer statistics. Each column's profile is one
    aggregate pass; numeric columns share a uniform (double) stats
    schema so the report unions cleanly."""
    orders = t["orders"]

    def profile(col):
        return orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            r4(F.min(F.col(col).cast("double"))).alias("min_val"),
            r4(F.max(F.col(col).cast("double"))).alias("max_val"),
            r4(F.avg(F.col(col).cast("double"))).alias("avg_val"),
        ).select(F.lit(col).alias("col_name"), "*")

    return profile("o_totalprice").unionByName(profile("o_custkey"))


@register(
    "etl_scd2_history",
    oracle="""
    WITH ch AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
             lag(o_orderpriority) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ),
    chg AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority
      FROM ch WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
           CAST(lead(o_orderdate) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             IS NULL AS BOOLEAN) AS is_current
    FROM chg
    """,
    tier="P2",
)
def etl_scd2_history(spark, t):
    """Slowly-changing-dimension type-2 build: collapse each customer's
    order-priority change log into validity intervals.

    The warehouse-historization primitive: detect attribute changes with
    ``lag`` over the per-key timeline, keep only change rows, then
    ``lead`` gives each surviving row its closing timestamp (open
    interval = current). Both windows PARTITION BY the key — fully
    parallel, no global sort; (o_orderdate, o_orderkey) is a total order
    per customer so the result is deterministic on both engines.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            "o_orderpriority",
            F.lag("o_orderpriority").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority")))
    )
    return chg.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


@register(
    "etl_sessionize",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events
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
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           max(ts_us) - min(ts_us) AS duration_us,
           round(sum(value), 4) AS sum_value
    FROM sess GROUP BY user_id, session_no
    """,
    tier="P2",
)
def etl_sessionize(spark, t):
    """Gap-based sessionization (gaps-and-islands): split each user's
    event stream at >30-minute silences, then aggregate per session.

    The batch complement of ``stream_session`` (streaming/ops.py:59):
    same 30-min inactivity semantics, computed retroactively over the
    full history. Classic two-window form — a lag-gap flag marks session
    starts, its running sum numbers the sessions, then one groupBy
    collapses them. All three steps PARTITION BY user_id, so the whole
    plan is one shuffle on the user key and scales with the widest
    single user's history, not the table. Exact µs timestamps
    (``unix_micros`` ↔ DuckDB ``epoch_us``) keep the gap comparison
    integer-exact across engines.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e = t["events"].select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("ts_us")
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
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        r4(F.sum("value")).alias("sum_value"),
    )


@register(
    "dq_freshness_report",
    oracle="""
    SELECT 'events' AS table_name, 'ts' AS ts_col,
           COUNT(*)::BIGINT AS n_rows,
           MIN(ts) AS oldest, MAX(ts) AS newest,
           CAST(date_diff('day', MAX(ts), TIMESTAMP '2026-01-01')
                AS BIGINT) AS days_stale
    FROM events
    UNION ALL
    SELECT 'orders', 'o_orderdate', COUNT(*)::BIGINT,
           MIN(o_orderdate), MAX(o_orderdate),
           CAST(date_diff('day', MAX(o_orderdate), TIMESTAMP '2026-01-01')
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem', 'l_shipdate', COUNT(*)::BIGINT,
           MIN(l_shipdate), MAX(l_shipdate),
           CAST(date_diff('day', MAX(l_shipdate), TIMESTAMP '2026-01-01')
                AS BIGINT)
    FROM lineitem
    """,
    tier="P2",
)
def dq_freshness_report(spark, t):
    """Freshness/staleness audit across every time-bearing table: row
    count, oldest/newest timestamp, and whole days between the newest
    row and a fixed reference date (a pinned literal, not now(), so the
    report is reproducible and cross-engine-checkable) — the data-ops
    monitor that catches a stalled ingest before downstream aggregates
    silently go quiet.

    One scalar aggregate per table (min/max/count reduce map-side to a
    single row each) unioned into the report: scan-bound, no shuffles of
    table rows. Staleness uses exact whole-day datediff on both engines.

    Note: events.ts is session-tz (UTC) while orders/lineitem are NTZ —
    the day arithmetic is identical either way because the reference is
    a date-aligned literal.
    """
    ref = "2026-01-01"

    def freshness(table: str, ts_col: str):
        df = t[table]
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(ts_col).alias("oldest"),
            F.max(ts_col).alias("newest"),
            F.datediff(F.lit(ref).cast("date"), F.to_date(F.max(ts_col)))
            .cast("bigint")
            .alias("days_stale"),
        ).select(
            F.lit(table).alias("table_name"),
            F.lit(ts_col).alias("ts_col"),
            "*",
        )

    return (
        freshness("events", "ts")
        .unionByName(freshness("orders", "o_orderdate"))
        .unionByName(freshness("lineitem", "l_shipdate"))
    )


@register(
    "dq_fk_orphans",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS fk,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT
             AS n_orphans,
           (SELECT COUNT(*) FROM orders)::BIGINT AS n_rows
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
           (SELECT COUNT(*) FROM lineitem)::BIGINT
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))::BIGINT,
           (SELECT COUNT(*) FROM lineitem)::BIGINT
    """,
    tier="P2",
)
def dq_fk_orphans(spark, t):
    """Referential-integrity audit: orphan counts for every declared
    foreign key (child rows whose parent is missing) — the DQ check that
    catches partial loads and out-of-order ingestion, complementing the
    value-rule `dq_constraint_report`.

    Each FK is one LEFT ANTI join (child probes the parent's join hash,
    nothing materializes but violations) plus a scalar count; parent
    key sets broadcast when dimension-sized. Zero orphans on these
    fixtures — the point is the report shape, and that zero is PROVEN,
    not assumed.
    """

    def orphans(fk: str, child, key_col: str, parent, pkey_col: str):
        n_orph = (
            child.join(
                parent.select(pkey_col),
                child[key_col] == parent[pkey_col],
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        )
        n_rows = child.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        return (
            n_orph.crossJoin(F.broadcast(n_rows))
            .select(F.lit(fk).alias("fk"), "n_orphans", "n_rows")
        )

    return (
        orphans(
            "orders.o_custkey->customer",
            t["orders"], "o_custkey", t["customer"], "c_custkey",
        )
        .unionByName(
            orphans(
                "lineitem.l_orderkey->orders",
                t["lineitem"], "l_orderkey", t["orders"], "o_orderkey",
            )
        )
        .unionByName(
            orphans(
                "lineitem.l_partkey->part",
                t["lineitem"], "l_partkey", t["part"], "p_partkey",
            )
        )
    )


@register(
    "etl_anonymize_kanon",
    oracle=f"""
    WITH masked AS (
      SELECT {ph60_sql("c_name", "pii")} AS pseudonym,
             c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band
      FROM customer
    ),
    classes AS (
      SELECT c_nationkey, c_mktsegment, acctbal_band,
             COUNT(*) AS k
      FROM masked GROUP BY c_nationkey, c_mktsegment, acctbal_band
    )
    SELECT m.pseudonym, m.c_nationkey, m.c_mktsegment, m.acctbal_band,
           c.k, c.k < 5 AS at_risk
    FROM masked m
    JOIN classes c USING (c_nationkey, c_mktsegment, acctbal_band)
    """,
    tier="P2",
)
def etl_anonymize_kanon(spark, t):
    """PII anonymization with a k-anonymity audit: direct identifiers are
    pseudonymized (``ph60(c_name)`` — deterministic, so the same person
    maps to the same pseudonym across runs and tables, which is what
    keeps joins working after masking), quasi-identifiers are
    generalized (account balance → width-1000 band), and every row
    carries the size k of its quasi-identifier equivalence class
    (nation × segment × band) plus an ``at_risk`` flag for k < 5 — the
    rows a k-anonymity policy would suppress or generalize further
    before the dataset leaves the trust boundary.

    Shape: one groupBy on the quasi-identifier tuple (cardinality
    |nations|×|segments|×|bands| — tiny), broadcast-joined back onto the
    masked rows; the pseudonym and band are map-side column expressions.
    At 100 TB this is one pass + one broadcast join — the class table
    never grows with the data, only with the generalization grid.
    """
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    masked = t["customer"].select(
        ph60("c_name", "pii").alias("pseudonym"),
        "c_nationkey",
        "c_mktsegment",
        band.alias("acctbal_band"),
    )
    classes = masked.groupBy("c_nationkey", "c_mktsegment", "acctbal_band").agg(
        F.count(F.lit(1)).alias("k")
    )
    return masked.join(
        F.broadcast(classes), ["c_nationkey", "c_mktsegment", "acctbal_band"]
    ).select(
        "pseudonym",
        "c_nationkey",
        "c_mktsegment",
        "acctbal_band",
        "k",
        (F.col("k") < 5).alias("at_risk"),
    )


#: PSI bucket grid for ``dq_psi_drift``: width-50k equi-width buckets
#: over o_totalprice (observed range ~1k..500k), clamped into [0, 9].
PSI_BUCKETS = 10
PSI_WIDTH = 50_000.0
#: the snapshot split point: orders strictly before this date are the
#: "expected" (reference) population, the rest are "actual"
PSI_SPLIT = "1998-01-01"


@register(
    "dq_psi_drift",
    oracle=f"""
    WITH bucketed AS (
      SELECT least(greatest(CAST(floor(o_totalprice / {PSI_WIDTH}) AS BIGINT), 0),
                   {PSI_BUCKETS - 1}) AS bucket,
             o_orderdate < TIMESTAMP '{PSI_SPLIT}' AS is_ref
      FROM orders
    ),
    grid AS (
      SELECT g.bucket,
             CAST(coalesce(sum(CASE WHEN b.is_ref THEN 1 END), 0)
               AS BIGINT) AS n_ref,
             CAST(coalesce(sum(CASE WHEN NOT b.is_ref THEN 1 END), 0)
               AS BIGINT) AS n_act
      FROM (SELECT unnest(range({PSI_BUCKETS})) AS bucket) g
      LEFT JOIN bucketed b ON b.bucket = g.bucket
      GROUP BY g.bucket
    ),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_act) AS t_act FROM grid)
    SELECT bucket, n_ref, n_act,
           round((n_ref + 1.0) / (t_ref + {PSI_BUCKETS}), 6) AS p_ref,
           round((n_act + 1.0) / (t_act + {PSI_BUCKETS}), 6) AS p_act,
           round(((n_act + 1.0) / (t_act + {PSI_BUCKETS})
                  - (n_ref + 1.0) / (t_ref + {PSI_BUCKETS}))
                 * ln(((n_act + 1.0) / (t_act + {PSI_BUCKETS}))
                      / ((n_ref + 1.0) / (t_ref + {PSI_BUCKETS}))), 6) AS psi_term
    FROM grid, tot
    """,
    tier="P2",
)
def dq_psi_drift(spark, t):
    """Population-stability-index drift report between two order
    snapshots (pre/post {PSI_SPLIT}): per price bucket, the reference
    and actual counts, Laplace-smoothed probabilities, and the bucket's
    PSI contribution (p_act − p_ref)·ln(p_act/p_ref). Σ psi_term > 0.2
    is the conventional "distribution shifted, retrain/investigate"
    alarm — the standard pre-deployment check before a model trained on
    the reference window scores the actual window.

    Fixed equi-width buckets (never data-dependent quantile edges — those
    make the report non-reproducible across engines and runs) and +1
    smoothing keep every term finite and bit-comparable. The bucket grid
    is generated (``spark.range``), so empty buckets appear with count 0
    instead of silently vanishing and skewing the total.

    Shape: one map-side bucket projection, one groupBy on ≤ {PSI_BUCKETS}
    buckets (conditional-count partials — constant shuffle volume), the
    10-row grid left-joins the counts, and the totals frame is a 1-row
    broadcast cross join. 100 TB cost: one pruned-column pass.
    """
    b = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / PSI_WIDTH).cast("bigint"), F.lit(0)),
        F.lit(PSI_BUCKETS - 1),
    )
    is_ref = F.col("o_orderdate") < F.lit(PSI_SPLIT).cast("timestamp")
    counts = (
        t["orders"]
        .select(b.alias("bucket"), is_ref.alias("is_ref"))
        .groupBy("bucket")
        .agg(
            F.count_if("is_ref").alias("n_ref"),
            F.count_if(~F.col("is_ref")).alias("n_act"),
        )
    )
    grid = (
        spark.range(PSI_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_act", F.lit(0)).alias("n_act"),
        )
    )
    tot = grid.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_act").alias("t_act")
    )
    p_ref = (F.col("n_ref") + 1.0) / (F.col("t_ref") + PSI_BUCKETS)
    p_act = (F.col("n_act") + 1.0) / (F.col("t_act") + PSI_BUCKETS)
    return grid.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_ref",
        "n_act",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_act, 6).alias("p_act"),
        F.round((p_act - p_ref) * F.log(p_act / p_ref), 6).alias("psi_term"),
    )


@register(
    "dq_ks_drift",
    oracle=f"""
    WITH vals AS (
      SELECT o_totalprice AS v,
             SUM(CASE WHEN o_orderdate < TIMESTAMP '{PSI_SPLIT}'
                      THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN o_orderdate >= TIMESTAMP '{PSI_SPLIT}'
                      THEN 1 ELSE 0 END) AS nb
      FROM orders GROUP BY o_totalprice
    ),
    cum AS (
      SELECT v,
             SUM(na) OVER (ORDER BY v) AS ca,
             SUM(nb) OVER (ORDER BY v) AS cb
      FROM vals
    ),
    tot AS (SELECT SUM(na)::DOUBLE AS ta, SUM(nb)::DOUBLE AS tb FROM vals),
    d AS (SELECT v, round(abs(ca / ta - cb / tb), 6) AS dd FROM cum, tot),
    best AS (SELECT dd, v FROM d ORDER BY dd DESC, v ASC LIMIT 1)
    SELECT best.dd AS ks_stat,
           best.v AS at_value,
           (SELECT ta FROM tot)::BIGINT AS n_ref,
           (SELECT tb FROM tot)::BIGINT AS n_act
    FROM best
    """,
    tier="P2",
)
def dq_ks_drift(spark, t):
    """Two-sample Kolmogorov–Smirnov drift statistic between the same
    two order snapshots as ``dq_psi_drift``: the maximum vertical gap
    between the empirical CDFs of o_totalprice, the value where it
    occurs, and both sample sizes. KS complements PSI — PSI needs a
    bucket grid and tells you WHICH region moved; KS is bucket-free and
    gives the classical distribution-shift test statistic (compare
    √((n+m)/nm)·c(α) for significance).

    Scale shape: one groupBy collapses the table to |distinct values|
    rows carrying both samples' counts, then the running CDFs come from
    the two-phase distributed prefix sum (``two_phase_scan`` — a
    partition-less ``SUM() OVER (ORDER BY v)`` here would funnel every
    distinct price through ONE task, the round-1 win_ntile failure
    mode). The gap column rounds to 6 dp BEFORE the argmax so both
    engines pick the same location row. 100 TB cost: one scan + one
    |values|-sized two-phase pass.
    """
    from .windows import two_phase_scan

    is_ref = F.col("o_orderdate") < F.lit(PSI_SPLIT).cast("timestamp")
    # vals feeds the prefix-sum AND the totals; the prefix-sum helper
    # already caches its range-partitioned copy of vals (pid pinning),
    # so take that frame back (with_source) and aggregate the totals
    # from it — one cache layer, one orders scan. The r3 form cached
    # vals a second time on top; the two stacked materializations were
    # the round's one bench regression (0.91→1.18 s warm).
    vals = (
        t["orders"]
        .select(F.col("o_totalprice").alias("v"), is_ref.alias("is_ref"))
        .groupBy("v")
        .agg(
            F.count_if("is_ref").alias("na"),
            F.count_if(~F.col("is_ref")).alias("nb"),
        )
    )
    cum, src = two_phase_scan(
        vals, [F.asc("v")], ["na", "nb"], with_source=True
    )
    tot = src.agg(
        F.sum("na").cast("double").alias("ta"),
        F.sum("nb").cast("double").alias("tb"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "ta",
        "tb",
        F.round(
            F.abs(
                F.col("cum_na") / F.col("ta") - F.col("cum_nb") / F.col("tb")
            ),
            6,
        ).alias("dd"),
    )
    # max-then-argmax folded into ONE aggregate via lexicographic struct
    # max (dd desc, then -v ⇒ min v among ties) — one pass over d instead
    # of a max job plus an equality-join argmax job. The totals ride
    # along as first() (constant per row after the broadcast) rather
    # than re-deriving `tot` through a second cross join.
    best = d.agg(
        F.max(F.struct(F.col("dd"), (-F.col("v")).alias("nv"))).alias("b"),
        F.first("ta").alias("ta"),
        F.first("tb").alias("tb"),
    )
    return best.select(
        F.col("b.dd").alias("ks_stat"),
        (-F.col("b.nv")).alias("at_value"),
        F.col("ta").cast("bigint").alias("n_ref"),
        F.col("tb").cast("bigint").alias("n_act"),
    )


@register(
    "dq_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             COUNT(*)::DOUBLE AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    rowm AS (SELECT seg, SUM(n) AS rn FROM cells GROUP BY seg),
    colm AS (SELECT pri, SUM(n) AS cn FROM cells GROUP BY pri),
    tot AS (SELECT SUM(n) AS tn FROM cells)
    SELECT round(SUM((c.n - r.rn * m.cn / t.tn) * (c.n - r.rn * m.cn / t.tn)
                     / (r.rn * m.cn / t.tn)), 4) AS chi2,
           ((SELECT COUNT(*) FROM rowm) - 1)
             * ((SELECT COUNT(*) FROM colm) - 1) AS dof,
           (SELECT tn FROM tot)::BIGINT AS n
    FROM cells c
    JOIN rowm r USING (seg)
    JOIN colm m USING (pri)
    CROSS JOIN tot t
    """,
    tier="P2",
)
def dq_chi2_independence(spark, t):
    """Chi-square test of independence between customer market segment
    and order priority: Σ (observed − expected)²/expected over the
    segment × priority contingency table, with expected counts from the
    margins — the "are these two categoricals actually related?" audit
    behind feature selection and A/B sanity checks (compare chi2 to the
    χ²(dof) quantile).

    Scale shape: ONE fact-table aggregate builds the contingency table
    (cardinality |segments|×|priorities| — constant), and every margin,
    the total, and the statistic fold over that constant-size frame with
    broadcast joins. The fact table is touched exactly once; the
    dimension join broadcasts the customer projection's relevant columns
    only if small — here customer is the smaller side, but at 100 TB the
    orders→customer join would shuffle on custkey, still one exchange
    each, and everything downstream of `cells` stays constant-size.
    """
    # six downstream consumers (margins, total, dims, statistic) —
    # cache the constant-size contingency table so the fact join
    # computes once instead of being re-expanded per consumer
    cells = (
        t["orders"]
        .join(
            t["customer"],
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .cache()
    )
    rowm = cells.groupBy("seg").agg(F.sum("n").alias("rn"))
    colm = cells.groupBy("pri").agg(F.sum("n").alias("cn"))
    tot = cells.agg(F.sum("n").alias("tn"))
    nrows = rowm.agg(F.count(F.lit(1)).alias("n_seg"))
    ncols = colm.agg(F.count(F.lit(1)).alias("n_pri"))
    e = F.col("rn") * F.col("cn") / F.col("tn")
    return (
        cells.join(F.broadcast(rowm), "seg")
        .join(F.broadcast(colm), "pri")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((F.col("n") - e) * (F.col("n") - e) / e), 4).alias(
                "chi2"
            ),
            F.first(F.col("tn")).cast("bigint").alias("n"),
        )
        .crossJoin(F.broadcast(nrows))
        .crossJoin(F.broadcast(ncols))
        .select(
            "chi2",
            ((F.col("n_seg") - 1) * (F.col("n_pri") - 1)).alias("dof"),
            "n",
        )
    )


@register(
    "dq_benford_test",
    oracle="""
    WITH digits AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS d
      FROM orders
    ),
    obs AS (SELECT d, COUNT(*) AS n_obs FROM digits GROUP BY d),
    tot AS (SELECT SUM(n_obs)::DOUBLE AS n FROM obs)
    SELECT o.d AS digit, o.n_obs,
           round(o.n_obs / t.n, 6) AS p_obs,
           round(log10(1.0 + 1.0 / CAST(o.d AS BIGINT)), 6) AS p_benford,
           round((o.n_obs - t.n * log10(1.0 + 1.0 / CAST(o.d AS BIGINT)))
                 * (o.n_obs - t.n * log10(1.0 + 1.0 / CAST(o.d AS BIGINT)))
                 / (t.n * log10(1.0 + 1.0 / CAST(o.d AS BIGINT))), 6)
             AS chi2_term
    FROM obs o, tot t
    """,
    tier="P2",
)
def dq_benford_test(spark, t):
    """Benford's-law audit of the order amounts: observed first-digit
    frequencies against the log10(1+1/d) expectation, with each digit's
    chi-square contribution — the classic forensic screen for fabricated
    or systematically generated monetary data (synthetic uniform prices,
    like these fixtures', fail it loudly; that non-conformance report is
    the point).

    Only digits that occur appear (TPC-H prices start at ~1k, so no
    leading zeros issue); the expectation is computed, not hardcoded,
    with the same log10 on both engines. Shape: one map-side digit
    projection, one ≤9-row aggregate, one 1-row total crossJoin —
    constant-size everything after a single pruned-column pass.
    """
    d = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    )
    obs = (
        t["orders"]
        .select(d.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("double").alias("n"))
    p_exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("bigint"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs") / F.col("n"), 6).alias("p_obs"),
        F.round(p_exp, 6).alias("p_benford"),
        F.round(
            (F.col("n_obs") - F.col("n") * p_exp)
            * (F.col("n_obs") - F.col("n") * p_exp)
            / (F.col("n") * p_exp),
            6,
        ).alias("chi2_term"),
    )


@register(
    "etl_gdpr_erasure",
    oracle=f"""
    WITH erased_orders AS (
      SELECT o_orderkey FROM orders
      WHERE {ph60_sql("o_custkey", "gdpr")} % 20 = 0
    )
    SELECT 'customer' AS table_name,
           (SELECT COUNT(*) FROM customer) AS n_before,
           (SELECT COUNT(*) FROM customer
            WHERE {ph60_sql("c_custkey", "gdpr")} % 20 = 0) AS n_erased,
           (SELECT COUNT(*) FROM customer
            WHERE {ph60_sql("c_custkey", "gdpr")} % 20 <> 0) AS n_after
    UNION ALL
    SELECT 'orders',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders
            WHERE {ph60_sql("o_custkey", "gdpr")} % 20 = 0),
           (SELECT COUNT(*) FROM orders
            WHERE {ph60_sql("o_custkey", "gdpr")} % 20 <> 0)
    UNION ALL
    SELECT 'lineitem',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM erased_orders)),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM erased_orders))
    UNION ALL
    SELECT 'events',
           (SELECT COUNT(*) FROM events),
           (SELECT COUNT(*) FROM events
            WHERE {ph60_sql("user_id", "gdpr")} % 20 = 0),
           (SELECT COUNT(*) FROM events
            WHERE {ph60_sql("user_id", "gdpr")} % 20 <> 0)
    """,
    tier="P2",
)
def etl_gdpr_erasure(spark, t):
    """Right-to-be-forgotten erasure audit: for a deterministic erasure
    cohort (≈5 % of subjects, selected by ``ph60(key) % 20 = 0`` so the
    same subjects erase identically on every engine and run), the
    before/erased/after row counts across every table holding their
    data — INCLUDING the cascade (lineitems die with their erased
    orders, which carry no direct customer key). This count audit is
    the verification artifact a GDPR/CCPA deletion job must produce;
    the deletion itself is the same predicates applied as filters.

    Shape: direct-key tables audit with one conditional aggregate each
    (the predicate is a pure column expression — no erasure list is
    materialized or shuffled); the cascade table audits via a semi-join
    against the erased-order keys (broadcastable at 5 %; a key-bucketed
    layout makes it exchange-free at 100 TB). Report is |tables| rows.
    """
    erased = lambda c: ph60(c, "gdpr") % 20 == 0  # noqa: E731

    def direct(name, df, key):
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_before"),
            F.count_if(erased(key)).alias("n_erased"),
            F.count_if(~erased(key)).alias("n_after"),
        ).select("table_name", "n_before", "n_erased", "n_after")

    erased_orders = (
        t["orders"].filter(erased("o_custkey")).select("o_orderkey")
    )
    li = t["lineitem"].join(
        F.broadcast(erased_orders),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left",
    )
    cascade = li.agg(
        F.lit("lineitem").alias("table_name"),
        F.count(F.lit(1)).alias("n_before"),
        F.count_if(F.col("o_orderkey").isNotNull()).alias("n_erased"),
        F.count_if(F.col("o_orderkey").isNull()).alias("n_after"),
    ).select("table_name", "n_before", "n_erased", "n_after")
    return (
        direct("customer", t["customer"], "c_custkey")
        .unionByName(direct("orders", t["orders"], "o_custkey"))
        .unionByName(cascade)
        .unionByName(direct("events", t["events"], "user_id"))
    )


@register(
    "join_scd2_point_in_time",
    oracle="""
    WITH ch AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
             lag(o_orderpriority) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ),
    eras AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS valid_to
      FROM ch WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT e.priority AS era_priority,
           COUNT(DISTINCT e.custkey || '#' || CAST(e.valid_from AS VARCHAR))
             AS n_eras,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
             AS BIGINT) AS era_revenue_cents
    FROM eras e
    JOIN orders o
      ON o.o_custkey = e.custkey
     AND o.o_orderdate >= e.valid_from
     AND (e.valid_to IS NULL OR o.o_orderdate < e.valid_to)
    GROUP BY e.priority
    """,
    tier="P2",
)
def join_scd2_point_in_time(spark, t):
    """Point-in-time fact lookup against SCD2 dimension versions — the
    query historization exists FOR: every order joins the customer's
    priority-era that was valid AT its order date (half-open
    [valid_from, valid_to) containment, NULL = current), then revenue
    rolls up per era priority. Joining facts to today's dimension
    instead of the valid-at version is the classic silent-corruption
    bug in warehouse reporting; this operator is the correct pattern,
    hash-proved.

    The era build is the ``etl_scd2_history`` lag/lead construction
    inline; the containment join co-partitions both sides on custkey
    (one exchange each — per-customer fan-out is |eras/customer| ×
    |orders in era|, bounded by history, never cross-customer). The
    half-open boundary sends an order landing exactly on a change date
    to the NEW era, and zero-length eras (same-day changes) match
    nothing — both asserted by the oracle's identical predicates.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            "o_orderpriority",
            F.lag("o_orderpriority").over(w).alias("prev"),
        )
        .filter(
            F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
        )
    )
    eras = chg.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    o = t["orders"].select(
        F.col("o_custkey").alias("f_custkey"), "o_orderdate", "o_totalprice"
    )
    joined = eras.join(
        o,
        (F.col("custkey") == F.col("f_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
    )
    era_key = F.concat_ws(
        "#", F.col("custkey"), F.col("valid_from").cast("string")
    )
    return joined.groupBy(F.col("priority").alias("era_priority")).agg(
        F.countDistinct(era_key).alias("n_eras"),
        F.count(F.lit(1)).alias("n_orders"),
        # exact integer-cent fold (the 4-dp float round of a ~7e9 sum
        # flipped its last digit cross-engine at sf0.1 — r3 sweep)
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "era_revenue_cents"
        ),
    )


@register(
    "etl_reconcile_sources",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS k,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS order_cents
      FROM orders GROUP BY o_custkey
    ),
    e AS (
      SELECT user_id AS k,
             SUM(CAST(round(value * 100) AS BIGINT)) AS event_cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    j AS (
      SELECT COALESCE(o.k, e.k) AS custkey, o.order_cents, e.event_cents
      FROM o FULL JOIN e ON o.k = e.k
    )
    SELECT CASE
             WHEN order_cents IS NULL THEN 'events_only'
             WHEN event_cents IS NULL THEN 'orders_only'
             WHEN abs(order_cents - event_cents) * 100
                  <= greatest(order_cents, event_cents)
               THEN 'reconciled'
             ELSE 'drifted'
           END AS status,
           COUNT(*) AS n_customers,
           CAST(SUM(COALESCE(order_cents, 0)) AS BIGINT) AS orders_sum_cents,
           CAST(SUM(COALESCE(event_cents, 0)) AS BIGINT) AS events_sum_cents
    FROM j GROUP BY status
    """,
    tier="P2",
)
def etl_reconcile_sources(spark, t):
    """Cross-system reconciliation report: per customer, the order
    system's revenue vs the event system's purchase revenue, classified
    as reconciled (within 1 %), drifted, or present in only one system —
    the month-end control every finance/data team runs between a
    warehouse and its upstream, collapsed to a |status|-row summary
    with both systems' totals per class.

    One keyed aggregate per source, a full outer join on the entity
    key (preserving single-sided entities — the rows a plain inner
    join would silently hide), and a codegen CASE classifier. Money
    flows as integer CENTS end to end — per-entity sums, the 1 % band
    (|o-e|·100 ≤ max(o,e), pure integer arithmetic), and the per-class
    totals are all exact bigints, so no scale of data can push a
    double's last ulp across a rounding or classification boundary
    (the r3 sf0.1 sweep caught exactly that in the 4-dp float form).
    """
    cents = lambda c: F.round(F.col(c) * 100).cast("bigint")  # noqa: E731
    o = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(cents("o_totalprice")).alias("order_cents"))
    )
    e = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("ek"))
        .agg(F.sum(cents("value")).alias("event_cents"))
    )
    j = o.join(e, F.col("k") == F.col("ek"), "full")
    status = (
        F.when(F.col("order_cents").isNull(), "events_only")
        .when(F.col("event_cents").isNull(), "orders_only")
        .when(
            F.abs(F.col("order_cents") - F.col("event_cents")) * 100
            <= F.greatest("order_cents", "event_cents"),
            "reconciled",
        )
        .otherwise("drifted")
    )
    return (
        j.select(
            status.alias("status"),
            "order_cents",
            "event_cents",
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.coalesce("order_cents", F.lit(0))).alias(
                "orders_sum_cents"
            ),
            F.sum(F.coalesce("event_cents", F.lit(0))).alias(
                "events_sum_cents"
            ),
        )
    )


@register(
    "dq_functional_dependency",
    oracle="""
    WITH fd1 AS (
      SELECT 'orders: o_orderkey -> o_custkey' AS fd,
             COUNT(*) AS n_keys,
             CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_keys,
             MAX(d) AS max_distinct_rhs
      FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS d
            FROM orders GROUP BY o_orderkey)
    ),
    fd2 AS (
      SELECT 'customer: c_custkey -> c_mktsegment' AS fd,
             COUNT(*), CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
               AS BIGINT), MAX(d)
      FROM (SELECT c_custkey, COUNT(DISTINCT c_mktsegment) AS d
            FROM customer GROUP BY c_custkey)
    ),
    fd3 AS (
      SELECT 'lineitem: l_orderkey -> l_suppkey' AS fd,
             COUNT(*), CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
               AS BIGINT), MAX(d)
      FROM (SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS d
            FROM lineitem GROUP BY l_orderkey)
    ),
    fd4 AS (
      SELECT 'events: user_id -> event_type' AS fd,
             COUNT(*), CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
               AS BIGINT), MAX(d)
      FROM (SELECT user_id, COUNT(DISTINCT event_type) AS d
            FROM events GROUP BY user_id)
    )
    SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
    UNION ALL SELECT * FROM fd3 UNION ALL SELECT * FROM fd4
    ORDER BY fd
    """,
    tier="P2",
)
def dq_functional_dependency(spark, t):
    """Functional-dependency audit: for each declared A→B rule, how many
    A-keys map to more than one B value — the data-contract check behind
    "is this column still derivable from that key" (two rules here hold
    by schema design and must report zero; two are deliberately false
    and quantify the violation mass, which is what a profiler shows a
    data steward).

    Each rule is one (key, COUNT DISTINCT) aggregate folded to a 1-row
    summary — per-rule cost is a single hash exchange on the key, and
    the four summaries union into the ≤|rules|-row report. Adding a
    rule is appending a (table, lhs, rhs) triple.
    """
    rules = [
        ("orders: o_orderkey -> o_custkey", "orders", "o_orderkey", "o_custkey"),
        (
            "customer: c_custkey -> c_mktsegment",
            "customer",
            "c_custkey",
            "c_mktsegment",
        ),
        ("lineitem: l_orderkey -> l_suppkey", "lineitem", "l_orderkey", "l_suppkey"),
        ("events: user_id -> event_type", "events", "user_id", "event_type"),
    ]
    frames = []
    for fd_name, table, lhs, rhs in rules:
        per_key = (
            t[table]
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("d"))
        )
        frames.append(
            per_key.agg(
                F.lit(fd_name).alias("fd"),
                F.count(F.lit(1)).alias("n_keys"),
                F.sum(F.when(F.col("d") > 1, 1).otherwise(0)).alias(
                    "n_violating_keys"
                ),
                F.max("d").alias("max_distinct_rhs"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("fd")


@register(
    "etl_watermark_incremental_load",
    oracle="""
    WITH snap AS (
      SELECT o_orderstatus,
             COUNT(*) AS n_orders,
             round(SUM(o_totalprice), 4) AS revenue
      FROM orders
      WHERE o_orderdate <= TIMESTAMP '1998-06-30'
      GROUP BY o_orderstatus
    ),
    delta AS (
      SELECT o_orderstatus,
             COUNT(*) AS n_orders,
             round(SUM(o_totalprice), 4) AS revenue
      FROM orders
      WHERE o_orderdate > TIMESTAMP '1998-06-30'
        AND o_orderdate <= TIMESTAMP '1999-06-30'
      GROUP BY o_orderstatus
    )
    SELECT COALESCE(s.o_orderstatus, d.o_orderstatus) AS o_orderstatus,
           COALESCE(s.n_orders, 0) + COALESCE(d.n_orders, 0) AS n_orders,
           round(COALESCE(s.revenue, 0) + COALESCE(d.revenue, 0), 4)
             AS revenue,
           COALESCE(d.n_orders, 0) AS n_new_this_load
    FROM snap s FULL OUTER JOIN delta d USING (o_orderstatus)
    ORDER BY o_orderstatus
    """,
    tier="P2",
)
def etl_watermark_incremental_load(spark, t):
    """High-watermark incremental load: the nightly pattern where only
    rows newer than the last processed watermark are extracted and
    merged into the standing aggregate — simulated here with two fixed
    watermarks (≤1998-06-30 standing state, then the one-year delta),
    so the result is deterministic and the merge algebra is the part
    under test. The additivity merge (counts and sums add; see
    ``agg_incremental_merge`` for the partial-aggregate generalization)
    must reproduce exactly what a full recompute over the union window
    gives — the invariant test asserts that equivalence.

    Scale shape: the delta extract is a pushed-down range filter (only
    the new partition(s) read, cf. the partition pruning ops); the
    merge is a |groups|-row outer join, never a fact-table rescan of
    the standing side.
    """
    orders = t["orders"]
    lo = F.lit("1998-06-30").cast("timestamp_ntz")
    hi = F.lit("1999-06-30").cast("timestamp_ntz")

    def fold(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )

    snap = fold(orders.filter(F.col("o_orderdate") <= lo))
    delta = fold(
        orders.filter(
            (F.col("o_orderdate") > lo) & (F.col("o_orderdate") <= hi)
        )
    )
    s = snap.select(
        "o_orderstatus",
        F.col("n_orders").alias("sn"),
        F.col("revenue").alias("sr"),
    )
    d = delta.select(
        "o_orderstatus",
        F.col("n_orders").alias("dn"),
        F.col("revenue").alias("dr"),
    )
    return (
        s.join(d, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce("sn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_orders"
            ),
            F.round(
                F.coalesce("sr", F.lit(0.0)) + F.coalesce("dr", F.lit(0.0)), 4
            ).alias("revenue"),
            F.coalesce("dn", F.lit(0)).alias("n_new_this_load"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "etl_cdc_apply",
    oracle="""
    WITH log_d AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 7
    ),
    log_u AS (
      SELECT o_orderkey, round(o_totalprice * 1.1, 4) AS new_price
      FROM orders WHERE o_orderkey % 10 IN (3, 5)
    ),
    log_i AS (
      SELECT o_orderkey + 100000000 AS o_orderkey,
             round(o_totalprice / 2, 4) AS price,
             o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 9
    ),
    surv AS (
      SELECT b.o_orderkey, b.o_orderstatus,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.new_price
                  ELSE round(b.o_totalprice, 4) END AS final_price,
             CASE WHEN u.o_orderkey IS NOT NULL THEN 'updated'
                  ELSE 'base' END AS src
      FROM orders b
      LEFT JOIN log_u u ON u.o_orderkey = b.o_orderkey
      WHERE NOT EXISTS (SELECT 1 FROM log_d d
                        WHERE d.o_orderkey = b.o_orderkey)
    )
    SELECT o_orderkey, o_orderstatus, final_price, src FROM surv
    UNION ALL
    SELECT o_orderkey, o_orderstatus, price AS final_price,
           'inserted' AS src
    FROM log_i
    """,
    tier="P2",
)
def etl_cdc_apply(spark, t):
    """Apply a CDC change log (insert / update / delete op codes) onto a
    base snapshot — the missing third of the change-management trio
    (``etl_upsert_merge`` has no deletes; ``etl_scd2_history``
    versions instead of applying). The log is synthesized
    deterministically from the base (keys ≡7 mod 10 deleted, ≡3,5
    updated with a 10 % price lift, ≡9 spawning an insert under a new
    key) so the APPLY algebra is the part under test.

    Plan shape: updates are a left join on the key (log side is the
    small/delta side — broadcast in a real nightly), deletes a
    left-anti join, inserts a union — one pass over the base, no
    full-table rewrite of untouched rows beyond the scan itself, which
    is exactly the merge-on-read execution a lakehouse MERGE compiles
    to.
    """
    base = t["orders"]
    key = F.col("o_orderkey")
    log_d = base.filter(key % 10 == 7).select("o_orderkey")
    log_u = base.filter((key % 10).isin(3, 5)).select(
        "o_orderkey", F.round(F.col("o_totalprice") * 1.1, 4).alias("new_price")
    )
    log_i = base.filter(key % 10 == 9).select(
        (key + 100000000).alias("o_orderkey"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") / 2, 4).alias("final_price"),
        F.lit("inserted").alias("src"),
    )
    surv = (
        base.join(log_d, "o_orderkey", "left_anti")
        .join(log_u, "o_orderkey", "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("new_price").isNotNull(), F.col("new_price")
            ).otherwise(F.round("o_totalprice", 4)).alias("final_price"),
            F.when(F.col("new_price").isNotNull(), "updated")
            .otherwise("base")
            .alias("src"),
        )
    )
    return surv.unionByName(
        log_i.select("o_orderkey", "o_orderstatus", "final_price", "src")
    )


@register(
    "dq_monotonic_id_gap_check",
    oracle="""
    WITH ids AS (
      SELECT event_id,
             lag(event_id) OVER (ORDER BY event_id) AS prev_id
      FROM (SELECT DISTINCT event_id FROM events)
    )
    SELECT COUNT(*) AS n_ids,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           CAST(SUM(CASE WHEN event_id - prev_id > 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_gaps,
           CAST(COALESCE(MAX(event_id - prev_id) - 1, 0) AS BIGINT)
             AS max_gap,
           CAST(MAX(event_id) - MIN(event_id) + 1 - COUNT(*) AS BIGINT)
             AS n_missing
    FROM ids
    """,
    tier="P2",
)
def dq_monotonic_id_gap_check(spark, t):
    """Sequence-integrity audit on the event id: gap count, widest gap,
    and total missing ids across the observed range — the ingestion
    completeness check for any source that promises a monotonically
    assigned id (a sudden gap is a dropped batch; the total-missing
    figure is what reconciliation tickets quote).

    The oracle's global lag is the specification; the engine computes
    every figure WITHOUT a global sort: total missing = range − count
    (pure min/max/count aggregates), and the gap census partitions ids
    into range buckets whose boundaries are audited separately — here,
    with ids dense by construction, the distributed form reduces to
    the same aggregates, and the lag runs on the DISTINCT id frame: over
    distinct ascending ids the previous id IS the exclusive running max,
    so it comes from ``two_phase_scan``.
    """
    from .windows import two_phase_scan

    ids = t["events"].select("event_id").distinct()
    gaps = two_phase_scan(
        ids, [F.asc("event_id")], ["event_id"], agg="max", inclusive=False
    ).withColumnRenamed("cum_event_id", "prev_id")
    diff = F.col("event_id") - F.col("prev_id")
    return gaps.agg(
        F.count(F.lit(1)).alias("n_ids"),
        F.min("event_id").cast("bigint").alias("min_id"),
        F.max("event_id").cast("bigint").alias("max_id"),
        F.sum(F.when(diff > 1, 1).otherwise(0)).alias("n_gaps"),
        F.coalesce(F.max(diff) - 1, F.lit(0)).cast("bigint").alias("max_gap"),
        (F.max("event_id") - F.min("event_id") + 1 - F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_missing"),
    )


@register(
    "etl_ivm_join_delta",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tier="P2",
)
def etl_ivm_join_delta(spark, t):
    """Incremental view maintenance for a JOIN view (the delta rule) —
    the join-side companion of ``pipeline_lakehouse_ivm`` /
    ``lake_incremental_rollup``, which maintain aggregate-only views:
    a revenue-per-priority view over orders ⋈ lineitem is maintained
    across three arrival batches using ONLY delta joins, never a full
    O ⋈ L recompute.

    Arrival times are deterministic and DECORRELATED (an order arrives
    at batch ``o_orderkey % 3``; its line items at
    ``(l_orderkey + l_linenumber) % 3``) so the late-arriving-fact case
    is exercised in both directions. Batch t contributes
    ``ΔO_t ⋈ L_{≤t}  ∪  O_{<t} ⋈ ΔL_t`` — each matched (order, line)
    pair is produced at exactly ``max(arrival_o, arrival_l)`` and never
    twice, so the folded partial aggregates must hash-equal the batch
    answer over the full join, which IS the oracle (the standard IVM
    correctness statement, V = fold(ΔV_t)).

    Scale posture: this is the nightly-ingest shape at 100 TB — per
    batch you join a day's delta (small, broadcastable side) against
    the key-partitioned accumulated table instead of recomputing the
    view; each delta row flows through maintenance exactly once; the
    per-batch partial aggregate is |priority|-bounded, and the final
    fold is a union of three tiny frames. The engine aggregates each
    delta join IMMEDIATELY (pairs never accumulate raw), mirroring how
    the lake-log variant folds per-commit partials.
    """
    orders = t["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderkey") % 3).alias("arr_o"),
    )
    lines = t["lineitem"].select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 3).alias("arr_l"),
    )
    partials = None
    for step in range(3):
        d_o = orders.filter(F.col("arr_o") == step)
        d_l = lines.filter(F.col("arr_l") == step)
        seen_l = lines.filter(F.col("arr_l") <= step)
        prev_o = orders.filter(F.col("arr_o") < step)
        delta_pairs = d_o.join(
            seen_l, d_o["o_orderkey"] == seen_l["l_orderkey"]
        ).unionByName(
            prev_o.join(d_l, prev_o["o_orderkey"] == d_l["l_orderkey"])
        )
        part = delta_pairs.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("cents").alias("rev_cents"),
        )
        partials = part if partials is None else partials.unionByName(part)
    return partials.groupBy("o_orderpriority").agg(
        F.sum("n_pairs").alias("n_pairs"),
        F.sum("rev_cents").alias("rev_cents"),
    )


@register(
    "etl_late_arriving_dimension",
    oracle="""
    WITH referenced AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_early
      FROM orders GROUP BY o_custkey
    )
    SELECT r.o_custkey AS c_custkey,
           c.c_name AS final_name,
           CAST(c.c_nationkey AS INT) AS final_nationkey,
           CASE WHEN r.o_custkey % 3 = 0 AND r.n_early > 0
                THEN 1 ELSE 0 END AS was_inferred,
           CASE WHEN r.o_custkey % 3 = 0 THEN r.n_early ELSE 0 END
             AS n_facts_while_inferred,
           r.n_orders
    FROM referenced r JOIN customer c ON c.c_custkey = r.o_custkey
    """,
    tier="P2",
)
def etl_late_arriving_dimension(spark, t):
    """Late-arriving dimension handling (Kimball's 'early-arriving
    fact' pattern): facts reference dimension keys whose attribute
    rows have not landed yet, so the load must (1) insert INFERRED
    placeholder members for unknown keys rather than dropping or
    orphaning facts, (2) count the facts that accrued against a
    placeholder, and (3) type-1 backfill the real attributes when the
    late dimension batch arrives — keeping the inferred-origin flag
    for audit.

    The engine RUNS the state machine: dim batch 1 is the on-time
    customers (c_custkey % 3 != 0), early facts (o_orderdate <
    1997-01-01) LEFT ANTI join against it to discover unknown keys,
    placeholders are unioned in with NULL attributes + inferred flag,
    then the late batch (the % 3 == 0 rows) merges type-1 over the
    placeholders (COALESCE backfill preserving the flag) before the
    remaining facts land. The oracle computes the same end state in
    closed form — the hash proves the anti-join discovery, the union,
    and the backfill merge reconstruct exactly the final dimension.

    Scale: one aggregation over facts (map-side combinable, keyed on
    the dimension key) + anti/equi joins that AQE broadcasts once the
    dim side fits; placeholders are bounded by |referenced keys|. This
    is the nightly shape: the expensive side is always the fact scan,
    and it is touched exactly once per phase.
    """
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    early = t["orders"].filter(F.col("o_orderdate") < cutoff)
    late_facts = t["orders"].filter(F.col("o_orderdate") >= cutoff)
    dim_on_time = t["customer"].filter(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", "c_name", "c_nationkey", F.lit(0).alias("was_inferred")
    )
    dim_late = t["customer"].filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_name", "c_nationkey"
    )
    # phase 1: early facts arrive; unknown keys become inferred members
    inferred = (
        early.select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .join(dim_on_time.select("c_custkey"), "c_custkey", "left_anti")
        .select(
            "c_custkey",
            F.lit(None).cast("string").alias("c_name"),
            F.lit(None).cast("int").alias("c_nationkey"),
            F.lit(1).alias("was_inferred"),
        )
    )
    facts_while_inferred = (
        early.join(
            inferred.select("c_custkey"),
            early["o_custkey"] == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_facts_while_inferred"))
    )
    dim_v1 = dim_on_time.unionByName(inferred)
    # phase 2: the late dimension batch MERGES — type-1 backfill of
    # matched placeholders, plain insert of members nobody inferred
    # (keys whose first fact arrives after the late batch)
    dim_final = (
        dim_v1.alias("d")
        .join(dim_late.alias("l"), "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("l.c_name"), F.col("d.c_name")).alias(
                "final_name"
            ),
            F.coalesce(F.col("l.c_nationkey"), F.col("d.c_nationkey"))
            .cast("int")
            .alias("final_nationkey"),
            F.col("d.was_inferred").alias("was_inferred"),
        )
        .unionByName(
            dim_late.join(dim_v1.select("c_custkey"), "c_custkey", "left_anti")
            .select(
                "c_custkey",
                F.col("c_name").alias("final_name"),
                F.col("c_nationkey").cast("int").alias("final_nationkey"),
                F.lit(0).alias("was_inferred"),
            )
        )
    )
    # all facts (early + late batch) against the final dimension state
    n_orders = (
        early.unionByName(late_facts)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        dim_final.join(n_orders, "c_custkey")  # referenced members only
        .join(facts_while_inferred, "c_custkey", "left")
        .select(
            "c_custkey",
            "final_name",
            "final_nationkey",
            "was_inferred",
            F.coalesce("n_facts_while_inferred", F.lit(0)).alias(
                "n_facts_while_inferred"
            ),
            "n_orders",
        )
    )


@register(
    "etl_data_vault_load",
    oracle="""
    WITH hub_c AS (
      SELECT md5('cust:' || c_custkey) AS hk FROM customer
    ),
    hub_o AS (
      SELECT md5('ord:' || o_orderkey) AS hk FROM orders
    ),
    lnk AS (
      SELECT DISTINCT md5('link:' || o_orderkey || ':' || o_custkey) AS hk
      FROM orders
    ),
    sat_rows AS (
      SELECT c_custkey,
             md5(c_name || '|'
                 || CAST(round(c_acctbal * 100) AS BIGINT)) AS hd
      FROM customer
      UNION ALL
      SELECT c_custkey,
             md5(c_name || '|'
                 || CAST(round(c_acctbal * 100) AS BIGINT) + 10000) AS hd
      FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT 'hub_customer' AS artifact,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT hk) AS BIGINT) AS n_keys,
           MIN(hk) AS min_hk
    FROM hub_c
    UNION ALL
    SELECT 'hub_order', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT hk) AS BIGINT), MIN(hk) FROM hub_o
    UNION ALL
    SELECT 'link_order_customer', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT hk) AS BIGINT), MIN(hk) FROM lnk
    UNION ALL
    SELECT 'sat_customer', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT), MIN(hd)
    FROM sat_rows
    """,
    tier="P2",
)
def etl_data_vault_load(spark, t):
    """Data Vault 2.0 raw-vault load — the hash-keyed warehouse
    modeling family (hubs = business keys, links = relationships,
    satellites = attribute history with hashdiff change detection)
    that complements the Kimball-star operators (`etl_scd2_history`,
    `join_scd2_point_in_time`, `etl_late_arriving_dimension`):

    * ``hub_customer`` / ``hub_order``: md5 hash keys over the
      business keys — hash keys exist so loads parallelize with NO
      sequence bottleneck and hubs/links load independently;
    * ``link_order_customer``: distinct relationship hash keys;
    * ``sat_customer``: the engine RUNS the two-load state machine —
      initial attribute load, then a delta batch where every 5th
      customer's balance shifted (+100); the satellite INSERTs a new
      version only where the md5 HASHDIFF differs (the Data Vault
      change-detection idiom), so changed keys carry 2 versions and
      unchanged keys 1.

    Hashdiff inputs fold the money column to integer CENTS before
    hashing — hashing a double's string render would be an engine-
    formatting seam. The oracle rebuilds all four artifacts closed-
    form; min_hk pins the actual md5 key bytes, so a wrong
    concatenation order or separator cannot hash-match.

    Scale: every artifact load is one scan + one keyed dedup/agg —
    hash-keyed vault loads are embarrassingly parallel BY DESIGN
    (their selling point over sequence-keyed dimensions), and the
    satellite's anti-join-by-hashdiff broadcasts the delta batch.
    """
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    hub_c = t["customer"].select(
        F.md5(F.concat(F.lit("cust:"), F.col("c_custkey"))).alias("hk")
    )
    hub_o = t["orders"].select(
        F.md5(F.concat(F.lit("ord:"), F.col("o_orderkey"))).alias("hk")
    )
    lnk = t["orders"].select(
        F.md5(
            F.concat(
                F.lit("link:"),
                F.col("o_orderkey"),
                F.lit(":"),
                F.col("o_custkey"),
            )
        ).alias("hk")
    ).distinct()
    load1 = t["customer"].select(
        "c_custkey",
        F.md5(F.concat(F.col("c_name"), F.lit("|"), cents)).alias("hd"),
    )
    # delta batch: every 5th customer's balance moved by +100.00
    load2 = (
        t["customer"]
        .filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            F.md5(
                F.concat(F.col("c_name"), F.lit("|"), cents + 10000)
            ).alias("hd"),
        )
    )
    # satellite state machine: insert delta rows whose hashdiff differs
    # from the key's current version (all of load2 here — the join IS
    # the change detection, not an assumption)
    changed = load2.join(
        load1.withColumnRenamed("hd", "hd_cur"), "c_custkey"
    ).filter(F.col("hd") != F.col("hd_cur")).select("c_custkey", "hd")
    sat = load1.unionByName(changed)

    def stats(df, name, key_col, hk_col):
        return df.agg(
            F.lit(name).alias("artifact"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key_col).alias("n_keys"),
            F.min(hk_col).alias("min_hk"),
        ).select("artifact", "n_rows", "n_keys", "min_hk")

    return (
        stats(hub_c, "hub_customer", "hk", "hk")
        .unionByName(stats(hub_o, "hub_order", "hk", "hk"))
        .unionByName(stats(lnk, "link_order_customer", "hk", "hk"))
        .unionByName(stats(sat, "sat_customer", "c_custkey", "hd"))
    )


#: the rules-as-data table for ``dq_rules_engine``: every rule is DATA
#: (id, column, predicate kind, threshold), compiled into ONE projection
#: at plan-build time. Adding a rule is a row edit, not a code change.
DQ_RULES: list[tuple[str, str, str, object]] = [
    ("r1_price_positive", "o_totalprice", "gt", 0.0),
    ("r2_date_not_null", "o_orderdate", "not_null", None),
    ("r3_priority_in_set", "o_orderpriority", "in_set",
     ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
    ("r4_price_below_cap", "o_totalprice", "le", 600000.0),
    ("r5_status_known", "o_orderstatus", "rlike", r"^[OFP]$"),
]


@register(
    "dq_rules_engine",
    oracle="""
    WITH checked AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders)
    SELECT 'r1_price_positive' AS rule_id, checked.n AS n_checked,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE NOT (o_totalprice > 0.0)) AS n_violations
    FROM checked
    UNION ALL
    SELECT 'r2_date_not_null', checked.n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderdate IS NULL)
    FROM checked
    UNION ALL
    SELECT 'r3_priority_in_set', checked.n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderpriority NOT IN
              ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
               '5-LOW') OR o_orderpriority IS NULL)
    FROM checked
    UNION ALL
    SELECT 'r4_price_below_cap', checked.n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE NOT (o_totalprice <= 600000.0))
    FROM checked
    UNION ALL
    SELECT 'r5_status_known', checked.n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE NOT regexp_matches(o_orderstatus, '^[OFP]$')
               OR o_orderstatus IS NULL)
    FROM checked
    """,
    tier="P2",
)
def dq_rules_engine(spark, t):
    """Rules-as-DATA quality engine: the validation rules live in a
    declarative table (``DQ_RULES`` — id, column, predicate kind,
    threshold) and are COMPILED into one projection over the fact
    table, then unpivoted to a per-rule violation report. This is the
    Deequ/Great-Expectations shape: analysts add rows to a rule table;
    nobody writes a new query per rule.

    The scale decision is compile-don't-join: the naive rules engine
    cross-joins facts × rules (an R× scan amplification); this one
    turns each rule row into one boolean column in a SINGLE pass
    (violations are 0/1 sums — map-side combinable), then ``stack``s
    the R per-rule sums out of ONE result row. Rule semantics follow
    the DQ convention that NULL fails any value rule (violation =
    NOT(pred) OR pred IS NULL — Spark's ternary logic would otherwise
    silently pass NULLs).

    The oracle evaluates each rule as an independent closed-form
    count, so a mis-compiled predicate (or a NULL slipping through the
    ternary seam) cannot hash-match.
    """
    import re as _re

    def violation(col: str, kind: str, arg) -> F.Column:
        c = F.col(col)
        if kind == "gt":
            ok = c > F.lit(arg)
        elif kind == "le":
            ok = c <= F.lit(arg)
        elif kind == "in_set":
            ok = c.isin(*arg)
        elif kind == "rlike":
            ok = c.rlike(arg)
        elif kind == "not_null":
            return F.when(c.isNull(), 1).otherwise(0)
        else:
            raise ValueError(f"unknown rule kind: {kind}")
        # NULL fails any value rule (DQ convention)
        return F.when(ok, 0).otherwise(1)

    sums = t["orders"].agg(
        F.count(F.lit(1)).alias("n_checked"),
        *[
            F.sum(violation(col, kind, arg)).alias(rule_id)
            for rule_id, col, kind, arg in DQ_RULES
        ],
    )
    stack_expr = ", ".join(f"'{r[0]}', {r[0]}" for r in DQ_RULES)
    return sums.select(
        F.expr(
            f"stack({len(DQ_RULES)}, {stack_expr}) AS (rule_id, n_violations)"
        ),
        "n_checked",
    ).select("rule_id", "n_checked", "n_violations")



@register(
    "etl_bitemporal_snapshot",
    oracle="""
    WITH anchor AS (
      SELECT date_trunc('day', MIN(ts)) AS t0 FROM events
    ),
    dim AS (
      SELECT user_id, event_type, ts AS valid_ts,
             ts + to_hours(CAST(
               ('0x' || substr(md5('late:' || CAST(event_id AS VARCHAR)),
                  1, 15))::ubigint % 72 AS BIGINT)) AS load_ts
      FROM events
    ),
    params AS (
      SELECT t0 + INTERVAL 15 DAY AS t_valid,
             t0 + INTERVAL 16 DAY AS t_known
      FROM anchor
    ),
    known AS (
      SELECT d.user_id, d.event_type,
             row_number() OVER (PARTITION BY d.user_id
                                ORDER BY d.valid_ts DESC,
                                         d.load_ts DESC) AS rk
      FROM dim d CROSS JOIN params p
      WHERE d.valid_ts <= p.t_valid AND d.load_ts <= p.t_known
    ),
    final AS (
      SELECT d.user_id, d.event_type,
             row_number() OVER (PARTITION BY d.user_id
                                ORDER BY d.valid_ts DESC,
                                         d.load_ts DESC) AS rk
      FROM dim d CROSS JOIN params p
      WHERE d.valid_ts <= p.t_valid
    )
    SELECT k.event_type AS state_at_snapshot,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) FILTER (f.event_type <> k.event_type)
                AS BIGINT) AS n_revised_later
    FROM known k
    JOIN final f ON f.user_id = k.user_id AND f.rk = 1
    WHERE k.rk = 1
    GROUP BY k.event_type
    ORDER BY state_at_snapshot
""",
    tier="P2",
)
def etl_bitemporal_snapshot(spark, t):
    """BITEMPORAL point-in-time query — the two-clock question every
    late-arriving warehouse eventually faces: "what was each user's
    state at business time T₁, AS WE KNEW IT at wall-clock time T₂ —
    and which of those answers were later revised by late data?" The
    dimension carries both clocks: valid time = the event's own ts;
    transaction (load) time = ts plus a deterministic 0–72 h arrival
    delay (hash-derived, so both engines replay the same late-data
    tape). The snapshot is the latest row per user with valid_ts ≤ T₁
    AND load_ts ≤ T₂; joining it against the eventually-complete
    answer (load filter dropped) counts the revisions per state —
    the audit that tells you how much your T₂ reports drift.

    Scale shape: both as-of reductions are one window rank per user
    partition (the SCD2/as-of idiom — per-key frames, no global sort);
    the params frame is a broadcast 1-row cross-join; the final
    join is keyed on user. Complements `etl_late_arriving_dimension`
    (which REPAIRS late rows) and `join_scd2_point_in_time` (one
    clock) with the two-clock read path.
    """
    from ..functions.portable_hash import ph60
    from pyspark.sql import Window

    anchor = t["events"].agg(
        F.date_trunc("day", F.min("ts")).alias("t0")
    )
    params = anchor.select(
        (F.col("t0") + F.expr("INTERVAL 15 DAY")).alias("t_valid"),
        (F.col("t0") + F.expr("INTERVAL 16 DAY")).alias("t_known"),
    )
    dim = t["events"].select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_ts"),
        (
            F.col("ts")
            + F.make_dt_interval(hours=ph60("event_id", "late") % 72)
        ).alias("load_ts"),
    ).crossJoin(F.broadcast(params))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("valid_ts"), F.desc("load_ts")
    )
    known = (
        dim.filter(
            (F.col("valid_ts") <= F.col("t_valid"))
            & (F.col("load_ts") <= F.col("t_known"))
        )
        .withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", F.col("event_type").alias("state_at_snapshot"))
    )
    final = (
        dim.filter(F.col("valid_ts") <= F.col("t_valid"))
        .withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", F.col("event_type").alias("state_final"))
    )
    return (
        known.join(final, "user_id")
        .groupBy("state_at_snapshot")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(
                F.when(
                    F.col("state_final") != F.col("state_at_snapshot"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_revised_later"),
        )
        .orderBy("state_at_snapshot")
    )



@register(
    "dq_record_linkage_fs",
    oracle="""
    WITH rec AS (
      SELECT c_custkey, c_nationkey, len(c_name) AS name_len,
             substr(c_name, 1, 12) AS name_pfx,
             c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
      FROM customer
    ),
    pairs AS (
      SELECT (CASE WHEN a.name_pfx = b.name_pfx THEN 6 ELSE -2 END)
           + (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 3 ELSE -3 END)
           + (CASE WHEN a.bal_bucket = b.bal_bucket THEN 4 ELSE -1 END)
             AS weight
      FROM rec a JOIN rec b
        ON a.c_nationkey = b.c_nationkey
       AND a.name_len = b.name_len
       AND a.c_custkey < b.c_custkey
    )
    SELECT CASE WHEN weight >= 8 THEN 'link'
                WHEN weight >= 3 THEN 'possible'
                ELSE 'non-link' END AS verdict,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(SUM(weight) * 1.0 / COUNT(*), 4) AS mean_weight,
           CAST(MIN(weight) AS BIGINT) AS min_weight,
           CAST(MAX(weight) AS BIGINT) AS max_weight
    FROM pairs
    GROUP BY 1
    ORDER BY verdict
""",
    tier="P2",
)
def dq_record_linkage_fs(spark, t):
    """Probabilistic record linkage, Fellegi-Sunter style — the entity-
    resolution workhorse behind every customer-360 merge: candidate
    pairs come from BLOCKING (equi-join on (nation, name length) — the
    move that turns an O(n²) all-pairs compare into collision-local
    work, exactly like LSH banding does for documents), each pair
    scores a sum of per-field agreement/disagreement log-odds weights
    (name prefix ±, segment ±, balance bucket ±, frozen integer
    approximations of ln(m/u)), and the score thresholds into
    link / possible / non-link — the three-way F-S decision rule.

    Scale shape: the self-join shuffles on the block key, so pair
    fan-out is bounded per block (never the table square); the weight
    is per-row integer math and the verdict rollup is 3 groups,
    map-side combined. Exactness: integer weights, integer sums, ONE
    mean division. `join_fuzzy_name` is the edit-distance complement
    (fuzzy comparator, tiny-dim broadcast); this is the scaled
    blocking+scoring frame those comparators plug into.
    """
    rec = t["customer"].select(
        "c_custkey",
        "c_nationkey",
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 12).alias("name_pfx"),
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_bucket"),
    )
    a, b = rec.alias("a"), rec.alias("b")
    weight = (
        F.when(F.col("a.name_pfx") == F.col("b.name_pfx"), 6).otherwise(-2)
        + F.when(
            F.col("a.c_mktsegment") == F.col("b.c_mktsegment"), 3
        ).otherwise(-3)
        + F.when(
            F.col("a.bal_bucket") == F.col("b.bal_bucket"), 4
        ).otherwise(-1)
    )
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.name_len") == F.col("b.name_len"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(weight.alias("weight"))
    verdict = (
        F.when(F.col("weight") >= 8, "link")
        .when(F.col("weight") >= 3, "possible")
        .otherwise("non-link")
    )
    return (
        pairs.groupBy(verdict.alias("verdict"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.sum("weight") * 1.0 / F.count(F.lit(1)), 4).alias(
                "mean_weight"
            ),
            F.min("weight").cast("bigint").alias("min_weight"),
            F.max("weight").cast("bigint").alias("max_weight"),
        )
        .orderBy("verdict")
    )


@register(
    "dq_wasserstein_drift",
    oracle="""
    WITH tagged AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 'a' ELSE 'b' END
               AS win,
             LEAST(49, CAST(floor(value / 10.0) AS INTEGER)) AS bin
      FROM events
    ),
    cnt AS (
      SELECT event_type, bin,
             COUNT(*) FILTER (win = 'a') AS na,
             COUNT(*) FILTER (win = 'b') AS nb
      FROM tagged GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin,
             SUM(na) OVER (PARTITION BY event_type ORDER BY bin) AS ca,
             SUM(nb) OVER (PARTITION BY event_type ORDER BY bin) AS cb,
             SUM(na) OVER (PARTITION BY event_type) AS ta,
             SUM(nb) OVER (PARTITION BY event_type) AS tb,
             lead(bin) OVER (PARTITION BY event_type ORDER BY bin)
               AS nxt
      FROM cnt
    )
    SELECT event_type,
           CAST(MAX(ta) AS BIGINT) AS n_a,
           CAST(MAX(tb) AS BIGINT) AS n_b,
           CAST(SUM(abs(ca * tb - cb * ta) * (nxt - bin)) AS BIGINT)
             AS w1_scaled,
           round(SUM(abs(ca * tb - cb * ta) * (nxt - bin)) * 10.0
                 / (MAX(ta) * MAX(tb)), 4) AS w1
    FROM cum WHERE nxt IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    tier="P2",
)
def dq_wasserstein_drift(spark, t):
    """1-D WASSERSTEIN (earth mover's) drift between the first two
    weeks and the rest of the month, per event type — the drift metric
    that sees what KS and PSI miss: KS reports only the worst single
    CDF gap and PSI only per-bin log-ratios, while W1 = integral
    |CDF_a - CDF_b| measures how FAR the mass moved, in value units —
    the number a monitoring SLO can threshold. Completes the drift
    triptych with ``dq_ks_drift`` / ``dq_psi_drift``.

    Exactness: values quantize to 10-unit bins; the CDF integral is
    computed over the SPARSE bin frame with each gap weighted by its
    span (lead(bin) - bin), cross-multiplied to the common denominator
    n_a*n_b so every term is an exact BIGINT — one division at display
    time. Scale shape: one map-side-combined (type, bin) fold bounds
    the shuffle at |types| x 50 rows; the windows run over that
    constant frame.
    """
    tagged = t["events"].select(
        "event_type",
        F.when(
            F.col("ts") < F.lit("2024-01-15").cast("timestamp"), "a"
        ).otherwise("b").alias("win"),
        F.least(
            F.lit(49), F.floor(F.col("value") / 10.0).cast("int")
        ).alias("bin"),
    )
    cnt = tagged.groupBy("event_type", "bin").agg(
        F.sum((F.col("win") == "a").cast("int")).alias("na"),
        F.sum((F.col("win") == "b").cast("int")).alias("nb"),
    )
    wo = Window.partitionBy("event_type").orderBy("bin")
    wall = Window.partitionBy("event_type")
    cum = cnt.select(
        "event_type",
        "bin",
        F.sum("na").over(wo).alias("ca"),
        F.sum("nb").over(wo).alias("cb"),
        F.sum("na").over(wall).alias("ta"),
        F.sum("nb").over(wall).alias("tb"),
        F.lead("bin").over(wo).alias("nxt"),
    )
    term = F.abs(
        F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")
    ) * (F.col("nxt") - F.col("bin"))
    return (
        cum.filter(F.col("nxt").isNotNull())
        .groupBy("event_type")
        .agg(
            F.max("ta").cast("bigint").alias("n_a"),
            F.max("tb").cast("bigint").alias("n_b"),
            F.sum(term).cast("bigint").alias("w1_scaled"),
            F.round(
                F.sum(term) * 10.0 / (F.max("ta") * F.max("tb")), 4
            ).alias("w1"),
        )
        .orderBy("event_type")
    )

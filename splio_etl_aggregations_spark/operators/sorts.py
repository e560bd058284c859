"""Sort / limit / top-k (SURVEY.md §2-F)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.helpers import r4, topk
from ..registry import register


@register(
    "sort_multi_key",
    oracle="""
    SELECT c_custkey, c_acctbal, c_mktsegment
    FROM customer
    ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC
    """,
    tier="P1",
)
def sort_multi_key(spark, t):
    """Multi-key sort with explicit null placement (range-partitioned
    TakeOrdered-style total sort; content is what the hash checks)."""
    return (
        t["customer"]
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .orderBy(F.desc_nulls_last("c_acctbal"), F.asc("c_custkey"))
    )


@register(
    "limit_topk_global",
    oracle="""
    SELECT c.c_custkey, c.c_name, round(SUM(o.o_totalprice), 4) AS spend
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY spend DESC, c.c_custkey
    LIMIT 10
    """,
    tier="P0",
)
def limit_topk_global(spark, t):
    """Global top-10 customers by spend. Sort+limit compiles to
    TakeOrderedAndProject — per-partition top-k then driver merge, never a
    full sort (asserted in tests/test_plans.py). The orders fact folds to
    per-customer spend BEFORE the customer join (map-side combine; the
    join then carries one row per customer, not one per order — the r3
    reduce-before-fanout rewrite, 0.42 s → 0.26 s warm at sf0.1)."""
    s = t["orders"].groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("s")
    )
    spend = s.join(
        t["customer"], F.col("o_custkey") == F.col("c_custkey")
    ).select("c_custkey", "c_name", r4(F.col("s")).alias("spend"))
    return topk(spend, [F.desc("spend"), F.asc("c_custkey")], 10)


@register(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 10
    """,
    tier="P2",
)
def limit_offset(spark, t):
    """Pagination over a deterministic total order, via the SQL surface."""
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10 OFFSET 10
        """
    )


@register(
    "sort_skyline_pareto",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE (q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size)
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_retailprice, p.p_partkey
    """,
    tier="P2",
)
def sort_skyline_pareto(spark, t):
    """Skyline / Pareto frontier of parts on (price ↓ better, size ↑
    better): the parts no other part strictly dominates — the classic
    multi-criteria shortlist operator (cheapest-for-its-size curve).

    The oracle states the O(n²) NOT-EXISTS *specification*; the engine
    computes it in O(n log n) shuffle work with NO self-join: group to
    per-price max sizes, take an EXCLUSIVE running max over ascending
    price via ``two_phase_scan`` (never a partition-less window over
    data), and join it back: a part is dominated iff the best size at a
    strictly lower price already matches it (m< ≥ size) or a same-price
    part strictly beats it (max_at_price > size). At 100 TB this is two
    hash exchanges keyed on price; the quadratic form never materializes.
    """
    from .windows import two_phase_scan

    parts = t["part"].select("p_partkey", "p_retailprice", "p_size")
    g = parts.groupBy("p_retailprice").agg(F.max("p_size").alias("mx"))
    cum = two_phase_scan(
        g, [F.asc("p_retailprice")], ["mx"], agg="max", inclusive=False
    ).withColumnRenamed("cum_mx", "m_lt")
    joined = parts.join(cum, "p_retailprice")
    dominated = (F.col("m_lt") >= F.col("p_size")) | (
        F.col("mx") > F.col("p_size")
    )
    return (
        joined.filter(~F.coalesce(dominated, F.lit(False)))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )

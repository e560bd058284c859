"""Unit tests for the round-8 operator additions (SURVEY.md §5.3-1):
property checks plus hand-recomputation of one representative value per
operator, on the sf0.001 fixture (small enough to recompute driver-side)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from splio_etl_aggregations_spark import register_all
from splio_etl_aggregations_spark.sources.loader import load
from splio_etl_aggregations_spark.registry import all_queries

from .conftest import SF_SMALL

register_all()
Q = all_queries()


def _ph60(seed: str, x) -> int:
    return int(hashlib.md5(f"{seed}:{x}".encode()).hexdigest()[:15], 16)


# ------------------------------------------------------------ ml family

def test_chi2_top_token_recomputes_by_hand(spark):
    rows = Q["ml_chi2_feature_selection"].run(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    chis = [r["chi2"] for r in rows]
    assert chis == sorted(chis, reverse=True)
    # hand-recompute the top token's statistic from raw presence counts
    docs = load(spark, SF_SMALL)["documents"].select("doc_id", "lang", "text").collect()
    n = len(docs)
    e = sum(1 for d in docs if d["lang"] == "en")
    top = rows[0]["token"]
    n11 = sum(1 for d in docs if d["lang"] == "en" and top in d["text"].split(" "))
    n10 = sum(1 for d in docs if d["lang"] != "en" and top in d["text"].split(" "))
    n01, n00 = e - n11, (n - e) - n10
    det = n11 * n00 - n10 * n01
    chi2 = n * det * det / ((n11 + n10) * (n01 + n00) * (n11 + n01) * (n10 + n00))
    assert abs(rows[0]["chi2"] - chi2) < 1e-3
    assert rows[0]["docs_en"] == n11 and rows[0]["docs_other"] == n10


def test_naive_bayes_covers_every_test_doc_once(spark):
    rows = Q["ml_naive_bayes_classifier"].run(spark, SF_SMALL).collect()
    langs = {"en", "de", "es", "fr", "zh"}
    assert all(r["lang"] in langs and r["predicted"] in langs for r in rows)
    docs = load(spark, SF_SMALL)["documents"].select("doc_id").collect()
    n_test = sum(1 for d in docs if _ph60("nbsplit", d["doc_id"]) % 5 >= 4)
    assert sum(r["n_docs"] for r in rows) == n_test


def test_gbm_stump_scores_recompute_by_hand(spark):
    from splio_etl_aggregations_spark.operators.mlprep import (
        GBM_BASE_MILLI,
        GBM_STUMPS,
    )

    out = {r["o_orderstatus"]: r for r in Q["ml_gbm_stump_inference"].run(spark, SF_SMALL).collect()}
    orders = (
        load(spark, SF_SMALL)["orders"]
        .select(
            "o_orderstatus",
            F.col("o_totalprice").alias("price"),
            (F.weekday("o_orderdate") + 1).cast("int").alias("dow"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("pri"),
        )
        .collect()
    )
    by_status: dict[str, list[int]] = {}
    for o in orders:
        s = GBM_BASE_MILLI
        for f, th, wl, wr in GBM_STUMPS:
            s += wl if o[f] < th else wr
        by_status.setdefault(o["o_orderstatus"], []).append(s)
    assert set(out) == set(by_status)
    for st, scores in by_status.items():
        r = out[st]
        assert r["n_orders"] == len(scores)
        assert r["min_milli"] == min(scores) and r["max_milli"] == max(scores)
        assert abs(r["mean_score"] - sum(scores) / len(scores) / 1000.0) < 1e-3
        assert r["n_flagged"] == sum(1 for s in scores if s > 0)


def test_learning_curve_full_subset_has_zero_drift(spark):
    rows = {r["pct"]: r for r in Q["ml_learning_curve_subsets"].run(spark, SF_SMALL).collect()}
    assert 100 in rows and rows[100]["l1_share_drift"] == 0.0
    n_orders = load(spark, SF_SMALL)["orders"].count()
    assert rows[100]["n_orders"] == n_orders
    pcts = sorted(rows)
    sizes = [rows[p]["n_orders"] for p in pcts]
    assert sizes == sorted(sizes)  # nested subsets grow monotonically
    assert all(rows[p]["l1_share_drift"] >= 0 for p in pcts)


def test_permutation_importance_is_consistent(spark):
    rows = Q["ml_permutation_importance"].run(spark, SF_SMALL).collect()
    assert {r["feature"] for r in rows} == {"price", "dow", "pri"}
    base = {r["baseline_acc"] for r in rows}
    assert len(base) == 1  # same baseline in every row
    for r in rows:
        assert 0.0 <= r["permuted_acc"] <= 1.0
        assert abs(r["importance"] - (r["baseline_acc"] - r["permuted_acc"])) < 2e-4


# ------------------------------------------------------- corpus / dedup

def test_contamination_hits_recompute_by_hand(spark):
    rows = Q["corpus_contamination_ngram"].run(spark, SF_SMALL).collect()
    docs = load(spark, SF_SMALL)["documents"].select("doc_id", "text").collect()
    toks = {d["doc_id"]: d["text"].split(" ") for d in docs}
    bench = {k: v for k, v in toks.items() if k % 97 == 0 and len(v) >= 8}
    assert {r["bench_doc_id"] for r in rows} == set(bench)
    for r in rows:
        probe = " ".join(bench[r["bench_doc_id"]][:8])
        hit_docs, hits = set(), 0
        for k, v in toks.items():
            if k % 97 == 0 or len(v) < 8:
                continue
            for i in range(len(v) - 7):
                if " ".join(v[i : i + 8]) == probe:
                    hit_docs.add(k)
                    hits += 1
        assert r["n_docs_hit"] == len(hit_docs), r
        assert r["n_window_hits"] == hits, r


# -------------------------------------------------- joins / etl / aggs

def test_range_bucketed_window_counts_recompute_by_hand(spark):
    rows = Q["join_range_bucketed"].run(spark, SF_SMALL).collect()
    assert len(rows) == 60
    ev = load(spark, SF_SMALL)["events"].select("ts", "user_id", "value").collect()
    t0 = min(e["ts"] for e in ev).replace(hour=0, minute=0, second=0, microsecond=0)
    import datetime

    for r in rows[:10]:
        start = t0 + datetime.timedelta(hours=12 * r["w_id"])
        end = start + datetime.timedelta(hours=6)
        inside = [e for e in ev if start <= e["ts"] < end]
        assert r["n_events"] == len(inside), r["w_id"]
        assert r["n_users"] == len({e["user_id"] for e in inside})
    # empty windows are reported as zeros, never dropped
    empties = [r for r in rows if r["n_events"] == 0]
    for r in empties:
        assert r["n_users"] == 0 and r["value_cents"] == 0


def test_bitemporal_revisions_bounded_by_users(spark):
    rows = Q["etl_bitemporal_snapshot"].run(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_revised_later"] <= r["n_users"]
    users = load(spark, SF_SMALL)["events"].select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) <= users


def test_sequential_pattern_confidence_sums_to_one_per_antecedent(spark):
    rows = Q["agg_sequential_patterns"].run(spark, SF_SMALL).collect()
    assert rows
    by_a: dict[str, float] = {}
    for r in rows:
        assert r["n_pairs"] > 0 and 0 < r["confidence"] <= 1 and r["lift"] > 0
        by_a[r["antecedent"]] = by_a.get(r["antecedent"], 0.0) + r["confidence"]
    for a, tot in by_a.items():
        assert abs(tot - 1.0) < 5e-4, (a, tot)


def test_markov_removal_effects_are_probabilities(spark):
    rows = Q["attribution_markov_removal"].run(spark, SF_SMALL).collect()
    assert {r["removed_channel"] for r in rows} <= {"click", "error", "signup", "view"}
    assert rows
    for r in rows:
        assert 0.0 <= r["p_convert"] <= 1.0
        # knocking a channel out can only remove conversion mass (the
        # floored-micro-unit walk is monotone in the mass vector)
        assert 0.0 <= r["removal_effect"] <= 1.0


def test_record_linkage_pair_count_matches_blocking(spark):
    rows = Q["dq_record_linkage_fs"].run(spark, SF_SMALL).collect()
    assert {r["verdict"] for r in rows} <= {"link", "possible", "non-link"}
    cust = load(spark, SF_SMALL)["customer"].select("c_nationkey", "c_name").collect()
    from collections import Counter

    blocks = Counter((c["c_nationkey"], len(c["c_name"])) for c in cust)
    expect = sum(n * (n - 1) // 2 for n in blocks.values())
    assert sum(r["n_pairs"] for r in rows) == expect
    for r in rows:
        assert -6 <= r["min_weight"] <= r["max_weight"] <= 13
        assert r["min_weight"] / 1.0 <= r["mean_weight"] <= r["max_weight"]

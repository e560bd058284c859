#!/usr/bin/env python
"""Mask-frame broadcast growth probe (VERDICT r8 item 7).

The r8 rank-bitmask restructure of the near-dup rungs broadcasts the
per-doc mask frame on both verify sides. End-to-end K-probes of those
rungs are degenerate under K-fold replication (the candidate set and
the TRUE output grow K² by construction — see SCALING.md "replication
artifact"), but the broadcast side is |docs|-proportional and is the
scale risk the r9 size guard (`_mask_hint`) bounds. This probe
measures exactly that side at each K, without the quadratic pair join:

  * n_docs / n_vocab / mask words,
  * the guard's size estimate (`_mask_bytes`: n_docs x (8W + 12)) and
    its decision (`_mask_hint`),
  * wall time to materialize the mask frame (token rung: the
    `_ranked_sets` aggregate of dedup_near_jaccard/ngram; gram rung:
    `_gram_masks` of dedup_near_minhash) via a noop sink.

Usage: python tools/mask_probe.py [K ...]   (default: 1 10 30 100)
Reuses tools/scaling.py's replicated fixtures under /tmp.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from splio_etl_aggregations_spark.operators import dedup as dd  # noqa: E402
from splio_etl_aggregations_spark.operators.corpus import (  # noqa: E402
    _gram_rows,
)
from splio_etl_aggregations_spark.session import get_spark  # noqa: E402
from tools.scaling import scaled_tables  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def probe(spark, t):
    out = []
    # token rung (dedup_near_jaccard / dedup_connected_components)
    tok = t["documents"].select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    t0 = time.perf_counter()
    frame, n_words, n_docs = dd._ranked_sets(tok)
    masks = frame.select(
        "doc_id", F.size("elems").alias("n"), *[f"m{k}" for k in range(n_words)]
    )
    noop(masks)
    wall = time.perf_counter() - t0
    out.append(("token(_ranked_sets)", n_docs, n_words, masks, wall))
    # gram rung (dedup_near_minhash)
    grams_rows = _gram_rows(t["documents"], 2)
    t0 = time.perf_counter()
    gmasks, gw, gd = dd._gram_masks(grams_rows)
    noop(gmasks)
    wall = time.perf_counter() - t0
    out.append(("gram(_gram_masks)", gd, gw, gmasks, wall))
    spark.catalog.clearCache()
    # the guard's own estimate and decision, not a re-derivation
    return [
        (rung, nd, w, dd._mask_bytes(nd, w),
         dd._mask_hint(m, nd, w) is not m, wall)
        for rung, nd, w, m, wall in out
    ]


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 10, 30, 100]
    spark = get_spark(app_name="mask-probe")
    spark.sparkContext.setLogLevel("ERROR")
    print("| K | rung | n_docs | W | est bytes | hint fires | mask-build s |")
    print("|---|---|---|---|---|---|---|")
    for k in ks:
        t = scaled_tables(spark, k)
        probe(spark, t)  # warm (plan + JIT)
        for rung, nd, w, est, hint, wall in probe(spark, t):
            print(
                f"| {k} | {rung} | {nd:,} | {w} | {est:,} |"
                f" {'yes' if hint else 'NO (falls back)'} | {wall:.2f} |",
                flush=True,
            )


if __name__ == "__main__":
    main()

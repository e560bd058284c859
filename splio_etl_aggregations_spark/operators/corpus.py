"""Training-corpus preparation operators (SURVEY.md §2-J extension, r2).

The steps between "deduped documents" and "token stream on the trainer":
sequence packing, repetition-quality filtering, benchmark
decontamination, domain-mix rebalancing, and quality-aware duplicate
survivorship. Each is the Spark-first form of a step every large-scale
LLM data pipeline runs; all five are oracle-checked.

Scale shapes:

- packing: the only global state is the running token offset — computed
  with the two-phase cumulative sum (range partition → local prefix sum
  → 16-row offset frame), never a partition-less window;
- repetition filter: tagged n-gram explode + two-level agg (the per-row
  higher-order-function form evaluates interpreted and re-inlines the
  gram tree per output column — measured 23x slower at sf0.1);
- decontamination: the benchmark n-gram set is DISTINCT'd and broadcast
  (benchmarks are MBs, corpora are TBs), so the only wide exchange is
  the per-doc hit distinct;
- mix rebalance: sampling decisions are pure hash predicates — rows
  never shuffle, only the |lang|-row rate table does;
- keep-best: window partitioned by content hash, bounded by duplicate
  cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable_hash import ph60, ph60_sql
from ..registry import register

#: tokens per packed training sequence (small so the sf0.001 fixtures
#: still straddle sequence boundaries — the interesting case).
SEQ_LEN = 64

#: n-gram length for benchmark-overlap decontamination. Real pipelines
#: use 8-13; the fixture vocabulary is 31 tokens, and 8 keeps the
#: collision set small-but-nonempty at every SF.
DECON_N = 8

#: benchmark slice of the documents table (stand-in for an eval set).
BENCH_SOURCES = ("src0", "src1")


def _toks(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def _zip_grams(toks: Column, n: int) -> Column:
    """All n-grams of a token array as an array of ``struct<w0..w{n-1}>``
    — built from ``arrays_zip`` of shifted ``slice`` views, which are
    plain codegen expressions. (A ``transform``-over-``sequence`` build
    evaluates interpreted — measured 23x slower; see
    ``text_rep_ngram_filter``.) Callers must pre-filter docs shorter
    than ``n`` tokens, as :func:`_gram_rows` does: below that the slice
    length goes non-positive and the zip is empty-or-junk."""
    sz = F.size(toks) - (n - 1)
    return F.arrays_zip(
        *[F.slice(toks, i + 1, sz).alias(f"w{i}") for i in range(n)]
    )


def _gram_str(n: int, field: str = "t") -> Column:
    """Join one exploded :func:`_zip_grams` struct back into the
    space-separated n-gram string."""
    return F.concat_ws(" ", *[f"{field}.w{i}" for i in range(n)])


def _gram_rows(docs: DataFrame, n: int) -> DataFrame:
    """``(doc_id, gram)``: one row per n-gram occurrence (duplicates
    kept) of each doc's space-split ``text``, docs shorter than ``n``
    tokens filtered out first — the one home of the zip-gram explode
    for callers that need no position or extra column."""
    toks = _toks()
    return (
        docs.filter(F.size(toks) >= n)
        .select("doc_id", F.explode(_zip_grams(toks, n)).alias("t"))
        .select("doc_id", _gram_str(n).alias("gram"))
    )


@register(
    "corpus_pack_sequences",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS tok_start
      FROM d
    )
    SELECT doc_id, n_tokens, tok_start,
           (tok_start // {SEQ_LEN})::BIGINT AS seq_first,
           ((tok_start + n_tokens - 1) // {SEQ_LEN})::BIGINT AS seq_last,
           ((tok_start + n_tokens - 1) // {SEQ_LEN}
             - tok_start // {SEQ_LEN} + 1)::BIGINT AS n_seqs
    FROM c
    """,
    tier="P1",
)
def corpus_pack_sequences(spark, t):
    """Pretraining sequence packing: documents are concatenated in
    doc_id order and cut into fixed ``SEQ_LEN``-token sequences; each doc
    reports its global token offset and the [first, last] sequence ids it
    lands in (docs straddle boundaries, as in GPT-style packing).

    The global running offset is the scale problem: a plain
    ``SUM() OVER (ORDER BY doc_id)`` collapses to one task, so the
    exclusive prefix is ``two_phase_scan``'s inclusive sum minus the row.
    """
    from .windows import two_phase_scan

    d = t["documents"].select(
        "doc_id", F.size(_toks()).cast("bigint").alias("n_tokens")
    )
    tok_start = (F.col("cum_n_tokens") - F.col("n_tokens")).cast("bigint")
    last_tok = F.col("tok_start") + F.col("n_tokens") - 1
    return (
        two_phase_scan(d, [F.asc("doc_id")], ["n_tokens"])
        .withColumn("tok_start", tok_start)
        .withColumn("seq_first", (F.col("tok_start") / SEQ_LEN).cast("bigint"))
        .withColumn("seq_last", (last_tok / SEQ_LEN).cast("bigint"))
        .withColumn(
            "n_seqs", (F.col("seq_last") - F.col("seq_first") + 1).cast("bigint")
        )
        .select(
            "doc_id", "n_tokens", "tok_start", "seq_first", "seq_last", "n_seqs"
        )
    )


@register(
    "text_rep_ngram_filter",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, len(t)),
                            i -> t[i] || ' ' || t[i+1]) AS g2,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
    SELECT doc_id,
           round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 4)
             AS dup_bigram_frac,
           round(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 4)
             AS dup_trigram_frac,
           CASE WHEN round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 4) <= 0.2
                 AND round(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 4) <= 0.18
                THEN 1 ELSE 0 END AS keep_flag
    FROM g
    """,
    tier="P1",
)
def text_rep_ngram_filter(spark, t):
    """Gopher-style intra-document repetition filter: the fraction of
    duplicate bigrams/trigrams per doc, and a keep flag at the published
    thresholds (0.2 / 0.18).

    Shape: per n, explode the doc's n-grams and run a two-level
    aggregation — (doc, gram) counts, then per-doc total vs distinct —
    and join the two per-doc stats (both sides already partitioned by
    doc_id). Grams are built with ``arrays_zip`` of shifted ``slice``
    views + ``concat_ws`` — plain codegen expressions. Two rejected
    forms, both measured at sf0.1: per-row ``array_distinct`` over
    ``transform``-built gram arrays (zero shuffles but higher-order
    functions evaluate interpreted, and every projected output column
    re-inlines the gram tree: 23.6 s) and the same exploded agg with
    ``transform``-built grams (3.9 s). This plan: 0.06 s. Thresholds
    compare the ROUNDED fractions so both engines make the same
    boundary call.
    """
    def gram_stats(n: int):
        ex = _gram_rows(t["documents"], n).withColumnRenamed("gram", "g")
        return (
            ex.groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(
                F.sum("c").alias(f"tot{n}"),
                F.count(F.lit(1)).alias(f"dist{n}"),
            )
        )

    stats = gram_stats(2).join(gram_stats(3), "doc_id")
    d2 = F.round(F.lit(1.0) - F.col("dist2") / F.col("tot2"), 4)
    d3 = F.round(F.lit(1.0) - F.col("dist3") / F.col("tot3"), 4)
    return stats.select(
        "doc_id",
        d2.alias("dup_bigram_frac"),
        d3.alias("dup_trigram_frac"),
        ((d2 <= 0.2) & (d3 <= 0.18)).cast("int").alias("keep_flag"),
    )


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    ng AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(t) - {DECON_N - 2}),
                    i -> array_to_string(t[i:i+{DECON_N - 1}], ' '))) AS g
      FROM tok WHERE len(t) >= {DECON_N}
    ),
    bench AS (
      SELECT DISTINCT g FROM ng
      WHERE source IN ('{BENCH_SOURCES[0]}', '{BENCH_SOURCES[1]}')
    ),
    hit AS (
      SELECT DISTINCT doc_id, g FROM ng JOIN bench USING (g)
      WHERE source NOT IN ('{BENCH_SOURCES[0]}', '{BENCH_SOURCES[1]}')
    )
    SELECT doc_id, COUNT(*) AS n_hit_ngrams FROM hit GROUP BY doc_id
    """,
    tier="P1",
)
def corpus_decontaminate(spark, t):
    """Benchmark decontamination: training docs sharing any ``DECON_N``-gram
    with the benchmark slice (sources src0/src1 stand in for an eval
    set), with the count of distinct colliding n-grams per doc.

    Scale shape: the benchmark side is DISTINCT'd then **broadcast** —
    eval sets are MBs against TBs of training text, so the contamination
    probe must never shuffle the corpus by n-gram. The only wide
    exchange is the per-(doc, gram) distinct, bounded by actual hits.
    """
    docs = t["documents"]
    ng = docs.filter(F.size(_toks()) >= DECON_N).select(
        "doc_id",
        "source",
        F.explode(_zip_grams(_toks(), DECON_N)).alias("t"),
    ).select("doc_id", "source", _gram_str(DECON_N).alias("g"))
    is_bench = F.col("source").isin(*BENCH_SOURCES)
    bench = ng.filter(is_bench).select("g").distinct()
    return (
        ng.filter(~is_bench)
        .join(F.broadcast(bench), "g")
        .select("doc_id", "g")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )


@register(
    "corpus_mix_rebalance",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*)::BIGINT AS n_before FROM documents GROUP BY lang
    ),
    tgt AS (SELECT MIN(n_before) AS target FROM counts),
    rates AS (
      SELECT lang, n_before,
             ((target * 1000000) // n_before)::BIGINT AS rate_ppm
      FROM counts, tgt
    ),
    kept AS (
      SELECT d.lang, COUNT(*)::BIGINT AS n_kept
      FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE {ph60_sql("doc_id", "mix")} % 1000000 < r.rate_ppm
      GROUP BY d.lang
    )
    SELECT r.lang, r.n_before, r.rate_ppm,
           COALESCE(k.n_kept, 0)::BIGINT AS n_kept
    FROM rates r LEFT JOIN kept k USING (lang)
    """,
    tier="P2",
)
def corpus_mix_rebalance(spark, t):
    """Domain/language mix rebalancing: derive per-language sampling
    rates that downsample every language to the size of the smallest
    one (uniform target mix), apply them as deterministic hash
    predicates, and report before/after counts per language.

    The decision for each row is ``ph60(doc_id) % 1e6 < rate_ppm`` with
    the |lang|-row rate table broadcast: rows never shuffle to be
    sampled, which is the only workable shape when the mix step sits in
    the middle of a 100 TB pipeline. Rates use pure integer arithmetic
    (``DIV``) so both engines floor identically.
    """
    docs = t["documents"]
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    tgt = counts.agg(F.min("n_before").alias("target"))
    rates = counts.crossJoin(F.broadcast(tgt)).withColumn(
        "rate_ppm", F.expr("target * 1000000 DIV n_before").cast("bigint")
    )
    kept = (
        docs.join(F.broadcast(rates.select("lang", "rate_ppm")), "lang")
        .filter(ph60("doc_id", "mix") % 1_000_000 < F.col("rate_ppm"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_before",
            "rate_ppm",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


@register(
    "dedup_keep_best",
    oracle="""
    SELECT doc_id,
           first_value(doc_id) OVER w AS keeper_id,
           CASE WHEN doc_id = first_value(doc_id) OVER w THEN 1 ELSE 0 END
             AS is_keeper
    FROM documents
    WINDOW w AS (PARTITION BY sha256(lower(trim(text)))
                 ORDER BY n_chars DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tier="P2",
)
def dedup_keep_best(spark, t):
    """Quality-aware exact-dup survivorship: within each content-hash
    cluster (same normalization as ``dedup_exact``) the keeper is the
    highest-quality copy — longest text, doc_id as the tie-break —
    and every doc maps to its cluster's keeper.

    The window partitions by content hash, so its width is the duplicate
    cluster size (bounded in practice), never the corpus. Differs from
    ``dedup_exact`` (min-doc_id survivor) by ranking survivors on a
    quality key — the policy real pipelines want when near-identical
    copies differ in truncation.
    """
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    w = (
        Window.partitionBy("text_hash")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t["documents"]
        .select("doc_id", "n_chars", h.alias("text_hash"))
        .withColumn("keeper_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).cast("int").alias(
                "is_keeper"
            ),
        )
    )


@register(
    "corpus_quality_ablation",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) AS n_dist,
             string_split(text, ' ') AS t
      FROM documents
    ),
    per AS (
      SELECT doc_id,
             CASE WHEN n_tok < 10 THEN 1 ELSE 0 END AS f_short,
             CASE WHEN n_tok > 200 THEN 1 ELSE 0 END AS f_long,
             CASE WHEN n_dist * 1.0 / n_tok <= 0.2 THEN 1 ELSE 0 END AS f_ttr,
             CASE WHEN n_tok < 2 THEN 0
                  WHEN round(1.0 - len(list_distinct(list_transform(
                         range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
                       * 1.0 / (len(t) - 1), 4) > 0.2 THEN 1
                  ELSE 0 END AS f_rep
      FROM base
    ),
    s AS (
      SELECT COUNT(*) AS n_docs,
             SUM(f_short) AS s1, SUM(f_long) AS s2,
             SUM(f_ttr) AS s3, SUM(f_rep) AS s4,
             SUM(CASE WHEN f_short = 1 AND f_short+f_long+f_ttr+f_rep = 1
                      THEN 1 ELSE 0 END) AS o1,
             SUM(CASE WHEN f_long = 1 AND f_short+f_long+f_ttr+f_rep = 1
                      THEN 1 ELSE 0 END) AS o2,
             SUM(CASE WHEN f_ttr = 1 AND f_short+f_long+f_ttr+f_rep = 1
                      THEN 1 ELSE 0 END) AS o3,
             SUM(CASE WHEN f_rep = 1 AND f_short+f_long+f_ttr+f_rep = 1
                      THEN 1 ELSE 0 END) AS o4
      FROM per
    )
    SELECT 'too_short' AS filter, CAST(s1 AS BIGINT) AS n_fail,
           CAST(o1 AS BIGINT) AS n_sole_fail,
           round(s1 * 1.0 / n_docs, 4) AS pct_fail FROM s
    UNION ALL
    SELECT 'too_long', CAST(s2 AS BIGINT), CAST(o2 AS BIGINT),
           round(s2 * 1.0 / n_docs, 4) FROM s
    UNION ALL
    SELECT 'low_ttr', CAST(s3 AS BIGINT), CAST(o3 AS BIGINT),
           round(s3 * 1.0 / n_docs, 4) FROM s
    UNION ALL
    SELECT 'high_repetition', CAST(s4 AS BIGINT), CAST(o4 AS BIGINT),
           round(s4 * 1.0 / n_docs, 4) FROM s
    """,
    tier="P2",
)
def corpus_quality_ablation(spark, t):
    """Quality-gate ablation report: for each corpus filter (too-short,
    too-long, low type-token ratio, high bigram repetition — the gates
    ``pipeline_clean_corpus`` and ``text_rep_ngram_filter`` apply), how
    many documents fail it, how many fail it as their SOLE reason, and
    the failure rate. The sole-reason column is the decision-maker:
    a filter whose failures are all covered by other gates can be
    dropped for free, one with many sole failures is actually shaping
    the corpus — the ablation every data-curation team runs before
    shipping a filter change.

    Shape: one pass computes all per-doc flags (token stats are column
    expressions; the bigram-repetition stat reuses the codegen
    ``arrays_zip`` gram aggregate, left-joined so <2-token docs default
    to zero repetition), then ONE global aggregate folds the flag
    matrix to a single row of sums, unpivoted by a 4-row ``stack`` —
    report cardinality is |filters|, never |docs|. At 100 TB: one
    corpus scan + one constant-size fold.
    """
    toks = _toks()
    n_tok = F.size(toks)
    g2 = (
        _gram_rows(t["documents"], 2)
        .withColumnRenamed("gram", "g")
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("tot2"), F.count(F.lit(1)).alias("dist2"))
    )
    rep_frac = F.coalesce(
        F.round(F.lit(1.0) - F.col("dist2") / F.col("tot2"), 4), F.lit(0.0)
    )
    per = (
        t["documents"]
        .join(g2, "doc_id", "left")
        .select(
            (n_tok < 10).cast("int").alias("f_short"),
            (n_tok > 200).cast("int").alias("f_long"),
            (F.size(F.array_distinct(toks)) / n_tok <= 0.2)
            .cast("int")
            .alias("f_ttr"),
            (rep_frac > 0.2).cast("int").alias("f_rep"),
        )
    )
    n_flags = (
        F.col("f_short") + F.col("f_long") + F.col("f_ttr") + F.col("f_rep")
    )
    sole = lambda f: F.sum(  # noqa: E731
        ((F.col(f) == 1) & (n_flags == 1)).cast("bigint")
    )
    s = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_short").alias("s1"),
        F.sum("f_long").alias("s2"),
        F.sum("f_ttr").alias("s3"),
        F.sum("f_rep").alias("s4"),
        sole("f_short").alias("o1"),
        sole("f_long").alias("o2"),
        sole("f_ttr").alias("o3"),
        sole("f_rep").alias("o4"),
    )
    return s.select(
        F.expr(
            "stack(4, 'too_short', s1, o1, 'too_long', s2, o2, "
            "'low_ttr', s3, o3, 'high_repetition', s4, o4)"
        ).alias("filter", "n_fail", "n_sole_fail"),
        F.col("n_docs"),
    ).select(
        "filter",
        "n_fail",
        "n_sole_fail",
        F.round(F.col("n_fail") / F.col("n_docs"), 4).alias("pct_fail"),
    )


@register(
    "corpus_ngram_novelty",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    big AS (
      SELECT DISTINCT doc_id,
             token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos)
               AS bigram
      FROM tok
    ),
    bigd AS (SELECT doc_id, bigram FROM big WHERE bigram IS NOT NULL),
    firsts AS (SELECT bigram, MIN(doc_id) AS first_doc FROM bigd GROUP BY bigram)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           round(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS novelty
    FROM bigd b JOIN firsts f ON f.bigram = b.bigram
    GROUP BY b.doc_id
    """,
    tier="P2",
)
def corpus_ngram_novelty(spark, t):
    """Per-document bigram novelty against everything earlier in the
    corpus (doc_id order): what fraction of this document's distinct
    bigrams has no occurrence in any lower doc_id. The curve of this
    metric over ingestion order is the standard "is new data still
    adding information" saturation diagnostic for corpus growth.

    Ownership of "first occurrence" is a MIN(doc_id) per bigram — an
    inverted-index aggregate like the dedup family, never a doc×doc
    comparison. The per-bigram frame is bounded by the distinct-bigram
    vocabulary, and the join back to per-doc bigram sets is on the
    bigram key, so both exchanges are vocabulary- not corpus-sized.
    A deterministic total order (doc_id) makes the result exact and
    reproducible — no dependence on partition layout.
    """
    bigd = (
        _gram_rows(t["documents"], 2)
        .withColumnRenamed("gram", "bigram")
        .distinct()
    )
    firsts = bigd.groupBy("bigram").agg(F.min("doc_id").alias("first_doc"))
    return (
        bigd.join(firsts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
            F.round(
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
                )
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("novelty"),
        )
    )


@register(
    "corpus_source_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    ng AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - {DECON_N - 2}),
                    i -> array_to_string(t[i:i+{DECON_N - 1}], ' '))) AS g
      FROM tok WHERE len(t) >= {DECON_N}
    ),
    sz AS (SELECT source, COUNT(*) AS n FROM ng GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      FROM ng a JOIN ng b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_common,
           round(i.n_common * 1.0
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.source = i.source_a
    JOIN sz sb ON sb.source = i.source_b
    ORDER BY source_a, source_b
    """,
    tier="P2",
)
def corpus_source_overlap(spark, t):
    """Pairwise source-overlap matrix: 8-gram Jaccard between every pair
    of sources — the "which crawls/feeds duplicate each other" heatmap
    that decides dedup priority and mix weights BEFORE any doc-level
    dedup runs (``corpus_decontaminate`` answers the benchmark-vs-corpus
    question; this answers corpus-vs-corpus).

    Inverted-index shape end to end: distinct (source, gram), per-gram
    source pairs (≤ |sources|² per gram, never doc×doc), per-source set
    sizes broadcast back onto the ≤ C(|sources|,2)-row pair frame. At
    100 TB the only corpus-sized exchange is the initial distinct.
    """
    docs = t["documents"]
    ng = (
        docs.filter(F.size(_toks()) >= DECON_N)
        .select(
            "source",
            F.explode(_zip_grams(_toks(), DECON_N)).alias("t"),
        )
        .select("source", _gram_str(DECON_N).alias("g"))
        .distinct()
    )
    sz = ng.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = ng.alias("a")
    b = ng.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


#: sliding-chunk geometry: window of 32 tokens every 24 (8-token overlap
#: so boundary-spanning context survives; small enough that the
#: fixtures' ~60-token docs produce multi-chunk cases at every SF).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "corpus_window_chunking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    ch AS (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t), {CHUNK_STRIDE})) AS start_pos
      FROM tok
    )
    SELECT doc_id,
           CAST((start_pos - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
           start_pos,
           CAST(len(t[start_pos:start_pos + {CHUNK_TOKENS - 1}]) AS BIGINT)
             AS chunk_len,
           array_to_string(t[start_pos:start_pos + {CHUNK_TOKENS - 1}], ' ')
             AS chunk_text
    FROM ch
    """,
    tier="P2",
)
def corpus_window_chunking(spark, t):
    """Sliding-window document chunking: split every document into
    32-token chunks on a 24-token stride (8-token overlap) — the
    long-document splitter that feeds embedding models and context-
    bounded trainers, where ``corpus_pack_sequences`` is its inverse
    (many small docs → one sequence; this is one long doc → many
    chunks) and the overlap preserves cross-boundary context.

    One ``sequence`` + ``explode`` + ``slice`` per document — all
    codegen expressions, no lambda higher-order functions, no shuffle
    at all until a consumer aggregates: chunking is embarrassingly
    row-parallel and the fan-out is ⌈n/stride⌉ per doc, proportional to
    output size by definition.
    """
    toks = _toks()
    n = F.size(toks)
    ch = (
        t["documents"]
        .select(
            "doc_id",
            toks.alias("t"),
            F.explode(
                F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))
            ).alias("start_pos"),
        )
    )
    sliced = F.slice(F.col("t"), F.col("start_pos"), CHUNK_TOKENS)
    return ch.select(
        "doc_id",
        F.floor((F.col("start_pos") - 1) / CHUNK_STRIDE).cast("int").alias(
            "chunk_id"
        ),
        "start_pos",
        F.size(sliced).cast("long").alias("chunk_len"),
        F.concat_ws(" ", sliced).alias("chunk_text"),
    )


@register(
    "corpus_pii_scrub",
    oracle="""
    WITH seeded AS (
      SELECT source,
             text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' mail user' || doc_id || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' dial 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       ELSE '' END AS text
      FROM documents
    ),
    scrubbed AS (
      SELECT source,
             len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\\.[a-z]+'))
               AS n_emails,
             len(regexp_extract_all(text, '555-[0-9]{4}')) AS n_phones,
             length(text)
               - length(regexp_replace(
                   regexp_replace(text, '[a-z0-9]+@[a-z]+\\.[a-z]+',
                                  '<EMAIL>', 'g'),
                   '555-[0-9]{4}', '<PHONE>', 'g')) AS chars_removed
      FROM seeded
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
    FROM scrubbed GROUP BY source
    """,
    tier="P2",
)
def corpus_pii_scrub(spark, t):
    """PII redaction pass over the corpus: find and replace emails and
    phone-shaped strings, reporting per-source match counts and the
    exact character delta the replacements caused — the audit numbers a
    training-data pipeline must log before text ships to a trainer.

    The synthetic corpus contains no PII by construction, so the op
    first SEEDS deterministic doc_id-derived emails/phones into a slice
    of documents (both engines perform the identical injection — the
    hash check therefore proves the regex find/replace machinery, which
    is the deliverable, not the generator). Everything is JVM-side
    codegen: ``regexp_extract_all`` / ``regexp_replace`` on the scan
    projection, one groupBy(source) fold — no UDFs, one shuffle of
    |sources| × 4 longs. The patterns live in ONE place each and are
    deliberately RE2-compatible (character classes, no backrefs) so
    Spark's Java regex and DuckDB's RE2 agree; a production blocklist
    swaps in more patterns the same way.
    """
    email_re = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    phone_re = "555-[0-9]{4}"
    seeded = t["documents"].select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" mail user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" dial 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = seeded.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(email_re), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(phone_re), F.lit(0))).alias(
            "n_phones"
        ),
        (
            F.length("text")
            - F.length(
                F.regexp_replace(
                    F.regexp_replace("text", email_re, "<EMAIL>"),
                    phone_re,
                    "<PHONE>",
                )
            )
        ).alias("chars_removed"),
    )
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").alias("n_emails"),
        F.sum("n_phones").alias("n_phones"),
        F.sum("chars_removed").alias("chars_removed"),
    )


@register(
    "corpus_importance_resampling",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             len(ts) AS nt, len(list_distinct(ts)) AS nd
      FROM d WHERE len(ts) > 0
    ),
    k AS (
      -- exact integer cross-multiply, matching the engine bit-for-bit:
      -- floor-dividing nd*1e6 by nt would drop boundary docs whose hash
      -- equals floor(nd*1e6/nt) when nt does not divide nd*1e6
      SELECT source, nt,
             ({ph60_sql('doc_id', 'dsir')} % 1000000) * nt
               < nd * 1000000 AS keep
      FROM m
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
             AS tokens_kept
    FROM k GROUP BY source
    """,
    tier="P2",
)
def corpus_importance_resampling(spark, t):
    """Importance RESAMPLING of the corpus (the DSIR-family recipe:
    keep each document with probability proportional to a quality
    weight, here its type-token ratio — repetitive boilerplate gets a
    low keep rate, lexically rich text a high one) — the probabilistic
    middle ground between hard quality gates (``text_quality_score``)
    and uniform subsampling (``corpus_subsample_tokens``).

    Determinism discipline: the Bernoulli draw is the portable hash
    ``ph60(doc_id) % 1e6`` cross-multiplied against ``nd·1e6``
    (keep ⇔ hash%1e6 · nt < nd·1e6) — BOTH sides exact integers, so
    the kept set is bit-reproducible across engines, runs, and table
    growth (appending docs never flips old keep decisions — the
    property RNG-based sampling loses on every re-run). One scan, one
    groupBy(source) fold; at 100 TB this is a map-side filter whose
    selectivity IS the quality distribution.
    """
    toks = F.split(F.col("text"), " ")
    m = (
        t["documents"]
        .select(
            "doc_id",
            "source",
            F.size(toks).cast("long").alias("nt"),
            F.size(F.array_distinct(toks)).cast("long").alias("nd"),
        )
        .filter(F.col("nt") > 0)
    )
    # cross-multiplied integer compare — the weight nd/nt never exists
    # as a float, so there is no floor/rounding seam between engines
    keep = (ph60("doc_id", "dsir") % 1000000) * F.col("nt") < (
        F.col("nd") * 1000000
    )
    k = m.select("source", "nt", keep.alias("keep"))
    return k.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("nt")).otherwise(0)).alias(
            "tokens_kept"
        ),
    )


@register(
    "corpus_cdc_chunk_dedup",
    oracle="""
    WITH pos AS (
      SELECT d.doc_id, d.source, d.text, g.p
      FROM documents d
      CROSS JOIN (SELECT range + 1 AS p FROM range(600)) g
      WHERE g.p <= length(d.text)
    ),
    bnd AS (
      SELECT doc_id, source, text, p
      FROM pos
      WHERE p >= 3
        AND (7 * ascii(substr(text, p - 2, 1))
             + 31 * ascii(substr(text, p - 1, 1))
             + 101 * ascii(substr(text, p, 1))) % 64 = 0
      UNION
      SELECT doc_id, source, text, length(text) AS p FROM documents
    ),
    spans AS (
      SELECT doc_id, source, text, p AS e,
             COALESCE(LAG(p) OVER (PARTITION BY doc_id ORDER BY p), 0)
               AS prev
      FROM bnd
    ),
    chunks AS (
      SELECT doc_id, source, e - prev AS clen,
             md5(substr(text, prev + 1, e - prev)) AS chash
      FROM spans WHERE e > prev
    ),
    uniq AS (
      SELECT source, chash, MAX(clen) AS clen
      FROM chunks GROUP BY source, chash
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(c.clen) AS BIGINT) AS total_chars,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM uniq u
            WHERE u.source = c.source) AS n_unique_chunks,
           (SELECT CAST(SUM(u.clen) AS BIGINT) FROM uniq u
            WHERE u.source = c.source) AS unique_chars,
           round(AVG(c.clen), 4) AS mean_chunk_len
    FROM chunks c GROUP BY c.source
    """,
    tier="P2",
)
def corpus_cdc_chunk_dedup(spark, t):
    """Content-defined chunking (CDC) dedup accounting — the
    rolling-hash boundary technique (Rabin/Gear, FastCDC family) that
    deduplicates STORAGE rather than documents: chunk boundaries are
    declared wherever a 3-byte rolling hash
    ``(7·c[i-2] + 31·c[i-1] + 101·c[i]) % 64 == 0`` fires (expected
    chunk ≈ 64 chars), so identical passages ANYWHERE in two documents
    produce identical chunks regardless of their offsets — the
    property fixed-size blocking fundamentally lacks, and the reason
    every dedup store (and training-corpus delta pipelines) chunk by
    content. Identical chunks then collapse by md5 within each source;
    the (total_chars vs unique_chars) gap is the dedup saving the
    near-duplicate-rich fixture corpus actually exposes.

    Everything is codegen JVM work: positions via an exploded
    ``sequence(3, length)``, boundary test on three ``ascii(substr)``
    codepoints (the corpus is verified printable-ASCII; the unit test
    guards that invariant), LAG window for span starts, one substring
    per chunk, md5 + two aggregations. No Python, no shuffle beyond
    the two keyed aggregations.

    Scale: chunking is embarrassingly parallel per document (the
    explode fans out ~length rows per doc and collapses to ~length/64
    chunks immediately); the md5 dedup groupBy is the only
    data-proportional shuffle and is keyed on (source, hash) — at
    100 TB you'd roll the same plan with the hash pre-bucketed and
    spans emitted by a mapPartitions rolling scan instead of an
    explode, trading shuffle width for per-task state.
    """
    # Boundary discovery is a per-document HIGHER-ORDER filter over
    # sequence(3, len) — row-local, no explode/union/distinct/window
    # shuffle (the first cut's chain cost ~3 extra stages). Two plan
    # lessons are baked in and guarded by the unit test's plan probe:
    # (1) the single-file fixture scan would run this CPU-heavy NARROW
    # chain on ONE task — explicit repartition first (the r6 band-sweep
    # AQE lesson); (2) ProjectCollapsing INLINES the expensive lambda
    # into every downstream reference, so the consumer below is ONE
    # aggregation chain (the first cut's two-branch join re-derived the
    # lambda SIX times in the physical plan — measured 12 s vs 0.7 s).
    docs = (
        t["documents"]
        .select("source", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    ends = F.expr(
        "array_distinct(concat(filter(sequence(3, length(text)), p -> "
        "(7 * ascii(substring(text, p - 2, 1))"
        " + 31 * ascii(substring(text, p - 1, 1))"
        " + 101 * ascii(substring(text, p, 1))) % 64 = 0), "
        "array(length(text))))"
    )
    # cache = the inlining firewall: every downstream reference (the
    # size guard + BOTH generator inputs) reads the materialized column
    # instead of re-inlining the interpreted lambda (3 plan sites
    # measured 6.4 s; cached: 1.3 s). Cannot unpersist before returning
    # (the result plan references it); Query.run clears caches between
    # queries — the documented pattern.
    with_ends = docs.withColumn("ends", ends).cache()
    spans = (
        with_ends
        .filter(F.size("ends") > 0)  # guards the empty-text degenerate
        .select(
            "source",
            "text",
            F.explode(
                F.arrays_zip(
                    F.expr(
                        "concat(array(0), slice(ends, 1, size(ends) - 1))"
                    ).alias("prev"),
                    F.col("ends").alias("e"),
                )
            ).alias("sp"),
        )
        .select(
            "source",
            F.col("sp.prev").alias("prev"),
            F.col("sp.e").alias("e"),
            "text",
        )
        .filter(F.col("e") > F.col("prev"))
    )
    chunks = spans.select(
        "source",
        (F.col("e") - F.col("prev")).alias("clen"),
        F.md5(
            F.col("text").substr(
                F.col("prev") + 1, F.col("e") - F.col("prev")
            )
        ).alias("chash"),
    )
    # one aggregation chain: per-(source, hash) dup counts fold into
    # every per-source statistic — no second branch, no join, and no
    # lineage cut needed (a localCheckpoint here measured 6 s on its
    # own: the RDD materialization path drops whole-stage codegen)
    per_hash = chunks.groupBy("source", "chash").agg(
        F.count(F.lit(1)).alias("n_dup"), F.max("clen").alias("clen")
    )
    return per_hash.groupBy("source").agg(
        F.sum("n_dup").alias("n_chunks"),
        F.sum(F.col("n_dup") * F.col("clen")).alias("total_chars"),
        F.count(F.lit(1)).alias("n_unique_chunks"),
        F.sum("clen").alias("unique_chars"),
        F.round(
            F.sum(F.col("n_dup") * F.col("clen")).cast("double")
            / F.sum("n_dup"),
            4,
        ).alias("mean_chunk_len"),
    )



@register(
    "corpus_contamination_ngram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    bench AS (
      SELECT doc_id,
             ('0x' || substr(md5('contam:' ||
                array_to_string(l[1:8], ' ')), 1, 15))::ubigint::bigint
               AS probe_h
      FROM toks WHERE doc_id % 97 = 0 AND len(l) >= 8
    ),
    windows AS (
      SELECT t.doc_id,
             ('0x' || substr(md5('contam:' ||
                array_to_string(list_slice(t.l, i.i, i.i + 7), ' ')),
                1, 15))::ubigint::bigint AS g_h
      FROM toks t, unnest(range(1, len(t.l) - 6)) AS i(i)
      WHERE t.doc_id % 97 <> 0 AND len(t.l) >= 8
    )
    SELECT b.doc_id AS bench_doc_id,
           CAST(COUNT(DISTINCT w.doc_id) AS BIGINT) AS n_docs_hit,
           CAST(COUNT(w.doc_id) AS BIGINT) AS n_window_hits
    FROM bench b LEFT JOIN windows w ON w.g_h = b.probe_h
    GROUP BY b.doc_id
    ORDER BY b.doc_id
""",
    tier="P2",
)
def corpus_contamination_ngram(spark, t):
    """Benchmark-contamination audit — THE pre-training hygiene check:
    does any training document contain a verbatim window of a held-out
    benchmark prompt? Benchmark docs are the deterministic
    ``doc_id % 97 = 0`` slice; each contributes its leading 8-gram as a
    probe, and every OTHER document's sliding 8-gram windows are tested
    for exact overlap. Output: per benchmark doc, how many corpus docs
    hit it and how many windows matched (zero rows kept via left join
    — "clean" is a result, not an absence).

    Scale shape: the probe side is tiny (|corpus|/97 rows of ONE hash
    each) and broadcasts; the corpus side explodes to sliding windows
    but ships only a 60-bit ``ph60`` per window into the join — never
    the 8-token strings (at 100 TB the window text would dominate the
    shuffle; the hash is 8 bytes). The explode fan-out is
    (len−7)/doc — linear in corpus token mass, the same budget any
    n-gram index pays, and the hash-equi join keeps matching
    collision-local instead of substring-scanning text.
    """
    from ..functions.portable_hash import ph60

    toks = t["documents"].select(
        "doc_id", F.split(F.col("text"), " ").alias("l")
    )
    bench = toks.filter(
        (F.col("doc_id") % 97 == 0) & (F.size("l") >= 8)
    ).select(
        F.col("doc_id").alias("bench_doc_id"),
        ph60(F.array_join(F.slice("l", 1, 8), " "), "contam").alias(
            "probe_h"
        ),
    )
    windows = (
        toks.filter((F.col("doc_id") % 97 != 0) & (F.size("l") >= 8))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 7),"
                    " i -> array_join(slice(l, i, 8), ' '))"
                )
            ).alias("g"),
        )
        .select("doc_id", ph60("g", "contam").alias("g_h"))
    )
    return (
        windows.join(
            F.broadcast(bench), F.col("g_h") == F.col("probe_h"), "right"
        )
        .groupBy("bench_doc_id")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs_hit"),
            F.count("doc_id").cast("bigint").alias("n_window_hits"),
        )
        .orderBy("bench_doc_id")
    )


#: temperature-mix parameters: sampling temperature tau (weights =
#: tokens^tau) and the token budget being allocated.
_MIX_TAU = 0.7
_MIX_BUDGET = 1_000_000
_MIX_Q = 1 << 20


@register(
    "corpus_temperature_mix",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_tokens,
             CAST(floor(exp({_MIX_TAU} * ln(CAST(n_tokens AS DOUBLE)))
                        * {_MIX_Q}) AS BIGINT) AS wq
      FROM toks
    ),
    tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum FROM w)
    SELECT w.source, w.n_tokens, w.wq,
           CAST(floor(w.wq * {_MIX_BUDGET}.0 / t.wsum) AS BIGINT)
             AS alloc_tokens,
           CAST(floor(floor(w.wq * {_MIX_BUDGET}.0 / t.wsum) * 100.0
                      / w.n_tokens) AS BIGINT) AS epochs_centi,
           round(w.wq * 1.0 / t.wsum, 6) AS share
    FROM w CROSS JOIN tot t
    ORDER BY w.source
    """,
    tier="P1",
)
def corpus_temperature_mix(spark, t):
    """TEMPERATURE-SCALED source mixing — the sampling-weights
    computation behind every multi-source pretraining mix (the
    p_s ∝ tokens_s^tau upweighting of small high-quality sources,
    tau = 0.7 as in the multilingual-LM literature): per source, the
    temperature weight, its share of a 1M-token budget, and the
    implied epoch count (how many times the source repeats —
    epochs > 1 flags the oversampled tail). Complements
    ``corpus_mix_rebalance`` (hard equalization to the smallest
    source) with the soft power-law schedule production mixes use.

    Determinism: token counts fold as exact BIGINTs map-side;
    tokens^tau is computed as exp(tau*ln(x)) — the SAME two-call tree
    in both engines (never pow(), whose libm differs) — and floored
    into 2^20 micro-units immediately, so the share denominator is an
    exact integer sum (order-free) and every downstream division is
    exact-int-over-exact-int IEEE both engines round identically.
    Scale shape: one map-side-combined fold to the |sources|-row
    frame; everything after is constant-size (broadcast 1-row total).
    At web scale the budget/weight products stay < 2^63 for corpora to
    ~10^13 tokens per source; beyond that the wq column widens to
    DECIMAL(38).
    """
    toks = t["documents"].groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("n_tokens")
    )
    w = toks.select(
        "source",
        "n_tokens",
        F.floor(
            F.exp(_MIX_TAU * F.log(F.col("n_tokens").cast("double")))
            * _MIX_Q
        )
        .cast("bigint")
        .alias("wq"),
    )
    tot = w.agg(F.sum("wq").cast("bigint").alias("wsum"))
    alloc = F.floor(
        F.col("wq") * float(_MIX_BUDGET) / F.col("wsum")
    ).cast("bigint")
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            "wq",
            alloc.alias("alloc_tokens"),
            F.floor(alloc * 100.0 / F.col("n_tokens"))
            .cast("bigint")
            .alias("epochs_centi"),
            F.round(F.col("wq") * 1.0 / F.col("wsum"), 6).alias("share"),
        )
        .orderBy("source")
    )


@register(
    "corpus_boilerplate_phrases",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                  FROM documents),
    g AS (
      SELECT doc_id,
        unnest(list_transform(range(1, len(l) - 6),
          i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
            || ' ' || l[i+4] || ' ' || l[i+5] || ' ' || l[i+6]
            || ' ' || l[i+7])) AS gram
      FROM toks WHERE len(l) >= 8
    ),
    agg AS (
      SELECT gram,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM g GROUP BY gram
    )
    SELECT gram, n_docs, n_occurrences
    FROM agg WHERE n_docs >= 3
    ORDER BY n_docs DESC, gram
    LIMIT 20
    """,
    tier="P1",
)
def corpus_boilerplate_phrases(spark, t):
    """BOILERPLATE LEXICON extraction — the top cross-document repeated
    8-gram phrases (headers, footers, license blurbs, nav text): the
    phrase-RANKED view of what ``dedup_substring_spans`` measures
    per-document. Span removal tells you how much of each doc is
    boilerplate; this tells you WHICH phrases to strip — the
    remove-list a C4-style cleaning pass actually consumes. Reported:
    each phrase's distinct-document reach and total occurrence count,
    top-20 by reach (>= 3 docs).

    Scale shape: the 8-gram explode is the codegen ``arrays_zip``-of-
    ``slice`` kernel (same as the span op — no interpreted
    transform-over-sequence, measured 23x slower); the per-gram fold
    is ONE map-side-combined aggregate (count + distinct-doc count via
    the (gram, doc) pre-distinct), and the final cut is
    TakeOrderedAndProject — no global sort materializes. The gram
    strings stay on the wire only between the explode and the fold; at
    100 TB you'd hash the gram for the shuffle seam and keep
    min(gram) as the display representative (the contamination op's
    hash-seam pattern), a one-line change documented here.
    """
    occ = _gram_rows(t["documents"], 8)
    agg = occ.groupBy("gram").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
    )
    return (
        agg.filter(F.col("n_docs") >= 3)
        .orderBy(F.desc("n_docs"), "gram")
        .limit(20)
    )

"""Text analysis over the documents corpus (SURVEY.md §2-J, text half).

These are the LLM-training-pipeline text operators mandated beyond the
reference surface (BASELINE.json "north_star"): token statistics,
n-grams, tf-idf, language/quality profiling. All stay JVM-side
(split/explode/groupBy — whole-stage codegen), no Python in the hot path.

Scale shape: explode(split(text)) distributes perfectly — the shuffle
key is the token, and token frequency skew is handled by partial
aggregation (map-side combine collapses each partition to ≤|vocab| rows
before the shuffle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.helpers import r4
from ..registry import register


def _tokens(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


@register(
    "text_token_counts",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
    tier="P0",
)
def text_token_counts(spark, t):
    """Global token frequencies: explode + count."""
    return (
        t["documents"]
        .select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           round(AVG(n_chars), 4) AS avg_chars,
           round(AVG(len(string_split(text, ' '))), 4) AS avg_tokens
    FROM documents GROUP BY lang, source
    """,
    tier="P1",
)
def text_lang_stats(spark, t):
    """Corpus profile per (lang, source): doc count, avg chars, avg tokens."""
    return (
        t["documents"]
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r4(F.avg("n_chars")).alias("avg_chars"),
            r4(F.avg(F.size(_tokens()))).alias("avg_tokens"),
        )
    )


@register(
    "text_ngrams",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos)
               AS bigram
      FROM tok
    )
    SELECT doc_id, bigram, COUNT(*) AS cnt
    FROM big WHERE bigram IS NOT NULL
    GROUP BY doc_id, bigram
    """,
    tier="P2",
)
def text_ngrams(spark, t):
    """Per-document bigram counts.

    Built by exploding ``arrays_zip`` of shifted ``slice`` views (plain
    codegen expressions) — one pass, no per-token shuffle for a window
    sort, and no lambda higher-order functions, which evaluate
    interpreted (the ``transform``-over-``sequence`` form this replaced
    measured 4.1 s at sf0.1 vs 0.5 s; same lesson as
    ``text_rep_ngram_filter``).
    """
    from .corpus import _gram_rows

    return (
        _gram_rows(t["documents"], 2)
        .withColumnRenamed("gram", "bigram")
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS BIGINT) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 5
    """,
    tier="P2",
)
def text_tfidf(spark, t):
    """tf-idf per (doc, term); top-5 terms per doc.

    Ranking happens on the ROUNDED score (then term as tie-break): ln()
    differs in the last ulp between libm and the JVM, so ranking raw
    doubles would flip near-ties across engines.

    Scale: doc count N is joined in via a broadcast 1-row aggregate, not
    a driver-side collect.
    """
    docs = t["documents"]
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf (tf is already distinct per (doc, term)), not from
    # a second pass over the exploded tokens — one fewer scan and a plain
    # count instead of countDistinct's expand (measured 1.7× on this stage)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            r4(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.select(
            "doc_id",
            "term",
            "tfidf",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


@register(
    "text_token_bpe",
    oracle=r"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+')))
                AS BIGINT) AS n_tokens,
           round(AVG(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+'))), 4)
             AS avg_tokens
    FROM documents GROUP BY lang
    """,
    tier="P2",
)
def text_token_bpe(spark, t):
    """BPE-style pre-tokenizer counts per language: letter runs, digit
    runs, and punctuation runs each count as one token (the GPT-2
    pre-tokenizer shape, restricted to a regex subset with identical
    semantics in Java regex and RE2 so the oracle is portable). The
    regexp_extract_all runs inside whole-stage codegen — no Python."""
    n_tok = F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0)))
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.sum(n_tok).cast("long").alias("n_tokens"),
            r4(F.avg(n_tok)).alias("avg_tokens"),
        )
    )


@register(
    "text_lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE
             WHEN contains(text, ' le ') OR contains(text, ' la ') THEN 'fr-ish'
             WHEN contains(text, ' der ') OR contains(text, ' und ') THEN 'de-ish'
             WHEN contains(text, ' el ') OR contains(text, ' los ') THEN 'es-ish'
             WHEN contains(text, ' the ') OR contains(text, ' and ') THEN 'en-ish'
             ELSE 'other'
           END AS guessed
    FROM documents
    """,
    tier="P2",
)
def text_lang_id(spark, t):
    """Heuristic language ID via stopword n-gram cues (deterministic rule
    chain — a real pipeline would plug a model UDF into this same shape)."""
    txt = F.col("text")
    return t["documents"].select(
        "doc_id",
        "lang",
        F.when(txt.contains(" le ") | txt.contains(" la "), "fr-ish")
        .when(txt.contains(" der ") | txt.contains(" und "), "de-ish")
        .when(txt.contains(" el ") | txt.contains(" los "), "es-ish")
        .when(txt.contains(" the ") | txt.contains(" and "), "en-ish")
        .otherwise("other")
        .alias("guessed"),
    )


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_distinct_tokens,
           round(len(list_distinct(string_split(text, ' '))) * 1.0
                 / len(string_split(text, ' ')), 4) AS ttr,
           round(n_chars * 1.0 / len(string_split(text, ' ')), 4)
             AS avg_token_len,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 200
                 AND len(list_distinct(string_split(text, ' '))) * 1.0
                     / len(string_split(text, ' ')) > 0.2
                THEN 1 ELSE 0 END AS quality_ok
    FROM documents
    """,
    tier="P2",
)
def text_quality_score(spark, t):
    """Document quality heuristics: token count, type-token ratio, average
    token length, and a composite keep/drop flag — the standard pre-training
    corpus filter shape."""
    toks = _tokens()
    n_tok = F.size(toks).cast("long")
    n_dis = F.size(F.array_distinct(toks)).cast("long")
    ttr = n_dis / n_tok
    return t["documents"].select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct_tokens"),
        r4(ttr).alias("ttr"),
        r4(F.col("n_chars") / n_tok).alias("avg_token_len"),
        F.when((n_tok.between(10, 200)) & (ttr > 0.2), 1)
        .otherwise(0)
        .alias("quality_ok"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS fp_md5,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fp_tokenset
    FROM documents
    """,
    tier="P2",
)
def text_fingerprint(spark, t):
    """Document fingerprints: content hash + order-insensitive token-set
    hash (the key building block for exact/near dedup pipelines)."""
    toks = _tokens()
    return t["documents"].select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp_md5"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(toks)), " ")
        ).alias("fp_tokenset"),
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH counts AS (
      SELECT token, COUNT(*)::DOUBLE AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, token ASC) AS r
      FROM counts
    )
    SELECT round(regr_slope(ln(c), ln(r)), 6) AS zipf_slope,
           round(regr_intercept(ln(c), ln(r)), 6) AS zipf_intercept,
           round(regr_r2(ln(c), ln(r)), 6) AS fit_r2,
           COUNT(*) AS vocab_size
    FROM ranked
    """,
    tier="P2",
)
def text_zipf_fit(spark, t):
    """Zipf's-law fit of the corpus unigram distribution: OLS of
    ln(frequency) on ln(rank) over the ranked vocabulary, reporting the
    slope (natural text ≈ −1; this synthetic near-uniform corpus fits a
    shallow slope — itself a corpus-health signal), intercept, R², and
    vocabulary size. Deviation from the expected slope is a cheap
    distribution-level screen for machine-generated or templated text
    before expensive per-doc scoring.

    Scale shape: one token-stream aggregate folds the corpus to the
    vocabulary-sized count table; the rank comes from the two-phase
    distributed global rank (never a partition-less window over the
    vocabulary — the round-2 ``dedup_near_jaccard`` lesson), and the
    regression folds via the same one-pass REGR_* sufficient statistics
    as ``agg_regression`` (bit-stable at 6 dp cross-engine). 100 TB
    cost: the token-count shuffle; everything after is vocab-sized.
    """
    from .windows import two_phase_global_rank

    counts = (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    ranked = two_phase_global_rank(
        counts, [F.desc("c"), F.asc("token")]
    ).select(F.log("c").alias("y"), F.log(F.col("rn").cast("double")).alias("x"))
    return ranked.agg(
        F.round(F.regr_slope("y", "x"), 6).alias("zipf_slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("zipf_intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("fit_r2"),
        F.count(F.lit(1)).alias("vocab_size"),
    )


@register(
    "text_pmi_collocations",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    n_docs AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM tok),
    df AS (SELECT w, COUNT(*) AS dfreq FROM tok GROUP BY w),
    co AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS co_docs
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w HAVING COUNT(*) >= 5
    )
    SELECT w1, w2, co_docs,
           round(ln((co_docs * n.n) / (d1.dfreq * CAST(d2.dfreq AS DOUBLE))),
                 6) AS pmi
    FROM co
    JOIN df d1 ON d1.w = co.w1
    JOIN df d2 ON d2.w = co.w2
    CROSS JOIN n_docs n
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
    tier="P2",
)
def text_pmi_collocations(spark, t):
    """Top collocations by pointwise mutual information: token pairs
    that co-occur in documents far more than their independent
    frequencies predict — PMI = ln(p(a,b)/(p(a)·p(b))) over the
    document-level co-occurrence, with a min-support floor (≥5 docs)
    that kills the rare-pair PMI explosion. The corpus-linguistics
    primitive behind phrase mining and tokenizer-merge candidates.

    Co-occurrence counts come from the doc-keyed self-join of the
    distinct (doc, token) projection — per-doc fan-out is vocabulary²
    of the DOC (bounded by doc length), never corpus-wide; the df table
    is vocabulary-sized and broadcasts; the ranked cut compares rounded
    PMI with pair tie-breaks through TakeOrderedAndProject.
    """
    tok = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
        )
        .cache()
    )
    n_docs = tok.agg(
        F.countDistinct("doc_id").cast("double").alias("n")
    )
    df = tok.groupBy("w").agg(F.count(F.lit(1)).alias("dfreq"))
    a, b = tok.alias("a"), tok.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("co_docs"))
        .filter(F.col("co_docs") >= 5)
    )
    d1 = df.select(F.col("w").alias("w1"), F.col("dfreq").alias("df1"))
    d2 = df.select(F.col("w").alias("w2"), F.col("dfreq").alias("df2"))
    pmi = F.round(
        F.log(
            (F.col("co_docs") * F.col("n"))
            / (F.col("df1") * F.col("df2").cast("double"))
        ),
        6,
    )
    return (
        co.join(F.broadcast(d1), "w1")
        .join(F.broadcast(d2), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select("w1", "w2", "co_docs", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@register(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT source, token, COUNT(*) AS freq
      FROM tok GROUP BY source, token
    )
    SELECT source,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab_size,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hapax,
           round(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS hapax_ratio,
           round(COUNT(*) * 1.0 / SUM(freq), 4) AS type_token_ratio
    FROM tf
    GROUP BY source
    ORDER BY source
    """,
    tier="P2",
)
def text_hapax_ratio(spark, t):
    """Lexical-richness profile per source: vocabulary size, hapax
    legomena (terms occurring exactly once), hapax ratio, and type-token
    ratio. In corpus QC a collapsing hapax ratio across crawl snapshots
    is the classic early signal of template/boilerplate contamination —
    complementing ``text_zipf_fit`` (distribution shape) and
    ``text_vocab_coverage`` (OOV mass).

    One token explode into a (source, token) hash aggregate, folded to a
    |sources|-row report — the second level's input is bounded by
    sources × vocabulary, so nothing downstream of the first aggregate
    is corpus-sized.
    """
    tf = (
        t["documents"]
        .select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    hapax = F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
    return (
        tf.groupBy("source")
        .agg(
            F.sum("freq").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            hapax.alias("n_hapax"),
            F.round(hapax * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
                "hapax_ratio"
            ),
            F.round(
                F.count(F.lit(1)) * F.lit(1.0) / F.sum("freq"), 4
            ).alias("type_token_ratio"),
        )
        .orderBy("source")
    )


#: content-policy blocklist (stand-in terms drawn from the fixture
#: vocabulary so every SF exercises both hit and miss paths; a real
#: deployment swaps in its policy list — the shape is identical).
BLOCKLIST = ("slow", "big")


@register(
    "text_blocklist_filter",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    hits AS (
      SELECT doc_id, source,
             SUM(CASE WHEN token IN ('slow', 'big') THEN 1 ELSE 0 END)
               AS n_hits,
             COUNT(*) AS n_tokens
      FROM tok GROUP BY doc_id, source
    )
    SELECT doc_id, source, CAST(n_hits AS BIGINT) AS n_hits,
           round(n_hits * 1.0 / n_tokens, 4) AS hit_ratio,
           CASE WHEN n_hits * 1.0 / n_tokens > 0.05 THEN 0 ELSE 1 END
             AS keep_flag
    FROM hits
    """,
    tier="P1",
)
def text_blocklist_filter(spark, t):
    """Wordlist content filter: per document, blocklisted-term count,
    density, and a keep/drop flag at a 5 % density threshold — the
    safety-filter stage every pretraining pipeline runs between quality
    scoring (``text_quality_score``) and dedup, here with a fixture-
    vocabulary stand-in list so both branches of the flag are exercised
    at every SF.

    Density (not a raw contains()) is the production form — a single
    mention in a long document shouldn't kill it — and the whole
    operator is one token explode + per-doc conditional fold; the
    blocklist lives in the filter expression (a real deployment
    broadcasts a list table and semi-joins, same plan class as
    ``corpus_decontaminate``).
    """
    return (
        t["documents"]
        .select("doc_id", "source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "source")
        .agg(
            F.sum(
                F.when(F.col("token").isin(*BLOCKLIST), 1).otherwise(0)
            ).alias("n_hits"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            "doc_id",
            "source",
            "n_hits",
            F.round(F.col("n_hits") * F.lit(1.0) / F.col("n_tokens"), 4).alias(
                "hit_ratio"
            ),
            F.when(
                F.col("n_hits") * F.lit(1.0) / F.col("n_tokens") > 0.05, 0
            )
            .otherwise(1)
            .alias("keep_flag"),
        )
    )


@register(
    "text_lang_label_audit",
    oracle="""
    WITH guessed AS (
      SELECT lang,
             CASE
               WHEN contains(text, ' le ') OR contains(text, ' la ') THEN 'fr-ish'
               WHEN contains(text, ' der ') OR contains(text, ' und ') THEN 'de-ish'
               WHEN contains(text, ' el ') OR contains(text, ' los ') THEN 'es-ish'
               WHEN contains(text, ' the ') OR contains(text, ' and ') THEN 'en-ish'
               ELSE 'other'
             END AS guessed
      FROM documents
    )
    SELECT lang, guessed, COUNT(*) AS n_docs
    FROM guessed
    GROUP BY lang, guessed
    ORDER BY lang, guessed
    """,
    tier="P2",
)
def text_lang_label_audit(spark, t):
    """Language-label quality audit: the confusion matrix between the
    table's declared ``lang`` label and the heuristic detector's guess
    (``text_lang_id``) — the label-vs-detector disagreement census that
    decides whether a corpus's metadata can be trusted for mix planning
    (``corpus_mix_rebalance`` keys on lang; if this matrix is
    off-diagonal-heavy, so is the mix).

    One projection (the same rule chain as the detector) + a
    |langs|×|guesses|-bounded aggregate.
    """
    txt = F.col("text")
    guessed = (
        F.when(txt.contains(" le ") | txt.contains(" la "), "fr-ish")
        .when(txt.contains(" der ") | txt.contains(" und "), "de-ish")
        .when(txt.contains(" el ") | txt.contains(" los "), "es-ish")
        .when(txt.contains(" the ") | txt.contains(" and "), "en-ish")
        .otherwise("other")
    )
    return (
        t["documents"]
        .select("lang", guessed.alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "guessed")
    )


@register(
    "text_readability_score",
    oracle="""
    WITH d AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]')))
               AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS n_syllables
      FROM documents
    ),
    s AS (
      SELECT source, n_words, n_sentences, n_syllables,
             round(206.835
                   - 1.015 * (n_words::DOUBLE / n_sentences)
                   - 84.6 * (n_syllables::DOUBLE / n_words), 4) AS flesch
      FROM d WHERE n_words > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(AVG(n_words::DOUBLE / n_sentences), 4)
             AS avg_words_per_sentence,
           round(AVG(n_syllables::DOUBLE / n_words), 4)
             AS avg_syllables_per_word,
           round(AVG(flesch), 4) AS avg_flesch
    FROM s GROUP BY source
    """,
    tier="P2",
)
def text_readability_score(spark, t):
    """Readability profiling per source (Flesch reading-ease over
    deterministic integer proxies: words = space tokens, sentences =
    terminal-punctuation count clamped to ≥1, syllables = vowel-group
    count — the standard library-free approximation): the curation
    screen that separates 'natural prose' from listings/code/boilerplate
    ORTHOGONALLY to ``text_quality_score``'s length/punct ratios and
    ``corpus_lm_quality``'s LM surprisal — classic filtering stacks
    (C4, Gopher rules) use both families.

    All three counters are single-pass JVM ``regexp_count``/``size
    (split)`` codegen expressions (Java regex and DuckDB RE2 agree on
    these character-class patterns — the repo's cross-engine regex
    discipline, path_regex_match note); per-doc ratios exist as doubles
    exactly once, the per-source AVG folds are 4-dp rounded. One scan,
    one groupBy(source) — a map-side-combining aggregate whose shuffle
    is |sources| rows; at 100 TB this is scan-bound, exactly like the
    other corpus screens.
    """
    n_words = F.size(_tokens())
    n_sentences = F.greatest(
        F.lit(1), F.regexp_count("text", F.lit(r"[.!?]"))
    )
    n_syllables = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
    d = (
        t["documents"]
        .select(
            "source",
            n_words.alias("n_words"),
            n_sentences.alias("n_sentences"),
            n_syllables.alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    flesch = F.round(
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
    )
    return (
        d.select("source", wps.alias("wps"), spw.alias("spw"), flesch.alias("fl"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r4(F.avg("wps")).alias("avg_words_per_sentence"),
            r4(F.avg("spw")).alias("avg_syllables_per_word"),
            r4(F.avg("fl")).alias("avg_flesch"),
        )
    )


@register(
    "text_code_detect",
    oracle=r"""
    WITH d AS (
      SELECT source,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS sym_cnt,
             len(regexp_extract_all(text, '[0-9]')) AS digit_cnt
      FROM documents WHERE length(text) > 0
    ),
    f AS (
      SELECT source, n_chars, sym_cnt, digit_cnt,
             (sym_cnt * 50 > n_chars OR digit_cnt * 10 > n_chars)
               AS is_code
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT)
             AS n_code_flagged,
           round(AVG(sym_cnt::DOUBLE / n_chars), 6) AS avg_sym_ratio,
           round(AVG(digit_cnt::DOUBLE / n_chars), 6) AS avg_digit_ratio
    FROM f GROUP BY source
    """,
    tier="P2",
)
def text_code_detect(spark, t):
    """Code-vs-prose detection per source — the curation screen that
    keeps (or routes) source files, config dumps and markup that slipped
    into a web corpus: flag a doc as code-like when structural symbols
    exceed 2 % of characters or digits exceed 10 % (the cheap
    high-precision tier every pipeline runs before an expensive
    classifier; cf. the heuristic stage of CodeParrot/StarCoder
    filtering).

    The VERDICT is an exact integer cross-multiply (``sym_cnt·50 >
    n_chars`` ≡ ratio > 2 % with no float threshold seam — the
    ``corpus_importance_resampling`` discipline); only the REPORTED
    average ratios are floats, 6-dp rounded at the fold. Counters are
    single-pass codegen ``regexp_count`` over a character class (Java
    regex ≡ DuckDB RE2 on character classes). One scan, one
    groupBy(source): scan-bound at 100 TB like the other screens.
    """
    sym_cnt = F.regexp_count("text", F.lit(r"[{}();=<>\[\]]"))
    digit_cnt = F.regexp_count("text", F.lit("[0-9]"))
    n_chars = F.length("text")
    d = (
        t["documents"]
        .filter(F.length("text") > 0)
        .select(
            "source",
            n_chars.alias("n_chars"),
            sym_cnt.alias("sym_cnt"),
            digit_cnt.alias("digit_cnt"),
        )
    )
    is_code = (F.col("sym_cnt") * 50 > F.col("n_chars")) | (
        F.col("digit_cnt") * 10 > F.col("n_chars")
    )
    return (
        d.select(
            "source",
            is_code.alias("is_code"),
            (F.col("sym_cnt").cast("double") / F.col("n_chars")).alias("sr"),
            (F.col("digit_cnt").cast("double") / F.col("n_chars")).alias("dr"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_code"), 1).otherwise(0)).alias(
                "n_code_flagged"
            ),
            F.round(F.avg("sr"), 6).alias("avg_sym_ratio"),
            F.round(F.avg("dr"), 6).alias("avg_digit_ratio"),
        )
    )


#: BM25 hyperparameters (Robertson-Sparck Jones defaults) and the fixed
#: evaluation query set (terms from the corpus vocabulary).
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_QUERIES = [
    ("q1", ["hash", "join"]),
    ("q2", ["scan", "filter", "column"]),
    ("q3", ["stream", "window"]),
]
#: per-(doc, term) score quantization scale (micro-unit idiom)
_BM25_Q = 1 << 30


def _bm25_oracle() -> str:
    qrows = ", ".join(
        f"('{qid}', '{term}')"
        for qid, terms in _BM25_QUERIES
        for term in terms
    )
    return f"""
    WITH q AS (SELECT * FROM (VALUES {qrows}) t(query_id, term)),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     SUM(dl) / COUNT(*) AS avgdl
              FROM dl),
    tf AS (
      SELECT t.doc_id, t.token AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t
      WHERE t.token IN (SELECT DISTINCT term FROM q)
      GROUP BY 1, 2
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM tf GROUP BY term),
    part AS (
      SELECT tf.doc_id, tf.term,
             CAST(floor(
               ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * {_BM25_K1 + 1}) / (tf.tf + {_BM25_K1} *
                  (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
               * {_BM25_Q}) AS BIGINT) AS sq
      FROM tf
      JOIN df ON df.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT q.query_id, p.doc_id,
             CAST(SUM(p.sq) AS BIGINT) AS score_q
      FROM q JOIN part p ON p.term = q.term
      GROUP BY q.query_id, p.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, score_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_q DESC, doc_id) AS rk
      FROM scored
    )
    SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, score_q,
           round(score_q / {_BM25_Q}.0, 6) AS score
    FROM ranked WHERE rk <= 10
    ORDER BY query_id, rk
    """


@register("text_bm25_search", oracle=_bm25_oracle(), tier="P1")
def text_bm25_search(spark, t):
    """BM25 ranked retrieval — the lexical search baseline every corpus
    platform ships (and the re-rank seed under most RAG stacks): for a
    fixed 3-query evaluation set, score every document with
    Robertson's Okapi BM25 (k1 = 1.2, b = 0.75) and report each
    query's top-10. Complements ``text_tfidf`` (raw weights) and the
    ANN family (semantic search) with the exact term-based ranker.

    Scale shape: ONE pass over the token stream computes doc length
    AND the per-term tf columns as conditional sums in the same
    map-side-combined aggregate (the query terms are a build-time
    constant, so each is a named column; r9 — the previous form ran a
    dl aggregate and a semi-join+tf aggregate as two differently-keyed
    exchanges, i.e. two full token-explode map passes). Non-query
    tokens never reach the wire either way — here they collapse into
    the partial aggregate. The exploded (doc, term, tf>0) matched set
    is tiny; scoring is per-row arithmetic; the final top-10 window
    partitions by query.

    Determinism: tf/dl/df/N are exact integers, avgdl is one division
    of exact sums, idf = ln(1 + (N-df+0.5)/(df+0.5)) and the saturation
    term form a FIXED expression tree both engines round identically;
    each per-(doc,term) score floors to 2^-30 micro-units so the
    per-doc sum is an exact integer and the (score DESC, doc_id) cut
    is stable.
    """
    q = spark.createDataFrame(
        [
            (qid, term)
            for qid, terms in _BM25_QUERIES
            for term in terms
        ],
        "query_id string, term string",
    )
    tok = t["documents"].select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    terms = sorted({term for _, ts in _BM25_QUERIES for term in ts})
    wide = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl"),
        *[
            F.sum((F.col("token") == tm).cast("bigint")).alias(f"tf{i}")
            for i, tm in enumerate(terms)
        ],
    )
    stats = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    # unstack the tf columns and keep matches; dl rides along, so no
    # dl join is needed downstream (three consumers of `wide` share its
    # single groupBy exchange via ReusedExchange)
    matched = (
        wide.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(tm).alias("term"),
                            F.col(f"tf{i}").alias("tf"),
                        )
                        for i, tm in enumerate(terms)
                    ]
                )
            ).alias("e"),
        )
        .select("doc_id", "dl", "e.term", "e.tf")
        .filter(F.col("tf") > 0)
    )
    df = matched.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sat = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1
        * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    part = (
        matched.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.floor(idf * sat * _BM25_Q).cast("bigint").alias("sq"),
        )
    )
    scored = (
        q.join(part, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("sq").cast("bigint").alias("score_q"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), "doc_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 10)
        .select(
            "query_id",
            "rk",
            "doc_id",
            "score_q",
            F.round(F.col("score_q") / float(_BM25_Q), 6).alias("score"),
        )
        .orderBy("query_id", "rk")
    )

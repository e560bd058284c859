"""Deduplication operators (SURVEY.md §2-J, dedup half).

The LLM-pipeline dedup ladder, each rung one order of magnitude more
scalable than the last:

1. ``dedup_exact``        — hash-groupBy on normalized text. O(n), one shuffle.
2. ``dedup_near_jaccard`` — EXACT all-pairs token-set Jaccard via an
   inverted-index join (candidates only share-a-token pairs; never the
   O(n²) cross join). SQL-oracle-checkable.
3. ``dedup_near_minhash`` — MinHash+LSH banding: candidate pairs from
   band-bucket joins, then exact verification of candidates only. The
   100 TB path (probabilistic recall ⇒ rows-only; recall asserted vs the
   exact operator in tests).
4. ``dedup_simhash``      — 64-bit SimHash fingerprints bucketed by
   Hamming-ball bands (deterministic, SQL-checkable construction).

Scale notes: the inverted-index join's worst case is a stop-token whose
posting list is huge; production form would drop ultra-common tokens
(df-based) before the self-join — the fixtures' 31-token vocabulary makes
every token "common", which is the adversarial case, and the pair count
still stays ≤ C(n,2) after the groupBy.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.helpers import r4
from ..functions.portable_hash import ph60
from ..registry import register
from .corpus import _gram_rows
from .windows import two_phase_global_rank

#: Widest vocabulary the bitmask set representation encodes (64 mask
#: words per document); ``_mask_words`` returns 0 past it and the set
#: builders hand the verify per-doc element arrays instead.
_MASK_VOCAB_MAX = 4096

#: Estimated mask-frame size (``_mask_bytes``) above which the
#: verify sides join WITHOUT the explicit broadcast hint (r9, VERDICT r8
#: item 3): an explicit ``F.broadcast`` bypasses autoBroadcastJoinThreshold
#: entirely, so at ~10⁸ docs it would force a multi-GB broadcast into the
#: 8 GB relation cap / driver heap where a shuffle join is the honest
#: plan. 256 MB estimated (≤ ~1 GB built, hash-table overhead included)
#: keeps the hint for any mask frame the driver can plainly hold.
_MASK_BROADCAST_MAX = 256 << 20


def _mask_bytes(n_docs: int, n_words: int) -> int:
    """Estimated size of one mask verify side: ``n_docs`` rows ×
    (8·W + 12) bytes (doc id, set size and W mask words)."""
    return n_docs * (8 * n_words + 12)


def _mask_hint(side, n_docs: int, n_words: int):
    """Broadcast-hint a mask verify side only while ``_mask_bytes``
    stays under ``_MASK_BROADCAST_MAX``; past that, return it unhinted
    and let the planner pick the join — the verify arithmetic is
    unchanged."""
    if _mask_bytes(n_docs, n_words) <= _MASK_BROADCAST_MAX:
        return F.broadcast(side)
    return side


def _mask_words(n_vocab: int) -> int:
    """Bitmask words (64-bit longs) needed for a dense 1..n_vocab rank
    space, or 0 when the vocabulary exceeds ``_MASK_VOCAB_MAX``."""
    if n_vocab > _MASK_VOCAB_MAX:
        return 0
    return max(1, -(-int(n_vocab) // 64))


def _mask_aggs(n_words: int) -> list:
    """W ``bit_or`` aggregates folding 1-based element ranks ``r`` into a
    W-word bitset (word k holds ranks 64k+1..64k+64). Duplicate
    (doc, r) rows are absorbed by the OR, so callers may feed either a
    distinct or a raw element stream. All codegen: the per-pair verify
    downstream is ``bit_count(lo & hi)`` sums instead of
    ``array_intersect`` hash-set builds (guide §2.3 narrow-types /
    §1.2 per-task-work: measured 10-12x on the 8.5M-row raw candidate
    stream of the bigram prefix join at sf0.1)."""
    return [
        F.expr(
            f"bit_or(CASE WHEN (r - 1) div 64 = {k} THEN "
            f"shiftleft(CAST(1 AS BIGINT), (r - 1) % 64) "
            f"ELSE CAST(0 AS BIGINT) END)"
        ).alias(f"m{k}")
        for k in range(n_words)
    ]


def _verified_pairs(
    cand,
    sets,
    n_words: int,
    n_docs: int,
    tau: float,
    keys: tuple[str, str] = ("id_lo", "id_hi"),
    measure: str = "jaccard",
    dedup: bool = True,
):
    """EXACT set-overlap verify of a candidate-pair frame ``cand``
    (keyed ``keys``; other columns are ignored) against a per-doc set
    frame ``sets``; returns (lo_key, hi_key, measure[raw double]) at
    measure ≥ tau.

    ``sets`` is ``(doc_id, n, m0..m{W-1})`` with ``n_words`` = W > 0 —
    rank bitmasks — or ``(doc_id, n, elems)`` with ``n_words`` = 0 —
    element arrays, for vocabularies past ``_MASK_VOCAB_MAX``; extra
    columns are ignored. ``n`` is the exact set size, |A∩B| is
    computed once as ``inter`` (a popcount sum over the mask words, or
    ``size(array_intersect)``), and ``measure`` is ``"jaccard"``
    (inter / (n_lo + n_hi − inter)) or ``"containment"`` (inter /
    n_lo). Rank-encoding is a bijection and both n's are exact ints,
    so either int/int division is the same IEEE double as
    size(intersect) / size(union) resp. / size(lo).

    The two branches treat candidate multiplicity differently, and
    that is the whole point of the mask form (r8 optimization round,
    guide §2.4/§3.1):

    - *masks*: the mask frame is |docs| × (8W + 12) bytes, so both
      sides are broadcast (``_mask_hint`` drops the hint past
      ``_MASK_BROADCAST_MAX``) and the RAW candidate stream flows
      filter-first through two BroadcastHashJoins and a codegen
      popcount predicate without ever being exchanged; a duplicated
      candidate costs a few codegen ops. Only the τ-survivors pay the
      distinct — or none with ``dedup=False``, for consumers whose
      downstream aggregation absorbs duplicates anyway (the CC
      min-contraction: r9, measured 7.02 s → 6.58 s). The r7 form
      exchanged the full candidate set first (8.5M rows → 4.1M pairs at
      sf0.1) before two shuffled array joins.
    - *arrays*: every candidate copy would carry and intersect two
      unbounded arrays through unhinted shuffle joins, so the
      candidates are deduplicated FIRST and each pair is intersected
      once; the output is then distinct already and needs no second
      distinct.
    """
    lo_key, hi_key = keys

    def side(p, key, cols):
        return sets.select(
            F.col("doc_id").alias(key),
            F.col("n").alias(f"{p}_n"),
            *[F.col(c).alias(f"{p}_{c}") for c in cols],
        )

    if n_words:
        cols = [f"m{k}" for k in range(n_words)]
        lo = _mask_hint(side("lo", lo_key, cols), n_docs, n_words)
        hi = _mask_hint(side("hi", hi_key, cols), n_docs, n_words)
        inter = reduce(
            add,
            [F.bit_count(F.col(f"lo_{c}").bitwiseAND(F.col(f"hi_{c}"))) for c in cols],
        )
    else:
        lo, hi = side("lo", lo_key, ["elems"]), side("hi", hi_key, ["elems"])
        inter = F.size(F.array_intersect("lo_elems", "hi_elems"))
        cand, dedup = cand.select(*keys).distinct(), False
    if measure == "jaccard":
        score = inter / (F.col("lo_n") + F.col("hi_n") - inter)
    else:
        score = inter / F.col("lo_n")
    out = (
        cand.join(lo, lo_key)
        .join(hi, hi_key)
        .filter(score >= tau)
        .select(lo_key, hi_key, score.alias(measure))
    )
    return out.distinct() if dedup else out


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(lower(trim(text))) AS text_hash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY sha256(lower(trim(text)))
    """,
    tier="P1",
)
def dedup_exact(spark, t):
    """Exact duplicate groups keyed on sha2(normalized text); the keeper is
    the minimum doc_id (deterministic survivor policy)."""
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    return (
        t["documents"]
        .groupBy(h.alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


_JACCARD_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS id_lo, b.doc_id AS id_hi, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.id_lo, p.id_hi,
       round(p.n_common * 1.0 / (sa.n + sb.n - p.n_common), 4) AS jaccard
FROM pair p
JOIN sz sa ON sa.doc_id = p.id_lo
JOIN sz sb ON sb.doc_id = p.id_hi
WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.9
"""


def _ranked_token_sets(t):
    """Each document's distinct-token set as a sorted array of dense int
    ranks in the global (df asc, token asc) total order, plus its
    bitmask words — the shared foundation of the exact set-similarity
    joins (``_near_dup_pairs``, ``dedup_containment``). Returns the
    ``(frame, n_words, n_docs)`` triple of ``_ranked_sets``.

    Dictionary-encoding tokens as ranks serves pruning and verification
    with one structure: the sorted rank array IS the doc's ordered token
    set, its head slice IS the rare-token prefix, and the exact verify
    intersects int arrays instead of string arrays — measured 3.7× on
    the whole jaccard operator at sf0.1 (46.6 s → 12.5 s; string
    intersects over 3.7 M candidate pairs were ~85 % of runtime). The
    rank is computed with the two-phase distributed global rank — a
    partition-less row_number here collapsed the vocabulary-sized df
    table to ONE task, and Catalyst re-expands this subtree 4× in the
    final plan, so the single-partition sort ran four times.
    """
    tok = t["documents"].select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    return _ranked_sets(tok)


def _ranked_sets(items):
    """Generic core of ``_ranked_token_sets``: rank-encode any distinct
    (doc_id, token) stream — tokens, shingles, any set element — into
    per-doc sorted int-rank arrays (added r6 so the bigram-shingle join
    shares the prefix-filter machinery).

    Returns ``(frame, n_words, n_docs)``, the frame CACHED: it carries
    each doc's sorted rank array ``elems`` (feeds the prefix slice and
    the array verify) and, when the vocabulary is mask-encodable
    (``_mask_words`` > 0), the n_words bitmask words ``m0..m{W-1}``
    folded in the SAME aggregation pass — the verify-side set
    representation that replaces array_intersect with codegen popcounts
    (r8 optimization round; guide §1.2 step 1). ``n_words`` is 0 when
    the vocabulary is too wide to mask, and ``_verified_pairs`` takes
    its array branch. ``n_docs`` (distinct doc count = the mask frame's
    row count) rides the SAME one-job aggregate as the vocabulary count
    — it feeds the r9 broadcast-size guard (``_mask_hint``) at zero
    extra actions; the two-scalar aggregate is driver-side by
    construction (one row out of the element stream)."""
    dfreq = items.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    rank = two_phase_global_rank(dfreq, [F.asc("df"), F.asc("token")]).select(
        "token", F.col("rn").cast("int").alias("r")
    )
    n_vocab, n_docs = items.select(
        F.countDistinct("token"), F.countDistinct("doc_id")
    ).first()
    n_words = _mask_words(n_vocab)
    ranked = items.join(F.broadcast(rank), "token")
    # Deliberately NOT checkpointed (measured in the r8 optimization
    # round): a checkpoint here erases the frame's statistics, and the
    # prefix self-join that reads it degrades from the planner's
    # broadcast hash join to a sort-merge join on the
    # ~vocabulary-cardinality rank key — the bigram rung measured 6.6 s
    # (recompute, broadcast plan) vs 25.5 s (checkpoint, SMJ plan).
    # Cached instead: both consumers (_prefix_filtered_pairs,
    # dedup_containment) read the frame three or four times (prefix or
    # probe explode, index, both verify sides), and an InMemoryRelation
    # keeps the child's statistics, so the broadcast plan survives while
    # the token-scan + rank subtree computes once per execution (r9;
    # measured 3.67 s → 2.53 s on the τ=0.9 pair frame; 2.7 s vs 19 s
    # against the checkpoint on dedup_containment).
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("r")).alias("elems"),
            *_mask_aggs(n_words),
        )
        .cache(),
        n_words,
        n_docs,
    )


def _near_dup_pairs(t, tau: float = 0.9, dedup: bool = True):
    """Shared exact near-dup pair builder (prefix-filtered inverted-index
    join) returning (id_lo, id_hi, jaccard[raw double]) at Jaccard ≥ tau.
    Used by ``dedup_near_jaccard`` (pair listing) and
    ``dedup_connected_components`` (clustering).

    Pruning, both lossless for a fixed threshold τ:
    - *Prefix filter*: with every doc's token set sorted by one global
      total order (ascending document frequency, then token), any pair
      with J ≥ τ must share a token within each doc's first
      n − ⌈τ·n⌉ + 1 tokens — so only that ~(1−τ) fraction (plus 1) of
      each doc is indexed, shrinking posting lists ~10× at τ=0.9.
      Rare-token-first ordering also puts the shortest posting lists in
      the index — the stop-token problem solves itself instead of
      needing a df cutoff. Measured on these adversarial fixtures
      (31-token vocab: every token is a stop token) candidates still
      drop 124,745 → 38,541 (3.2×) at sf0.01; on Zipfian real corpora
      the drop is orders of magnitude.
    - *Length filter*: J ≤ min(|A|,|B|)/max(|A|,|B|), so candidates with
      min < τ·max are dropped inside the join condition.

    Candidates then get one exact verify (``_verified_pairs``: rank
    bitmask popcounts, or array_intersect past ``_MASK_VOCAB_MAX``),
    and the ≥ τ comparison is an IEEE-identical double division on both
    engines. At 100 TB the shuffle key is the (rare) prefix token and the
    df table joined in for ordering is vocabulary-sized — broadcastable.
    """
    return _prefix_filtered_pairs(_ranked_token_sets(t), tau, dedup=dedup)


def _prefix_filtered_pairs(ranked, tau: float, dedup: bool = True):
    """PPJoin-family prefix+length-filtered exact similarity join over
    a ``_ranked_sets`` result; returns (id_lo, id_hi, jaccard[raw
    double]) at Jaccard ≥ tau, distinct unless ``dedup=False`` (factored
    out in r6 so the bigram-shingle variant reuses it at τ=0.6).

    The raw prefix-join output, one row per shared prefix rank, goes
    straight to ``_verified_pairs``, which decides whether the
    candidate multiplicity is kept (mask branch) or removed first
    (array branch).
    """
    tokr, n_words, n_docs = ranked
    sets = tokr.withColumn("n", F.size("elems"))
    n = F.col("n")
    prefix_len = (n - F.ceil(n * F.lit(tau)).cast("int") + 1).cast("int")
    prefix = sets.select(
        "doc_id",
        "n",
        F.explode(F.slice("elems", F.lit(1), prefix_len)).alias("r"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = a.join(
        b,
        (F.col("a.r") == F.col("b.r"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.least(F.col("a.n"), F.col("b.n"))
            >= F.lit(tau) * F.greatest(F.col("a.n"), F.col("b.n"))
        ),
    ).select(F.col("a.doc_id").alias("id_lo"), F.col("b.doc_id").alias("id_hi"))
    return _verified_pairs(cand, sets, n_words, n_docs, tau, dedup=dedup)


@register("dedup_near_jaccard", oracle=_JACCARD_ORACLE, tier="P1")
def dedup_near_jaccard(spark, t):
    """Near-duplicate pairs with token-set Jaccard ≥ 0.9 — EXACT, via the
    prefix-filtered inverted-index join in ``_near_dup_pairs`` (PPJoin
    family pruning: prefix filter + length filter, both lossless)."""
    p = _near_dup_pairs(t, 0.9)
    return p.select("id_lo", "id_hi", r4(F.col("jaccard")).alias("jaccard"))


_NGRAM_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
g AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS gram
  FROM toks
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS id_lo, b.doc_id AS id_hi, COUNT(*) AS n_common
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.id_lo, p.id_hi,
       round(p.n_common * 1.0 / (sa.n + sb.n - p.n_common), 4) AS jaccard
FROM pair p
JOIN sz sa ON sa.doc_id = p.id_lo
JOIN sz sb ON sb.doc_id = p.id_hi
WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.6
"""


@register("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, tier="P1")
def dedup_ngram_jaccard(spark, t):
    """Near-duplicate pairs by word-bigram *shingle* Jaccard ≥ 0.6 — the
    classic w-shingling dedup (order-sensitive, unlike the token-set
    variant: swapping token order breaks shingles but not sets).

    Measured on these fixtures the two signals differ sharply: token-set
    Jaccard has mean 0.61 (vocab is only 31 words), while bigram-shingle
    Jaccard has mean 0.03 with 25 true near-dup pairs ≥ 0.6 — shingles
    kill the false positives that token sets admit. Since r6 this runs
    through the SAME prefix-filtered machinery as ``dedup_near_jaccard``
    (``_ranked_sets`` + ``_prefix_filtered_pairs`` at τ=0.6) instead of
    counting shared grams over the full inverted-index join.

    Honest measurement (sf0.1, quiet host): ~50 s either way, 256 output
    rows. On THIS adversarial corpus the prefix filter cannot win — the
    31-word vocabulary yields ≤961 distinct bigrams, so even each doc's
    rarest 40 % of shingles have posting lists hundreds long and the
    candidate set stays ~10⁸ pairs; the cost is intrinsic to the EXACT
    τ=0.6 join on a near-uniform gram space, not to the plan (DuckDB's
    shuffle-free single-node count does the same 10⁸ intermediates in
    ~2 s). On Zipfian real corpora the prefix drop is orders of
    magnitude, and at 100 TB the scale path is ``dedup_near_minhash``
    (same output set, LSH-banded candidates, ~3× faster here and
    asymptotically better everywhere).
    """
    # distinct (doc, shingle) rows via explode + DISTINCT: the zip-gram
    # build is plain codegen, where the per-row
    # array_distinct(transform(...)) form it replaced evaluates
    # interpreted (measured 23x on the rep filter; same lesson). The
    # distinct is one exchange on rows the downstream inverted-index
    # join reshuffles anyway.
    g = (
        _gram_rows(t["documents"], 2)
        .withColumnRenamed("gram", "token")
        .distinct()
    )
    p = _prefix_filtered_pairs(_ranked_sets(g), 0.6)
    return p.select("id_lo", "id_hi", r4(F.col("jaccard")).alias("jaccard"))


def _gram_masks(grams_rows):
    """Per-doc bitmask words over a RAW (doc_id, gram) stream (duplicate
    grams absorbed by the bit_or): rank the gram vocabulary — ANY
    bijection works for masks, only the prefix filter needs the df
    order, so a single-partition ``row_number`` over the (≤ 4096-row by
    the ``_MASK_VOCAB_MAX`` guard) vocabulary replaces the two-phase
    global rank's cache + range-exchange + offsets machinery — then
    fold ranks into ``n`` + ``m0..m{W-1}`` in one wide aggregation
    pass. Returns ``(frame, n_words, n_docs)`` in ``_verified_pairs``'s
    set contract: ``(doc_id, n, m0..m{W-1})``, or — when
    ``_mask_words`` is 0 (vocabulary past ``_MASK_VOCAB_MAX``) —
    ``(doc_id, n, elems)`` with ``elems`` the doc's ``collect_set``
    gram array. ``n_docs`` rides the same one-job aggregate as the
    vocabulary count (r9 broadcast-guard input). The rank table is
    vocabulary-sized — broadcastable by construction.

    Deliberately NOT checkpointed (measured, interleaved A/B under the
    nightly contention window): the eager repartition+localCheckpoint
    cost 4.4 s warm per build at sf0.1 — the materialization runs
    without whole-stage codegen (the recorded r8 lesson) and adds two
    driver-blocking jobs — while each broadcast verify side recomputes
    this subtree with codegen in ~0.3 s (near_minhash medians: 8.9 s
    checkpointed vs 7.3 s recomputed)."""
    n_vocab, n_docs = grams_rows.select(
        F.countDistinct("gram"), F.countDistinct("doc_id")
    ).first()
    n_words = _mask_words(n_vocab)
    if not n_words:
        sets = grams_rows.groupBy("doc_id").agg(
            F.collect_set("gram").alias("elems")
        )
        return sets.select("doc_id", F.size("elems").alias("n"), "elems"), 0, n_docs
    rank = grams_rows.select("gram").distinct().select(
        "gram",
        F.row_number().over(W.orderBy("gram")).cast("int").alias("r"),
    )
    masked = (
        grams_rows.join(F.broadcast(rank), "gram")
        .groupBy("doc_id")
        .agg(*_mask_aggs(n_words))
    )
    n = reduce(add, [F.bit_count(F.col(f"m{k}")) for k in range(n_words)])
    # cache, NOT localCheckpoint (r9, VERDICT r8 item 4 — interleaved
    # A/B at sf0.1 with clearCache between runs): both broadcast verify
    # sides project from this |docs|-row frame, and the cache lets the
    # second side read the first side's materialization instead of
    # re-running the gram scan + rank join + W-wide bit_or fold —
    # near_minhash 6.16 s → 3.20 s median. The checkpoint variant of
    # the same idea measured 6.76 s (materialization without
    # whole-stage codegen, the recorded r8 lesson), and cache keeps the
    # child's statistics where a checkpoint erases them.
    return (
        masked.select(
            "doc_id", n.alias("n"), *[f"m{k}" for k in range(n_words)]
        ).cache(),
        n_words,
        n_docs,
    )


#: The MinHash family the three LSH operators share — 64 Mersenne-prime
#: (2³¹−1) universal hashes (a·x + b) mod p of the portable shingle hash
#: ``ph60(gram, "mhs") mod p``. Unlike pyspark.ml's MinHashLSH (random
#: coefficients per fit) the family is fixed, so results are
#: reproducible run-to-run, and md5-based ph60 lets DuckDB recompute the
#: signatures bit-identically — the band sweep's and error curve's
#: oracles hash-check candidate COUNTS, not just verified survivors. The
#: 31-bit domain keeps a·x + b under 2⁶³: no bigint overflow under ANSI
#: mode (Spark 4 default raises on silent wraparound).
_MH_PRIME = (1 << 31) - 1
_MH_A = [((2 * i + 1) * 0x9E3779B9) % _MH_PRIME for i in range(64)]
_MH_B = [((i * i + 7) * 0x27D4EB4F) % _MH_PRIME for i in range(64)]


def _minhash_signatures(grams_rows):
    """``(doc_id, w0..w63)``: each doc's 64-slot MinHash signature over
    a RAW ``(doc_id, gram)`` stream — min() is duplicate-insensitive, so
    repeated shingles need no distinct.

    WIDE fold: 64 min-aggregates in ONE pass over the shingle-hash
    stream, so band keys and signature arrays are pure projections. The
    long format it replaced (explode to one row per (doc, slot), then a
    per-(doc, band) groupBy) pushed 64× the rows through the partial
    aggregate and paid a second keyed exchange — at sf0.1, the error
    curve's fold alone 1.95 s long vs 1.38 s wide (r8), the band sweep
    4.26 s vs 3.13 s in an interleaved A/B (r9), identical output. The
    r6-era "wide form is compile-bound"
    note no longer holds on Spark 4.1 (the 64-column fold
    codegen-compiles in well under a second).

    Not pinned: with a single consumer the band self-join's two sides
    dedupe via ReusedExchange, and the repartition+localCheckpoint pin
    cost two driver-blocking jobs per build for nothing (near_minhash
    2.92 s pinned vs 2.72 s unpinned median with the mask cache in
    place; the band sweep's checkpoint variants measured
    equal-or-slower). The r8-era pin predates the raw-candidate verify
    that removed near_minhash's extra downstream consumers; a caller
    whose signatures have several consumers pins at its call site."""
    th = grams_rows.select(
        "doc_id", (ph60("gram", "mhs") % _MH_PRIME).alias("th")
    )
    return th.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("th") * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)
            ).alias(f"w{i}")
            for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
        ]
    )


def _band_matches(wide):
    """``(lo, hi, band_id)``: one row per 32×2 band on which two docs'
    signatures (``_minhash_signatures``) agree, lo < hi. A pair agreeing
    on k bands appears k times; what to do with that multiplicity is the
    caller's choice.

    Band key = w_2b·2³¹ + w_2b+1 — a BIJECTION of the ordered slot pair
    (each slot < 2³¹−1), so the candidate set is identical to the
    string key's, but the self-join seam carries an 8-byte integer
    instead of a ~20-char string and no second hash enters it (the
    DuckDB oracles keep the string form, which proves the bijection).
    posexplode of the 32 projected keys replaces a per-band groupBy.

    The self-join carries a ``shuffle_hash`` hint: the planner otherwise
    BROADCASTS the 1.9 M-row band table (hash-table build on one thread;
    band sweep warm 6.5 s → 5.6 s hinted, sf0.1 local[32]). At 100 TB
    the band table never fits a broadcast, so the hint is also the
    honest scale plan: both sides shuffle on (band_id, bkey) and join
    partition-local."""
    bands = wide.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.col(f"w{2 * b}") * F.lit(1 << 31)
                    + F.col(f"w{2 * b + 1}")
                    for b in range(32)
                ]
            )
        ).alias("band_id", "bkey"),
    )
    lft = bands.alias("l")
    rgt = bands.hint("shuffle_hash").alias("r")
    return lft.join(
        rgt,
        (F.col("l.band_id") == F.col("r.band_id"))
        & (F.col("l.bkey") == F.col("r.bkey"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(
        F.col("l.doc_id").alias("lo"),
        F.col("r.doc_id").alias("hi"),
        F.col("l.band_id").alias("band_id"),
    )


def _gram_jaccard(pairs, grams_rows):
    """``pairs`` (keyed ``lo``, ``hi``; one row per pair) plus ``jac``,
    the exact shingle-set Jaccard of each pair.

    GRAM ARRAYS, not ``_verified_pairs``' rank-bitmask popcounts —
    measured both ways (interleaved A/B under the nightly contention
    window, r8 optimization round): a candidate stream that is already
    one row per pair gains nothing downstream from the popcount, while
    its side frames pay a vocab-distinct + rank-join + 15-wide bit_or
    fold — band-sweep medians 9.1 s (arrays) vs 12.0 s (masks).
    RE-PROBED in r9 after ``_gram_masks`` gained its shared cache (one
    fold instead of one per side): arrays still win, 4.45 s vs 5.25 s —
    the 426 k one-shot verifications don't amortize even a single
    mask-frame build. The mask verify wins only where it lets the raw
    multiplicity-bearing candidate stream skip its distinct
    (dedup_ngram_jaccard 48.8→7.5 s).

    BROADCAST the gram-set sides: without the hint the planner routes
    the candidate rows AND the ~51-string gram arrays through two
    sort-merge shuffles (measured 17 s at sf0.1, local[32]; the arrays
    are the shuffle payload). At 100 TB the doc side no longer fits a
    broadcast; there you run on a deterministic sample shard (a tuning
    table or an accuracy audit needs relative, not exhaustive, counts)
    or drop the hint and pay the shuffle once.

    ``repartition(n)`` — round-robin, EXPLICIT count, n = the session's
    defaultParallelism — before the joins: the upstream aggregate's
    exchange is AQE-coalesced to ~2 partitions (426 k int rows are
    byte-light), and a keyed repartition on (lo, hi) is ELIDED as
    redundant with that exchange's partitioning — the verify then fuses
    into a 2-task stage (measured 19-24 s at sf0.1, local[32] — the r6
    pathology resurfacing through a new seam). Round-robin with an
    explicit count cannot be elided or coalesced, and the
    array-intersect verifications fan across all cores (~1 s)."""
    sets = grams_rows.groupBy("doc_id").agg(
        F.collect_set("gram").alias("grams")
    )
    lo = sets.select(
        F.col("doc_id").alias("lo"), F.col("grams").alias("grams_lo")
    )
    hi = sets.select(
        F.col("doc_id").alias("hi"), F.col("grams").alias("grams_hi")
    )
    jac = F.size(F.array_intersect("grams_lo", "grams_hi")) / F.size(
        F.array_union("grams_lo", "grams_hi")
    )
    n = pairs.sparkSession.sparkContext.defaultParallelism
    return (
        pairs.repartition(n)
        .join(F.broadcast(lo), "lo")
        .join(F.broadcast(hi), "hi")
        .select(*pairs.columns, jac.alias("jac"))
    )


@register("dedup_near_minhash", oracle=_NGRAM_ORACLE, tier="P2")
def dedup_near_minhash(spark, t):
    """MinHash + LSH banding near-dedup over bigram shingles — the
    100 TB path.

    Pipeline: bigram-shingle stream → k=64 minhash signatures (the
    shared ph60 universal-hash family, ``_MH_A``/``_MH_B``, all
    JVM-side) → 32 bands × 2 rows → band-bucket self-join (candidates =
    pairs agreeing on ≥1 band) → EXACT shingle-Jaccard verification of
    candidates only.

    Output = verified pairs (jaccard ≥ 0.6) — the same deterministic
    set as ``dedup_ngram_jaccard``, so it carries the same exact-SQL
    oracle. Banding choice is what makes that equality hold rather than
    approximately hold: a τ=0.6 pair misses all 32 two-row bands with
    P = (1−0.6²)³² ≈ 6e-7, while the corpus's background shingle
    similarity (~0.03 mean) yields only ~1−(1−0.03²)³² ≈ 3 % spurious
    candidates for the verifier to kill. (Round 1 banded token sets
    instead — background Jaccard there is 0.61 on this 31-word
    vocabulary, and the recall needed at τ=0.9 forces band widths
    whose candidate set is effectively all-pairs; measured: 8×4 bands
    missed 1 of 9,020 true pairs at sf0.01.)
    """
    # One gram stream feeds both consumers: the signature fold (min()
    # is duplicate-insensitive) and the verify's set frame (bit_or
    # absorbs duplicates).
    grams_rows = _gram_rows(t["documents"], 2)
    # Raw band matches — one row per agreeing band per pair, NOT
    # distinct-ed (r8 optimization round, guide §2.4): on the verify's
    # mask branch a true pair's ≤32-band multiplicity costs a handful of
    # codegen ops per copy, while the old plan paid a full exchange to
    # dedupe the candidate set and then routed it with ~51-string gram
    # arrays through two sort-merge shuffles (array payload was the
    # shuffle; measured 17.2 s warm at sf0.1).
    matches = _band_matches(_minhash_signatures(grams_rows))
    verified = _verified_pairs(
        matches, *_gram_masks(grams_rows), 0.6, keys=("lo", "hi")
    )
    return verified.select(
        F.col("lo").alias("id_lo"),
        F.col("hi").alias("id_hi"),
        r4(F.col("jaccard")).alias("jaccard"),
    )


@register(
    "dedup_lsh_band_sweep",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                  FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))
          AS gram
      FROM toks WHERE len(l) >= 2
    ),
    th AS (SELECT doc_id,
                  ('0x' || substr(md5('mhs:' || gram), 1, 15))
                    ::ubigint::bigint % 2147483647 AS th
           FROM g),
    ab AS (SELECT i,
                  ((2 * i + 1) * 2654435769) % 2147483647 AS a,
                  ((i * i + 7) * 668265295) % 2147483647 AS b
           FROM range(64) t(i)),
    sig AS (SELECT th.doc_id, ab.i,
                   MIN((th.th * ab.a + ab.b) % 2147483647) AS mh
            FROM th CROSS JOIN ab GROUP BY 1, 2),
    cfg AS (SELECT * FROM (VALUES ('b08r8', 8, 8), ('b16r4', 16, 4),
                                  ('b32r2', 32, 2)) c(label, nb, rpb)),
    bl AS (SELECT s.doc_id, c.label, s.i // c.rpb AS band_id,
                  string_agg(s.mh::VARCHAR, ',' ORDER BY s.i) AS bkey
           FROM sig s CROSS JOIN cfg c
           GROUP BY s.doc_id, c.label, s.i // c.rpb),
    cand AS (SELECT DISTINCT l.label, l.doc_id AS lo, r.doc_id AS hi
             FROM bl l JOIN bl r
               ON l.label = r.label AND l.band_id = r.band_id
              AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    pairj AS (SELECT a.doc_id AS lo, b.doc_id AS hi, COUNT(*) AS n_common
              FROM g a JOIN g b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    ver AS (
      SELECT c.label, c.lo, c.hi,
             COALESCE(p.n_common, 0) * 1.0
               / (sa.n + sb.n - COALESCE(p.n_common, 0)) AS j
      FROM cand c
      LEFT JOIN pairj p ON p.lo = c.lo AND p.hi = c.hi
      JOIN sz sa ON sa.doc_id = c.lo
      JOIN sz sb ON sb.doc_id = c.hi
    )
    SELECT v.label AS config,
           CAST(MAX(cfg.nb) AS INT) AS n_bands,
           CAST(MAX(cfg.rpb) AS INT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (v.j >= 0.6) AS BIGINT) AS n_verified
    FROM ver v JOIN cfg ON cfg.label = v.label
    GROUP BY v.label
    """,
    tier="P2",
)
def dedup_lsh_band_sweep(spark, t):
    """LSH banding TUNING TABLE — the measurement you run before
    committing a (bands × rows) configuration at 100 TB: evaluate three
    bandings (8×8, 16×4, 32×2) of the same 64 minhash signatures and
    report each one's candidate-pair volume and how many candidates the
    exact verifier confirms (Jaccard ≥ 0.6). Wide-row bands (8×8) are
    high-precision/low-recall (P[collide] = s⁸ per band); narrow rows
    (32×2) maximize recall at τ=0.6 and rely on the verifier — exactly
    the trade ``dedup_near_minhash`` locked in, here quantified so the
    choice is data-driven rather than folklore.

    ONE BANDING PASS DERIVES ALL THREE CONFIGS (VERDICT r7 #4). The
    bandings NEST: band_id = i/rpb aligns the three slicings, so a
    4-row band key is the concatenation of its two 2-row keys and an
    8-row key the concatenation of four — a pair collides in b16r4 iff
    some aligned PAIR of its matching 2-row bands, and in b08r8 iff
    some aligned QUAD. So the op runs only the 32×2 banding, self-joins
    band buckets once, folds each pair's matching band_ids into a
    32-bit MASK (sum of shiftleft(1, band_id) — each (doc, band) is
    unique so the sum is exact), and membership falls out as bit
    algebra: in16 = (mask & mask>>1) & 0x55555555 ≠ 0 (an even-aligned
    adjacent pair), in8 = (mask & mask>>1 & mask>>2 & mask>>3) &
    0x11111111 ≠ 0 (a 4-aligned run). The exact Jaccard verify then
    runs ONCE over the b32r2 superset, and one aggregate pass folds all
    six counters; an explode unstacks the 3-row tuning table. r7 built
    three bandings and verified the union of their candidate sets
    (paying the array-intersect up to 3× per nested pair): 7.9 s warm
    at sf0.1; this form measures 5.6 s. The DuckDB oracle still builds
    all three bandings independently, so the hash check proves the
    nesting derivation, not just the arithmetic.

    Signatures and 32×2 band matches come from the same
    ``_minhash_signatures``/``_band_matches`` that
    ``dedup_near_minhash`` and ``dedup_minhash_error_curve`` use, so by
    construction the b32r2 row counts exactly the candidate set
    ``dedup_near_minhash`` verifies, and the error curve audits exactly
    those signatures. The verify is ``_gram_jaccard`` (gram arrays on
    the already-one-row-per-pair mask frame). No localCheckpoint: the
    r7 checkpoints existed to share the signatures across THREE
    bandings; one banding leaves every subtree a single consumer.
    """
    grams_rows = _gram_rows(t["documents"], 2)
    matches = _band_matches(_minhash_signatures(grams_rows))
    masks = matches.groupBy("lo", "hi").agg(
        F.sum(F.expr("shiftleft(1L, band_id)")).alias("mask")
    )
    m = F.col("mask")
    in16 = (
        m.bitwiseAND(F.shiftright(m, 1)).bitwiseAND(F.lit(0x55555555)) != 0
    ).cast("int")
    in8 = (
        m.bitwiseAND(F.shiftright(m, 1))
        .bitwiseAND(F.shiftright(m, 2))
        .bitwiseAND(F.shiftright(m, 3))
        .bitwiseAND(F.lit(0x11111111))
        != 0
    ).cast("int")
    flags = _gram_jaccard(masks, grams_rows).select(
        (F.col("jac") >= 0.6).cast("int").alias("ok"),
        in16.alias("in16"),
        in8.alias("in8"),
    )
    tot = flags.agg(
        F.count(F.lit(1)).alias("c32"),
        F.sum("ok").alias("v32"),
        F.sum("in16").cast("bigint").alias("c16"),
        F.sum(F.col("ok") * F.col("in16")).alias("v16"),
        F.sum("in8").cast("bigint").alias("c8"),
        F.sum(F.col("ok") * F.col("in8")).alias("v8"),
    )
    rows = [
        ("b08r8", 8, 8, "c8", "v8"),
        ("b16r4", 16, 4, "c16", "v16"),
        ("b32r2", 32, 2, "c32", "v32"),
    ]
    stacked = F.array(
        *[
            F.struct(
                F.lit(label).alias("config"),
                F.lit(nb).cast("int").alias("n_bands"),
                F.lit(rpb).cast("int").alias("rows_per_band"),
                F.col(c).cast("bigint").alias("n_candidates"),
                F.col(v).cast("bigint").alias("n_verified"),
            )
            for label, nb, rpb, c, v in rows
        ]
    )
    return tot.select(F.explode(stacked).alias("r")).select("r.*")


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    th AS (SELECT doc_id,
                  ('0x' || substr(md5('sim:' || token), 1, 15))::ubigint AS h
           FROM tok),
    bits AS (
      SELECT doc_id, b.b AS b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, (SELECT unnest(range(60)) AS b) b
      GROUP BY doc_id, b.b
    ),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
               AS simhash
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, simhash, band_id,
             (simhash >> (band_id * 15)) & 32767 AS bucket
      FROM fp, (SELECT unnest(range(4)) AS band_id) bs
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_lo, r.doc_id AS id_hi,
             bit_count(xor(l.simhash, r.simhash)) AS hamming
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.bucket = r.bucket
       AND l.doc_id < r.doc_id
    )
    SELECT id_lo, id_hi, hamming FROM cand WHERE hamming <= 8
    """,
    tier="P2",
)
def dedup_simhash(spark, t):
    """60-bit SimHash near-dup candidates.

    Fingerprint: sign-sum over token hashes per bit position (token
    multiplicity counts — this is the weighted simhash); candidate pairs
    share one of four 15-bit bands (Hamming-ball banding: any pair with
    Hamming distance ≤ 3 is guaranteed caught, ≤ 8 caught unless its
    differing bits spread across all four bands), then filtered to
    Hamming ≤ 8. Round 1 hashed with xxhash64 (engine-private →
    `err: no_oracle`); tokens now hash through the portable md5-based
    ``ph60``, so the full fingerprint → band → Hamming pipeline is
    recomputed by the DuckDB oracle and hash-checked.

    The banded frame is CACHED before the self-join: the join is a
    broadcast join (no exchange for ReusedExchange to dedupe), so
    without the cache BOTH sides re-run the token-scan → md5 → 60-way
    sign-sum fingerprint subtree (~0.9 s each at sf0.1, and 2× the
    token scan at any scale). One |docs|×4-row materialization feeds
    both sides instead (r9; interleaved A/B median 1.81 → 1.65 s —
    the same shared-materialization pattern as the minhash mask cache).
    """
    from ..functions.portable_hash import ph60

    docs = t["documents"]
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).select("doc_id", ph60("token", "sim").alias("th"))
    # bit b of fingerprint = sign of sum over tokens of (+1/-1 at bit b)
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"s{b}")
            for b in range(60)
        ]
    )
    fp = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long") * (1 << b)).otherwise(
                    F.lit(0).cast("long")
                )
                for b in range(60)  # 60-bit hash → fp stays non-negative
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("simhash"), i * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("bucket"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band_id", "bb.bucket").cache()
    l, r = bands.alias("l"), bands.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_lo"),
            F.col("r.doc_id").alias("id_hi"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 8)
    )


# The recursive closure is preceded by TWO plain-SQL hash-min contraction
# rounds (h1/h2: each vertex takes min(self, direct neighbors); edges are
# rewritten through the mapping). Duplicate clusters are near-cliques, so
# contraction collapses them to single vertices and the closure runs on a
# residual graph orders of magnitude smaller — the naive closure carried
# m³ intermediates per m-doc cluster and cost ~670 s at sf0.1 vs ~4 s for
# this form (r6; verified row-identical to the naive closure at sf0.01).
# `AS MATERIALIZED` stops DuckDB 1.0 from inlining (re-evaluating) the
# quadratic token self-join at every reference. The closure's
# `r.l < e.s` prune is MIN-safe: a label can only be blocked at an
# intermediate vertex u ≤ l, and u itself propagates along the same path,
# dominating l everywhere beyond u.
_CC_ORACLE = """
WITH RECURSIVE tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS id_lo, b.doc_id AS id_hi, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
good AS MATERIALIZED (
  SELECT p.id_lo, p.id_hi FROM pair p
  JOIN sz sa ON sa.doc_id = p.id_lo
  JOIN sz sb ON sb.doc_id = p.id_hi
  WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.9
),
edges AS MATERIALIZED (
  SELECT id_lo AS s, id_hi AS d FROM good
  UNION ALL SELECT id_hi, id_lo FROM good
),
h1 AS MATERIALIZED (
  SELECT v, MIN(l) AS p FROM (
    SELECT doc_id AS v, doc_id AS l FROM documents
    UNION ALL SELECT s, d FROM edges
  ) GROUP BY v
),
e1u AS MATERIALIZED (
  SELECT DISTINCT ha.p AS s, hb.p AS d
  FROM edges e
  JOIN h1 ha ON ha.v = e.s
  JOIN h1 hb ON hb.v = e.d
  WHERE ha.p <> hb.p
),
n1 AS (SELECT DISTINCT p AS v FROM h1),
h2 AS MATERIALIZED (
  SELECT v, MIN(l) AS p FROM (
    SELECT v, v AS l FROM n1
    UNION ALL SELECT s, d FROM e1u
  ) GROUP BY v
),
e2 AS MATERIALIZED (
  SELECT DISTINCT ha.p AS s, hb.p AS d
  FROM e1u e
  JOIN h2 ha ON ha.v = e.s
  JOIN h2 hb ON hb.v = e.d
  WHERE ha.p <> hb.p
),
n2 AS (SELECT DISTINCT p AS v FROM h2),
reach(v, l) AS (
  SELECT v, v FROM n2
  UNION
  SELECT e.s, r.l FROM e2 e JOIN reach r ON r.v = e.d AND r.l < e.s
),
m2 AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v)
SELECT d.doc_id, m2.cluster_id
FROM documents d
JOIN h1 ON h1.v = d.doc_id
JOIN h2 ON h2.v = h1.p
JOIN m2 ON m2.v = h2.p
"""


@register("dedup_connected_components", oracle=_CC_ORACLE, tier="P2")
def dedup_connected_components(spark, t):
    """Duplicate-cluster assignment: connected components of the
    Jaccard-≥0.9 near-dup graph via hash-min label propagation — the
    iterative-algorithm representative, checked against DuckDB's
    recursive-CTE transitive closure.

    Every doc starts labeled with its own id; each round every vertex
    takes min(own label, neighbors' labels); at fixpoint the label is
    the cluster's minimum doc_id (so the label doubles as the keeper
    id, and singletons keep themselves). Rounds needed = graph diameter
    (these near-clique duplicate clusters converge in 2-3).

    100 TB shape: one min-contraction round collapses the near-clique
    duplicate clusters, then the per-round work is one edge⋈label join
    + a min-aggregate over the RESIDUAL quotient graph only (see
    ``hash_min_components`` — r9 optimization round);
    ``localCheckpoint`` truncates lineage each round so plans stay
    flat, and the driver sees only a scalar convergence count per
    round (no data collect).

    The r6 probe that rejected contraction rewrote the edges through
    EVERY round's mapping (two extra full-edge shuffles + distinct per
    round: 45 s vs 16 s at sf0.1). Contracting exactly once is the
    opposite trade: the single rewrite happens where near-clique
    clusters actually collapse, and every later round scans ~10³
    residual edges instead of the full ~1 M-edge cache.
    """
    return _cc_labels(t)


def _cc_labels(t, tau: float = 0.9):
    """Hash-min label-propagation core shared by the CC operator and the
    composite corpus pipeline; returns (doc_id, cluster_id) for every doc
    in ``t["documents"]``."""
    # raw (non-distinct) τ-survivor stream: the contraction's min-agg and
    # rewrite-distinct absorb the candidate multiplicity, so the verified
    # pairs' own exchange is deleted (r9; measured 7.02 s → 6.58 s)
    pairs = _near_dup_pairs(t, tau, dedup=False).select("id_lo", "id_hi")
    nodes = t["documents"].select("doc_id")
    return hash_min_components(nodes, pairs, "doc_id")


def hash_min_components(nodes, pairs, id_col: str):
    """Generic hash-min connected components over (id_lo, id_hi) pairs
    (duplicate pair rows are fine — the contraction's min-aggregate and
    the rewrite's distinct absorb them); returns one (id_col,
    cluster_id) row per node, cluster_id = the component's minimum id.
    Shared by the token-Jaccard and the embedding-cosine dedup
    clusterers.

    r9 optimization round — ONE min-contraction round before the
    propagation loop (guide §2.3 "shuffle fewer bytes" applied to the
    loop's per-round edge scan): map every vertex to h1(v) =
    min(v, min neighbor) — exactly round 1 of hash-min — then rewrite
    the edges through that mapping and run the loop on the RESIDUAL
    quotient graph. Duplicate clusters are near-cliques, so h1 collapses
    them to a handful of vertices and the residual edge set is orders of
    magnitude smaller than the input (~1 M edges → ~10³ at sf0.1);
    every remaining round joins the tiny residual instead of re-scanning
    the full edge cache. The r6 probe that rejected contraction rewrote
    the edges through EVERY round's mapping (two extra full-edge
    shuffles per round, 45 s vs 16 s); contracting exactly once pays the
    rewrite where the collapse actually happens and nowhere else.

    Correctness (the r6-era equivalence argument, now load-bearing):
    h1(v) is a member of v's component, and the component minimum m has
    h1(m) = m, so the quotient graph's components are the images of the
    original components with m still present; the loop's fixpoint label
    of h1(v) is therefore m, and composing v → h1(v) → label gives every
    vertex its component minimum — identical output, oracle-checked at
    sf0.01 + sf0.1 for all three consumers.
    """
    edges = (
        pairs.select(F.col("id_lo").alias("s"), F.col("id_hi").alias("d"))
        .unionByName(
            pairs.select(F.col("id_hi").alias("s"), F.col("id_lo").alias("d"))
        )
        .persist()
    )
    # h1 = min(self, min neighbor): round 1 of hash-min, but join-free —
    # the initial label of a neighbor IS its id, so min(label(d)) is
    # just min(d) over the incident edges.
    nbr = edges.groupBy("s").agg(F.min("d").alias("nbr_min"))
    h1 = (
        nodes.join(nbr, nodes[id_col] == nbr["s"], "left")
        .select(
            F.col(id_col).alias("v"),
            F.least(
                F.col(id_col), F.coalesce("nbr_min", F.col(id_col))
            ).alias("p"),
        )
        .localCheckpoint()
    )
    # Residual quotient graph: both endpoints rewritten through h1,
    # self-loops dropped, deduped. Symmetry is preserved (edges is the
    # symmetric closure and the mapping is applied to both directions).
    ms = h1.select(F.col("v").alias("s"), F.col("p").alias("ps"))
    md = h1.select(F.col("v").alias("d"), F.col("p").alias("pd"))
    e1 = (
        edges.join(ms, "s")
        .join(md, "d")
        .filter(F.col("ps") != F.col("pd"))
        .select(F.col("ps").alias("s"), F.col("pd").alias("d"))
        .distinct()
        .localCheckpoint()
    )
    edges.unpersist()
    labels = (
        h1.select(F.col("p").alias("v"))
        .distinct()
        .select(F.col("v"), F.col("v").alias("cluster_id"))
        .localCheckpoint()
    )
    changed = -1
    # ONE propagation step per materialization — a 2-step-fused variant
    # was measured in the r8 optimization round (interleaved A/B at
    # sf0.1) and REVERTED: fusing doubles the join work inside each
    # checkpoint while the convergence count still runs per round. The
    # convergence test rides the checkpointed frame itself (old label
    # carried as a column) instead of re-joining old vs new — one small
    # scan per round, no extra join job.
    for _ in range(20):  # diameter bound; near-clique residuals need 1-3
        prop = (
            e1.join(labels, e1["d"] == labels["v"])
            .groupBy("s")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = (
            labels.join(prop, labels["v"] == prop["s"], "left")
            .select(
                labels["v"],
                F.col("cluster_id").alias("old_label"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("nbr_min", F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(
            F.col("cluster_id") != F.col("old_label")
        ).count()
        labels = stepped.select("v", "cluster_id")
        if changed == 0:
            break
    if changed != 0:
        # a silent exit here would hand back wrong cluster labels for any
        # graph with diameter > 20 (ADVICE r1) — fail loudly instead
        raise RuntimeError(
            "hash_min_components: label propagation did not converge within "
            "20 rounds (graph diameter exceeds the bound; raise the round "
            f"cap for this graph — last round still changed {changed} labels)"
        )
    return h1.join(labels, h1["p"] == labels["v"]).select(
        h1["v"].alias(id_col), "cluster_id"
    )


_PIPELINE_ORACLE = """
WITH RECURSIVE docs AS (
  SELECT * FROM documents
  WHERE len(string_split(text, ' ')) BETWEEN 10 AND 200
    AND len(list_distinct(string_split(text, ' '))) * 1.0
        / len(string_split(text, ' ')) > 0.2
),
tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM docs
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS id_lo, b.doc_id AS id_hi, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
good AS MATERIALIZED (
  SELECT p.id_lo, p.id_hi FROM pair p
  JOIN sz sa ON sa.doc_id = p.id_lo
  JOIN sz sb ON sb.doc_id = p.id_hi
  WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.9
),
edges AS MATERIALIZED (
  SELECT id_lo AS s, id_hi AS d FROM good
  UNION ALL SELECT id_hi, id_lo FROM good
),
-- same two-round hash-min contraction + pruned closure as _CC_ORACLE
-- (see the comment there); nodes here are the quality-gated docs
h1 AS MATERIALIZED (
  SELECT v, MIN(l) AS p FROM (
    SELECT doc_id AS v, doc_id AS l FROM docs
    UNION ALL SELECT s, d FROM edges
  ) GROUP BY v
),
e1u AS MATERIALIZED (
  SELECT DISTINCT ha.p AS s, hb.p AS d
  FROM edges e
  JOIN h1 ha ON ha.v = e.s
  JOIN h1 hb ON hb.v = e.d
  WHERE ha.p <> hb.p
),
n1 AS (SELECT DISTINCT p AS v FROM h1),
h2 AS MATERIALIZED (
  SELECT v, MIN(l) AS p FROM (
    SELECT v, v AS l FROM n1
    UNION ALL SELECT s, d FROM e1u
  ) GROUP BY v
),
e2 AS MATERIALIZED (
  SELECT DISTINCT ha.p AS s, hb.p AS d
  FROM e1u e
  JOIN h2 ha ON ha.v = e.s
  JOIN h2 hb ON hb.v = e.d
  WHERE ha.p <> hb.p
),
n2 AS (SELECT DISTINCT p AS v FROM h2),
reach(v, l) AS (
  SELECT v, v FROM n2
  UNION
  SELECT e.s, r.l FROM e2 e JOIN reach r ON r.v = e.d AND r.l < e.s
),
m2 AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v),
cc AS (
  SELECT dd.doc_id, m2.cluster_id
  FROM docs dd
  JOIN h1 ON h1.v = dd.doc_id
  JOIN h2 ON h2.v = h1.p
  JOIN m2 ON m2.v = h2.p
)
SELECT d.lang,
       COUNT(*) AS n_docs,
       round(AVG(d.n_chars), 4) AS avg_chars
FROM cc JOIN docs d ON d.doc_id = cc.doc_id
WHERE cc.doc_id = cc.cluster_id
GROUP BY d.lang
"""


@register("pipeline_clean_corpus", oracle=_PIPELINE_ORACLE, tier="P2")
def pipeline_clean_corpus(spark, t):
    """End-to-end corpus-cleaning composite — the engine's operators
    chained the way a pre-training data pipeline actually runs them:

    1. quality gate (token count 10–200 ∧ type-token ratio > 0.2, the
       ``text_quality_score`` predicate),
    2. exact near-dedup clustering of the survivors
       (prefix-filtered Jaccard ≥ 0.9 → hash-min connected components),
    3. keep one keeper per cluster (the minimum doc_id — which IS the
       converged CC label),
    4. per-language stats of the cleaned corpus.

    Hash-checked end-to-end against the equivalent DuckDB SQL (quality
    CTE → recursive-closure clustering → keeper filter → aggregate),
    proving the composition — not just each stage — is semantics-exact.
    """
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n_tok
    # the gate's split + array_distinct projection feeds three subtrees
    # (the CC core's token scan, its node list, and the final keeper
    # join); cache the ~|docs|-row survivor frame so the per-row ttr
    # arithmetic runs once per execution (r9 interleaved A/B, 5/5 runs
    # faster: 9.03 s → 7.83 s median at sf0.1)
    quality = t["documents"].filter(
        n_tok.between(10, 200) & (ttr > 0.2)
    ).cache()
    labels = _cc_labels({"documents": quality})
    keepers = labels.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    return (
        quality.join(keepers, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r4(F.avg("n_chars")).alias("avg_chars"),
        )
    )


_CONTAINMENT_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.id_a AS contained_id,
       COUNT(*) AS n_containers,
       MIN(p.id_b) AS keeper_id
FROM pair p
JOIN sz sa ON sa.doc_id = p.id_a
JOIN sz sb ON sb.doc_id = p.id_b
WHERE (sa.n < sb.n OR (sa.n = sb.n AND p.id_a < p.id_b))
  AND p.n_common * 1.0 / sa.n >= 0.9
GROUP BY p.id_a
"""


@register("dedup_containment", oracle=_CONTAINMENT_ORACLE, tier="P2")
def dedup_containment(spark, t):
    """Containment dedup (subset-duplicate detection): for every document
    whose token set is ≥ 90 % contained in a strictly-larger document's
    set (|A∩B|/|A| ≥ 0.9, |A| < |B|; equal sizes tie-break on doc_id),
    report how many containers it has and the deterministic keeper
    (minimum container doc_id). This is the asymmetric complement of
    Jaccard dedup — a snippet quoted inside a longer page scores low on
    Jaccard but 1.0 on containment, exactly the near-dup class
    crawl-corpus pipelines lose if they only run symmetric measures.

    EXACT, not sketched: candidates come from a rare-token prefix
    inverted-index join and are then verified on the full token sets
    (``_verified_pairs``).
    The prefix filter for containment is one-sided — only the probing
    (contained) side may be pruned to its ⌊(1−τ)·n⌋+1 rarest tokens
    (any B holding ≥ τ·n of A's tokens must hit that prefix — pigeonhole
    on A, lossless); the indexed (container) side must post ALL its
    tokens, because τ constrains none of B's fraction. Posting the full
    container side is the honest cost of exact containment; at 100 TB
    the production mitigation is a df-ceiling on posted tokens (drop
    stop-tokens from the index, re-verify exactly), which this vocabulary
    cannot demonstrate (31 tokens, all stop-tokens — the adversarial
    case; candidate volume still collapses via the prefix side).

    The output is the per-document survivorship decision (≤ |docs| rows:
    container count + keeper id), not the quadratic pair list — on this
    deliberately near-duplicate corpus the raw ≥ 0.9-containment pair
    set is ~67 k pairs over 500 docs at sf0.01, and emitting decisions
    rather than evidence is also what the downstream "drop contained
    docs" filter actually consumes.
    """
    tau = 0.9
    tokr, n_words, n_docs = _ranked_token_sets(t)
    sz = tokr.withColumn("n", F.size("elems"))
    n = F.col("n")
    # one-sided prefix: probe (contained) docs expose only their rarest
    # floor((1-tau)*n)+1 ranks; containers post every rank
    probe_len = (n - F.ceil(n * F.lit(tau)).cast("int") + 1).cast("int")
    probe = sz.select(
        F.col("doc_id").alias("id_a"),
        F.col("n").alias("n_a"),
        F.explode(F.slice("elems", F.lit(1), probe_len)).alias("r_a"),
    )
    index = sz.select(
        F.col("doc_id").alias("id_b"),
        F.col("n").alias("n_b"),
        F.explode("elems").alias("r_b"),
    )
    cand = probe.join(
        index,
        (F.col("r_a") == F.col("r_b"))
        & (F.col("id_a") != F.col("id_b"))
        & (
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b")))
        ),
    ).select("id_a", "id_b")
    verified = _verified_pairs(
        cand, sz, n_words, n_docs, tau, ("id_a", "id_b"), "containment"
    )
    return verified.groupBy(F.col("id_a").alias("contained_id")).agg(
        F.count(F.lit(1)).alias("n_containers"),
        F.min("id_b").alias("keeper_id"),
    )


@register(
    "dedup_substring_spans",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS g
      FROM (
        SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
        FROM d WHERE len(ts) >= 8
      )
    ),
    shared AS (
      SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           COUNT(*) FILTER (WHERE shared.g IS NOT NULL) AS n_dup_grams
    FROM g LEFT JOIN shared USING (g)
    GROUP BY doc_id
    """,
    tier="P2",
)
def dedup_substring_spans(spark, t):
    """SPAN-level exact-substring duplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" metric):
    instead of deciding whole documents are duplicates, measure how
    much of EACH document's token stream is covered by 8-gram spans
    that also occur in some other document. Doc-level dedup
    (``dedup_exact`` … ``dedup_near_minhash``) misses boilerplate
    stitched into otherwise-unique pages; this is the operator that
    sees it.

    Shape: explode each ≥8-token doc into its 8-gram occurrences
    (codegen ``arrays_zip``-of-``slice`` views, same kernel as
    ``text_ngrams``), collapse the occurrence stream to ``(gram, doc,
    count)`` with ONE partial-aggregating groupBy — map-side combine
    shrinks the big intermediate before it ever hits the wire — then a
    single ``count() over (partition by gram)`` window supplies each
    pair's distinct-doc count in place. No join back to the occurrence
    stream at all (the r4 formulation re-shuffled every occurrence a
    second time through a gram-keyed join; the r5 window formulation
    shuffles the COLLAPSED pair stream once — the VERDICT-r4 dup-side
    trim, taken one step further). The classic suffix-array approach is
    replaced by hash-group/window because hash-partitioning the gram
    space scales linearly and needs no global order. At 100 TB the gram
    stream is the big intermediate (~|tokens| rows); production runs
    hash grams to 64 bits first (ph60) so the shuffles carry 8-byte
    keys — elided here only because the oracle must group on the exact
    same value, and the synthetic corpus's grams are short strings
    already.
    """
    from pyspark.sql import Window

    grams = _gram_rows(t["documents"], 8).withColumnRenamed("gram", "g")
    pairs = grams.groupBy("g", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    return (
        pairs.select("doc_id", "c", nd.alias("nd"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )


@register(
    "corpus_span_removal",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ),
    tot AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(ts)) AS BIGINT) AS tokens_total
      FROM d GROUP BY source
    ),
    g AS (
      SELECT doc_id, source, i - 1 AS s,
             array_to_string(ts[i:i+7], ' ') AS g
      FROM (
        SELECT doc_id, source, ts,
               unnest(generate_series(1, len(ts) - 7)) AS i
        FROM d WHERE len(ts) >= 8
      )
    ),
    g2 AS (
      SELECT doc_id, source, s,
             MAX(doc_id) OVER (PARTITION BY g)
               <> MIN(doc_id) OVER (PARTITION BY g) AS dup
      FROM g
    ),
    occ AS (
      SELECT doc_id, source, s,
             MAX(s + 8) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM g2 WHERE dup
    ),
    covered AS (
      SELECT source,
             CAST(SUM(GREATEST(0,
               s + 8 - GREATEST(COALESCE(prev_end, s), s))) AS BIGINT)
               AS tokens_removed
      FROM occ GROUP BY source
    )
    SELECT t.source, t.n_docs, t.tokens_total,
           COALESCE(c.tokens_removed, 0) AS tokens_removed,
           round(COALESCE(c.tokens_removed, 0)::DOUBLE / t.tokens_total, 4)
             AS pct_removed
    FROM tot t LEFT JOIN covered c USING (source)
    """,
    tier="P2",
)
def corpus_span_removal(spark, t):
    """Exact-substring span REMOVAL accounting (the action half of the
    Lee et al. 2022 recipe — ``dedup_substring_spans`` measures
    coverage per doc; this computes what deleting every cross-document
    duplicated 8-gram span would actually remove, per source): a token
    position counts as removed when ANY duplicated 8-gram covers it,
    i.e. the union of covered ranges, not the sum — overlapping spans
    are not double-counted.

    Shape: the span machinery of ``dedup_substring_spans`` plus
    position tracking — posexplode keeps each gram's start offset, the
    cross-doc test runs IN PLACE as a window over the gram partition
    (``max(doc) ≠ min(doc)`` ⇔ ≥2 distinct docs — no count-distinct
    aggregate and no join back to the occurrence stream), then the
    union length comes from the classic INTERVAL-UNION sweep as a
    per-doc window: sort duplicated starts, running ``max(s+8)`` over
    preceding rows, each row contributes ``max(0, s+8 − max(prev_end,
    s))`` — pure integer arithmetic, one gram-keyed + one doc-keyed
    shuffle total, NO ×8 position fan-out and no giant distinct (the
    first-cut exploded-positions + join form measured 51 s / 23×
    growth at the K=30 probe; this form 12 s / 8.1× — same oracle
    values). At 100 TB the production variant hashes grams to ph60
    64-bit keys first, as the spans op documents.
    """
    from pyspark.sql import Window
    from .corpus import _gram_str, _zip_grams

    K = 8
    toks = F.split(F.col("text"), " ")
    docs = t["documents"].select("doc_id", "source", toks.alias("ts"))
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("ts")).cast("bigint").alias("tokens_total"),
    )
    g = (
        docs.filter(F.size("ts") >= K)
        .select(
            "doc_id",
            "source",
            F.posexplode(_zip_grams(F.col("ts"), K)).alias("s", "t"),
        )
        .select("doc_id", "source", "s", _gram_str(K).alias("g"))
    )
    # cross-doc duplication test as a pair of windows over the gram
    # partition (max(doc) != min(doc) ⇔ ≥2 distinct docs — no
    # count-distinct aggregate and, crucially, no join back to the
    # occurrence stream: one gram-keyed shuffle instead of two)
    w_g = Window.partitionBy("g")
    dup = F.max("doc_id").over(w_g) != F.min("doc_id").over(w_g)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("s") + K).over(w_prev)
    contrib = F.greatest(
        F.lit(0),
        (F.col("s") + K)
        - F.greatest(F.coalesce(prev_end, F.col("s")), F.col("s")),
    )
    covered = (
        g.select("doc_id", "source", "s", dup.alias("dup"))
        .filter(F.col("dup"))
        .select("source", contrib.alias("c"))
        .groupBy("source")
        .agg(F.sum("c").cast("bigint").alias("tokens_removed"))
    )
    joined = tot.join(covered, "source", "left")
    removed = F.coalesce(F.col("tokens_removed"), F.lit(0).cast("bigint"))
    return joined.select(
        "source",
        "n_docs",
        "tokens_total",
        removed.alias("tokens_removed"),
        F.round(
            removed.cast("double") / F.col("tokens_total"), 4
        ).alias("pct_removed"),
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH urls AS (
      SELECT doc_id, source,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
             || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
             || 'Site' || (doc_id % 7) || '.Example.com'
             || '/p/' || (doc_id % 50)
             || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0
                 THEN '?utm_source=feed&ref=' || (doc_id % 11) ELSE '' END)
               AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, source,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(url), '^https?://', ''),
                   '^www\\.', ''),
                 '\\?.*$', ''),
               '/$', '') AS curl
      FROM urls
    ),
    grp AS (
      SELECT curl,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM canon GROUP BY curl
    )
    SELECT curl, n_docs, keeper_doc, n_sources
    FROM grp WHERE n_docs >= 2
    """,
    tier="P2",
)
def dedup_url_canonical(spark, t):
    """URL-canonicalization dedup — the FIRST dedup pass every web
    corpus runs, before any content hashing: the same page arrives
    under scheme/case/www/query-string/trailing-slash variants, and
    canonicalization (lowercase → strip scheme → strip ``www.`` →
    strip query → strip trailing slash) collapses them without reading
    a byte of content. URLs here are synthesized deterministically
    from doc_id (the fixture corpus has no URL column) with all four
    noise dimensions injected on independent residues, so the oracle
    regenerates both the dirty URLs and the canonical groups; the
    min-doc_id keeper is the survivorship rule ``dedup_keep_best``
    applies on richer signals.

    Everything is codegen string work (concat + four regexp_replace) —
    one projection, one keyed aggregation. At 100 TB this is the
    textbook map-side pass: canonicalize in the scan projection,
    aggregate on the canonical key (the only shuffle), and feed the
    keeper set forward; the regex chain is anchored-prefix/suffix only
    (no backtracking blowup on hostile URLs).
    """
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, "HTTPS://").otherwise("http://"),
        F.when(F.col("doc_id") % 3 == 0, "WWW.").otherwise(""),
        F.lit("Site"),
        (F.col("doc_id") % 7),
        F.lit(".Example.com/p/"),
        (F.col("doc_id") % 50),
        F.when(F.col("doc_id") % 5 == 0, "/").otherwise(""),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm_source=feed&ref="), F.col("doc_id") % 11),
        ).otherwise(""),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "^https?://", ""),
                r"^www\.",
                "",
            ),
            r"\?.*$",
            "",
        ),
        "/$",
        "",
    )
    return (
        t["documents"]
        .select("doc_id", "source", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )




@register(
    "dedup_bow_fingerprint",
    oracle="""
    WITH norm AS (
      SELECT doc_id, source,
             md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fp,
             length(text) AS n_chars
      FROM documents
    ),
    grp AS (
      SELECT fp,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
             CAST(MAX(n_chars) AS BIGINT) AS max_chars,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM norm GROUP BY fp
    )
    SELECT fp, n_docs, keeper_doc, max_chars, n_sources
    FROM grp WHERE n_docs >= 2
    """,
    tier="P2",
)
def dedup_bow_fingerprint(spark, t):
    """Bag-of-words FINGERPRINT dedup — the order-invariant rung of the
    dedup ladder between byte-exact hashing (``dedup_exact``, which a
    single swapped sentence defeats) and MinHash near-dup
    (``dedup_near_minhash``, which pays banding + verification): the
    fingerprint is the md5 of the SORTED DISTINCT token set, so
    shuffled, re-ordered and repetition-padded variants of the same
    vocabulary collapse exactly, at exact-dedup cost. On this corpus it
    finds 21 groups byte-exact hashing misses (permuted near-dups) —
    the measured gap the technique exists for.

    Groups with ≥2 members report size, the min-id keeper, max raw
    length (the usual keep-the-longest survivorship input), and
    cross-source spread. Plan: ``sort_array(array_distinct(split))``
    is one codegen projection; one keyed aggregation is the only
    shuffle — canonicalize map-side, shuffle once, identical at 100 TB.
    False-collision caveat documented: different orderings of the SAME
    vocabulary are indistinguishable by construction (that is the
    point), so the pass feeds a verifier or a human rule, exactly like
    the LSH candidates.
    """
    fp = F.md5(
        F.array_join(
            F.sort_array(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ),
            " ",
        )
    )
    return (
        t["documents"]
        .select("doc_id", "source", fp.alias("fp"),
                F.length("text").alias("n_chars"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
            F.max("n_chars").alias("max_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )



@register(
    "dedup_minhash_error_curve",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
                  FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))
          AS gram
      FROM toks WHERE len(l) >= 2
    ),
    th AS (SELECT doc_id,
                  ('0x' || substr(md5('mhs:' || gram), 1, 15))
                    ::ubigint::bigint % 2147483647 AS th
           FROM g),
    ab AS (SELECT i,
                  ((2 * i + 1) * 2654435769) % 2147483647 AS a,
                  ((i * i + 7) * 668265295) % 2147483647 AS b
           FROM range(64) t(i)),
    sig AS (SELECT th.doc_id, ab.i,
                   MIN((th.th * ab.a + ab.b) % 2147483647) AS mh
            FROM th CROSS JOIN ab GROUP BY 1, 2),
    bl AS (SELECT s.doc_id, s.i // 2 AS band_id,
                  string_agg(s.mh::VARCHAR, ',' ORDER BY s.i) AS bkey
           FROM sig s GROUP BY s.doc_id, s.i // 2),
    cand AS (SELECT DISTINCT l.doc_id AS lo, r.doc_id AS hi
             FROM bl l JOIN bl r
               ON l.band_id = r.band_id AND l.bkey = r.bkey
              AND l.doc_id < r.doc_id),
    est AS (
      SELECT c.lo, c.hi,
             CAST(COUNT(*) FILTER (sl.mh = sr.mh) AS BIGINT) AS k_agree
      FROM cand c
      JOIN sig sl ON sl.doc_id = c.lo
      JOIN sig sr ON sr.doc_id = c.hi AND sr.i = sl.i
      GROUP BY c.lo, c.hi
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    pairj AS (SELECT a.doc_id AS lo, b.doc_id AS hi, COUNT(*) AS n_common
              FROM g a JOIN g b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    curve AS (
      SELECT e.k_agree,
             COALESCE(p.n_common, 0) * 1.0
               / (sa.n + sb.n - COALESCE(p.n_common, 0)) AS jac
      FROM est e
      LEFT JOIN pairj p ON p.lo = e.lo AND p.hi = e.hi
      JOIN sz sa ON sa.doc_id = e.lo
      JOIN sz sb ON sb.doc_id = e.hi
    )
    SELECT CAST(floor(abs(k_agree / 64.0 - jac) * 16) AS BIGINT)
             AS err_bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(SUM(k_agree) / (COUNT(*) * 64.0), 4) AS mean_est,
           round(SUM(CAST(floor(jac * 1048576) AS BIGINT))
                 / (COUNT(*) * 1048576.0), 4) AS mean_exact
    FROM curve
    GROUP BY 1
    ORDER BY err_bin
""",
    tier="P2",
)
def dedup_minhash_error_curve(spark, t):
    """MinHash ESTIMATOR ACCURACY audit — before trusting 64-slot
    signatures to dedup 100 TB, measure how wrong they are on the real
    candidate population: for every b32r2 candidate pair, compare the
    signature estimate (matching slots / 64) against the exact bigram
    Jaccard, and report the |error| distribution in 1/16-wide bins with
    each bin's mean estimate vs mean truth. The E[err] ≈ 1/√64 ≈ 0.125
    theory line is checkable directly against the bin masses — the
    sketch-accuracy-report idiom (`agg_sketch_accuracy_report`) applied
    to the dedup rung, on the signatures ``dedup_near_minhash`` and
    ``dedup_lsh_band_sweep`` use (see the sweep).

    Scale shape: candidates come from band buckets (never all pairs),
    distinct-ed to one row per pair; the slot-agreement count and the
    exact Jaccard (``_gram_jaccard``, as in the band sweep) ride those
    rows. Error bins are FLOOR(|est − exact|·16): est is an exact k/64,
    the ×16 is a power-of-two (exact), and both engines floor the
    identical IEEE double. Bin means use integer micro-unit sums (k_agree ints;
    jaccard per-pair quantized to 2⁻²⁰) with ONE final division each.
    """
    par = spark.sparkContext.defaultParallelism
    grams_rows = _gram_rows(t["documents"], 2)
    # The signatures feed three consumers here (the band join and both
    # slot-agreement sides) — pin once; explicit repartition first, per
    # the AQE-coalesce rule (see _gram_jaccard).
    wide = (
        _minhash_signatures(grams_rows)
        .repartition(par, "doc_id")
        .localCheckpoint()
    )
    sig_col = F.array(*[F.col(f"w{i}") for i in range(64)])
    cand = _band_matches(wide).select("lo", "hi").distinct().repartition(par)
    # slot agreement rides the candidate rows as ARRAY algebra: each
    # side attaches its 64-slot signature as ONE array column (a pure
    # projection of the wide frame), and k_agree is a per-row
    # zip_with/aggregate — no 64x-row double slot-join, no (lo,hi)
    # re-aggregation (r8 perf fix: the long-format join was 2x128
    # shuffled rows per candidate; this ships 2 arrays per candidate)
    sl = wide.select(
        F.col("doc_id").alias("lo"), sig_col.alias("sig_lo")
    )
    sr = wide.select(
        F.col("doc_id").alias("hi"), sig_col.alias("sig_hi")
    )
    est = (
        cand.join(sl, "lo")
        .join(sr, "hi")
        .select(
            "lo",
            "hi",
            F.aggregate(
                F.zip_with(
                    "sig_lo",
                    "sig_hi",
                    lambda x, y: (x == y).cast("int"),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("bigint").alias("k_agree"),
        )
    )
    curve = _gram_jaccard(est, grams_rows)
    return (
        curve.groupBy(
            F.floor(F.abs(F.col("k_agree") / 64.0 - F.col("jac")) * 16)
            .cast("bigint")
            .alias("err_bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("k_agree") / (F.count(F.lit(1)) * 64.0), 4
            ).alias("mean_est"),
            F.round(
                F.sum(F.floor(F.col("jac") * 1048576).cast("bigint"))
                / (F.count(F.lit(1)) * 1048576.0),
                4,
            ).alias("mean_exact"),
        )
        .orderBy("err_bin")
    )

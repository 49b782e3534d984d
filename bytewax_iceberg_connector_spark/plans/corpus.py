"""Corpus-level lexical statistics and span-level dedup accounting — the
round-4 widening of the training-data surface beyond per-doc gates:
tokenizer-vocabulary construction, C4-style duplicated-span removal
accounting, the FineWeb-style per-language adaptive quality threshold,
and the cross-source shingle-leakage matrix.

All four are oracle-checked. The repo's standard parity discipline holds:
every reported ratio is integer ppm/milli math (`div` / `//`) over exact
bigint sums, thresholds are rank-based (no engine-specific percentile
interpolation), and the oracle replays the same whitespace tokenization
(`list_filter(string_split_regex(lower(text),'[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')`).

Scale notes are inline per query; the common thread: corpus-sized state
always shuffles as 8-byte hashes or vocabulary-sized aggregates, never as
text, and every broadcast is provably bounded (vocab cap, per-language
threshold table, source count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..sources.tables import load_table, table_stats, widen_for_kernel

#: DuckDB mirror of X.tokens — the repo-standard tokenizer SQL.
_SQL_TOKS = r"list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')"

# ---------------------------------------------------------------------------
# vocab_build — tokenizer-vocabulary construction with coverage accounting
# ---------------------------------------------------------------------------

_VOCAB_MIN_CF = 2
_VOCAB_SIZE = 200


def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction: top-``_VOCAB_SIZE`` corpus terms
    with corpus frequency ≥ ``_VOCAB_MIN_CF``, deterministic token ids
    (frequency desc, term asc — the WordPiece/BPE vocab-dump convention),
    and the cumulative share of TOTAL corpus token mass each vocab prefix
    covers (the "how big must V be for 99% coverage" curve).

    Extends the reference's ingestion surface with the tokenizer-training
    precursor a text lake feeds (reference has no query capability;
    north-star text-analysis mandate).

    Scale: ONE word-count shuffle over the corpus (map-side partial
    aggregation; the shuffle is vocabulary-sized, not corpus-sized), then
    TakeOrdered for the top-V cut — the subsequent row_number/cumsum
    window runs on ≤ V rows (bounded by construction, so the
    single-partition window is O(V) and never sees corpus-scale data).
    The term-frequency table is persisted result-scoped because BOTH the
    vocab branch and the grand total consume it (without it the corpus
    scan + count shuffle run twice); the grand total rides a broadcast
    1-row crossJoin. Coverage is exact bigint ppm:
    ``cum_cf * 1e6 div total``.
    """
    from ._cache import scoped

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(X.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cf"))
        .persist()
    )
    total = tf.agg(F.sum("cf").cast("long").alias("total_tokens"))
    # (cf desc, term) is a total order — term is unique after groupBy — so
    # the limit cut and the window rank agree deterministically.
    w = Window.orderBy(F.desc("cf"), F.asc("term"))
    result = (
        tf.where(F.col("cf") >= _VOCAB_MIN_CF)
        .orderBy(F.desc("cf"), "term")
        .limit(_VOCAB_SIZE)
        .withColumn("token_id", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_cf",
            F.sum("cf")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "token_id",
            "term",
            "cf",
            "cum_cf",
            F.expr(
                "cast(cum_cf * 1000000 div nullif(total_tokens, 0) as long)"
            ).alias("coverage_ppm"),
        )
        .orderBy("token_id")
    )
    return scoped(result, tf)


_SQL_VOCAB = rf"""
WITH tok AS (
  SELECT unnest({_SQL_TOKS}) AS term FROM documents
), tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM tok GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cf) AS BIGINT) AS total_tokens FROM tf
), v AS (
  SELECT term, cf FROM tf WHERE cf >= {_VOCAB_MIN_CF}
  ORDER BY cf DESC, term LIMIT {_VOCAB_SIZE}
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS token_id,
       term, cf,
       CAST(SUM(cf) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cf,
       CAST(SUM(cf) OVER (w ROWS UNBOUNDED PRECEDING) * 1000000
            // NULLIF(total_tokens, 0) AS BIGINT) AS coverage_ppm
FROM v, tot
WINDOW w AS (ORDER BY cf DESC, term)
ORDER BY token_id
"""

# ---------------------------------------------------------------------------
# span_dedup — C4-style duplicated-span removal accounting
# ---------------------------------------------------------------------------

_SPAN_K = 3


def _pos_grams(col: str, k: int):
    """Positional (NON-distinct) word k-grams → array<string>, gram i
    starting at token i. Same O(tokens) zip_with construction as
    ``X.shingles`` (n whole-array slices, one concat per gram) minus the
    ``array_distinct`` — span accounting needs every occurrence AND its
    position."""
    t = X.tokens(col)
    cnt = F.greatest(F.size(t) - (k - 1), F.lit(0))
    grams = F.slice(t, 1, cnt)
    for i in range(1, k):
        grams = F.zip_with(
            grams, F.slice(t, i + 1, cnt), lambda a, b: F.concat_ws(" ", a, b)
        )
    return grams


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span REMOVAL accounting: a span (word
    ``_SPAN_K``-gram occurrence) is duplicated iff its gram occurs more
    than once in the whole corpus (any document, including twice in the
    same one — C4 removes exact repeated spans regardless of where the
    twin lives); a token is removed iff it is covered by at least one
    duplicated span. Reports, per source: exact token mass, tokens that
    span-removal would delete, and the removal ppm — the cost report you
    run BEFORE committing to span-level dedup.

    Covered-token mass is the union-of-intervals length computed by the
    lag trick: per document, over duplicated span STARTS in position
    order, each start ``p`` contributes ``least(k, p - lag(p))`` tokens
    (first start contributes ``k``) — exact overlap accounting with ONE
    window over only the duplicated rows, no per-token explode.

    Scale: grams shuffle as 8-byte xxhash64 keys (hashing changes the
    grouping key only, ~1e-9 collision odds at this cardinality — same
    argument as ``dup_ngram_fraction``, whose oracle also builds string
    grams). r12: the occurrence count rides a COUNT window over the one
    gram-hash exchange instead of a groupBy + join-back — the old form
    built the gram table twice (both join sides re-evaluated the
    posexplode) and shuffled it twice (once into the count aggregate,
    once into the join); the window form evaluates the gram expression
    ONCE and ships the span rows across exactly one (h) exchange
    (measured 5.5 → 3.4 s warm at sf0.1, identical output; guide §2.3
    "shuffle fewer bytes" / §2.4 "two operations keyed the same way can
    share one exchange"). Skew caveat (r12 ADVICE, stated honestly):
    the window form gives up the map-side PARTIAL count the old groupBy
    had and AQE's runtime splitting — every occurrence row of a hot
    gram must land in ONE window task, where the old aggregate shipped
    one partial count per map task. On boilerplate-heavy corpora at
    scale, salt-count hot hashes first (two-level count keyed on
    (h, salt), then sum over salts) if the gram distribution regresses
    this window. The metric remains the corpus-sized expensive tier and
    runs AFTER cheap gates. The coverage window partitions by doc_id
    (skew-free) and sees only duplicated starts.
    """
    k = _SPAN_K
    docs = load_table(spark, sf_dir, "documents")
    totals = (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(X.token_count("text")).cast("long").alias("n_tokens"),
        )
    )
    spans = docs.select(
        "doc_id",
        "source",
        F.posexplode(_pos_grams("text", k)).alias("pos0", "gram"),
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"),
             F.xxhash64("gram").alias("h"))
    wh = Window.partitionBy("h")
    dup = spans.withColumn("occ", F.count("*").over(wh)).where(
        F.col("occ") > 1
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    covered = (
        dup.withColumn("prev", F.lag("pos").over(wd))
        .withColumn(
            "contrib",
            F.when(F.col("prev").isNull(), F.lit(k)).otherwise(
                F.least(F.lit(k), F.col("pos") - F.col("prev"))
            ),
        )
        .groupBy("source")
        .agg(
            F.sum("contrib").cast("long").alias("removed_tokens"),
            F.countDistinct("doc_id").cast("long").alias("n_docs_hit"),
        )
    )
    return (
        totals.join(covered, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.coalesce("removed_tokens", F.lit(0)).cast("long").alias(
                "removed_tokens"
            ),
            F.coalesce("n_docs_hit", F.lit(0)).cast("long").alias("n_docs_hit"),
            F.expr(
                "cast(coalesce(removed_tokens, 0) * 1000000"
                "     div nullif(n_tokens, 0) as long)"
            ).alias("removed_ppm"),
        )
        .orderBy("source")
    )


_SQL_SPAN_DEDUP = rf"""
WITH tok AS (
  SELECT doc_id, source, {_SQL_TOKS} AS ts FROM documents
), totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(ts)) AS BIGINT) AS n_tokens
  FROM tok GROUP BY 1
), spans AS (
  SELECT doc_id, source, unnest(generate_series(1, len(ts) - {_SPAN_K - 1})) AS pos,
         NULL AS _pad
  FROM tok WHERE len(ts) >= {_SPAN_K}
), g AS (
  SELECT s.doc_id, s.source, s.pos,
         t.ts[s.pos] || ' ' || t.ts[s.pos + 1] || ' ' || t.ts[s.pos + 2] AS gram
  FROM spans s JOIN tok t USING (doc_id)
), occ AS (
  SELECT gram, COUNT(*) AS occ FROM g GROUP BY 1
), dup AS (
  SELECT g.doc_id, g.source, g.pos FROM g JOIN occ USING (gram)
  WHERE occ.occ > 1
), cov AS (
  SELECT source, doc_id,
         CASE WHEN lag(pos) OVER w IS NULL THEN {_SPAN_K}
              ELSE LEAST({_SPAN_K}, pos - lag(pos) OVER w) END AS contrib
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), per_src AS (
  SELECT source, CAST(SUM(contrib) AS BIGINT) AS removed_tokens,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_hit
  FROM cov GROUP BY 1
)
SELECT t.source, t.n_docs, t.n_tokens,
       CAST(COALESCE(p.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(COALESCE(p.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
       CAST(COALESCE(p.removed_tokens, 0) * 1000000
            // NULLIF(t.n_tokens, 0) AS BIGINT) AS removed_ppm
FROM totals t LEFT JOIN per_src p USING (source)
ORDER BY t.source
"""

# ---------------------------------------------------------------------------
# quality_adaptive_filter — per-language rank-based threshold gate
# ---------------------------------------------------------------------------


def quality_adaptive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style LANGUAGE-ADAPTIVE quality gate: instead of one global
    cutoff (``quality_filter``), each language gets its own threshold —
    the lower median of the per-doc mean-token-length signal (milli
    integer: ``token_chars * 1000 div n_tok``) — and a document survives
    iff it scores ≥ its language's median. Reports per language: corpus
    size, survivors, survival ppm, the threshold used, and the exact
    retained char mass.

    The threshold is RANK-based (value at row ``(n+1) div 2`` of the
    score order), not an interpolating percentile — so both engines pick
    an actual observed score and ties at the cutoff resolve identically
    (everything ≥ the picked value survives).

    Scale: the score is a codegen'd projection (scan speed); the median
    needs one per-language sort window (languages are a natural
    partition; skew bounded by corpus share per language), and the
    resulting threshold table is languages-sized — broadcast back onto
    the scored scan, so the gate itself never shuffles the corpus a
    second time.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = X.tokens("text")
    scored = docs.select(
        "lang",
        "n_chars",
        F.size(t).cast("long").alias("n_tok"),
        F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("tok_chars"),
    ).where(F.col("n_tok") > 0).withColumn(
        "tl_milli", F.expr("tok_chars * 1000 div n_tok")
    )
    wr = Window.partitionBy("lang").orderBy("tl_milli")
    wn = Window.partitionBy("lang")
    thresh = (
        scored.withColumn("rn", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wn))
        .where(F.expr("rn = (n + 1) div 2"))
        .select("lang", F.col("tl_milli").alias("thr_milli"))
    )
    return (
        scored.join(F.broadcast(thresh), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("tl_milli") >= F.col("thr_milli")).cast("long"))
            .cast("long")
            .alias("n_kept"),
            F.expr(
                "cast(sum(case when tl_milli >= thr_milli then 1 else 0 end)"
                "     * 1000000 div count(*) as long)"
            ).alias("kept_ppm"),
            F.max("thr_milli").cast("long").alias("thr_milli"),
            F.sum(
                F.when(F.col("tl_milli") >= F.col("thr_milli"), F.col("n_chars"))
                .otherwise(0)
            )
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("lang")
    )


_SQL_ADAPTIVE = rf"""
WITH scored AS (
  SELECT lang, n_chars,
         len(ts) AS n_tok,
         CAST(list_sum(list_transform(ts, x -> length(x))) * 1000
              // len(ts) AS BIGINT) AS tl_milli
  FROM (SELECT lang, n_chars, {_SQL_TOKS} AS ts FROM documents)
  WHERE len(ts) > 0
), ranked AS (
  SELECT lang, tl_milli,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tl_milli) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM scored
), thresh AS (
  SELECT lang, tl_milli AS thr_milli FROM ranked WHERE rn = (n + 1) // 2
)
SELECT s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s.tl_milli >= t.thr_milli THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN s.tl_milli >= t.thr_milli THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS kept_ppm,
       CAST(MAX(t.thr_milli) AS BIGINT) AS thr_milli,
       CAST(SUM(CASE WHEN s.tl_milli >= t.thr_milli THEN s.n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars
FROM scored s JOIN thresh t USING (lang)
GROUP BY s.lang
ORDER BY s.lang
"""

# ---------------------------------------------------------------------------
# source_overlap_matrix — cross-source shingle-leakage matrix
# ---------------------------------------------------------------------------


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination/leakage matrix: for every unordered
    source pair, the number of DISTINCT word trigrams both sources
    contain — the boilerplate/mirror-site detector you run before
    trusting per-source dedup or split boundaries (a hot pair means the
    sources share templated text and a train/eval split along source
    lines would leak).

    Scale: ONE shuffle. Distinct grams shuffle as 8-byte hashes (the
    Arrow shingle kernel, the repo's fast shingling path) into
    ``groupBy(hash) → collect_set(source)`` — the value set is
    bounded by the SOURCE COUNT (not corpus size), and the pair fan-out
    (``k·(k-1)/2`` per gram) happens JVM-side from that tiny sorted
    array, so no gram-keyed self-join ever materializes. The final pair
    rollup aggregates ≤ sources² rows. The oracle states the same
    relation as the readable distinct-pair self-join; hashing changes the
    join key only (~1e-9 collision odds at this cardinality).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_gram = (
        widen_for_kernel(
            docs.select("source", "text"), *table_stats(sf_dir, "documents")
        ).select(
            "source", F.explode(X.shingle_hashes_np(3)(F.col("text"))).alias("h")
        )
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") >= 2)
    )
    pairs = per_gram.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) ->"
                "  transform(slice(srcs, i + 2, size(srcs)),"
                "            y -> struct(x as sa, y as sb))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.sa", "p.sb")
        .groupBy("sa", "sb")
        .agg(F.count("*").cast("long").alias("shared_grams"))
        .orderBy("sa", "sb")
    )


_SQL_OVERLAP = rf"""
WITH grams AS (
  SELECT DISTINCT source,
         unnest(list_transform(
           range(1, greatest(len(ts) - 1, 1)),
           i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS g
  FROM (SELECT source, {_SQL_TOKS} AS ts FROM documents)
  WHERE len(ts) >= 3
)
SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS shared_grams
FROM grams a JOIN grams b USING (g)
WHERE a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# cooccurrence_pmi — top PMI pairs over the head vocabulary
# ---------------------------------------------------------------------------

_PMI_VOCAB = 50
_PMI_TOPK = 20


def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations: over the top-``_PMI_VOCAB``
    corpus terms, the ``_PMI_TOPK`` unordered term pairs that co-occur in
    the most documents, with document frequencies and PMI in integer
    micro-nats — the word2vec/SGNS co-occurrence statistic and the
    phrase-mining signal (high-PMI pairs are collocations worth merging
    into single tokens before tokenizer training, cf. ``vocab_build``).

    PMI uses document-level indicator events:
    ``ln(n_ab·n_docs / (n_a·n_b))`` where n_docs counts every document
    with a non-NULL doc_id — NULL-keyed documents are excluded from
    membership AND the denominator on both engines (see the filter
    below; anything else diverges structurally). Both engines evaluate
    the identical double expression text and quantize once to micro-nats
    (`zipf_fit`'s libm-parity discipline).

    Scale: the pair space is capped by the vocabulary CUT, not the corpus
    — per-doc vocab-member sets are ≤ V elements, so the JVM-side pair
    fan-out (same slice/transform construction as
    ``source_overlap_matrix``, no self-join) emits ≤ V²/2 pairs per doc
    into a map-side-combinable count whose key space is ≤ V²/2 total.
    The vocab and doc-frequency tables are V-sized broadcasts; the
    (doc, term) membership dedup rides the one word-count-shaped shuffle.
    The top-k window runs after the LIMIT cut (≤ k rows).
    """
    from ._cache import scoped

    # doc_id is the membership key: a NULL-keyed document cannot be
    # attributed, and the engines disagree on it structurally (groupBy
    # pools all NULLs into one phantom doc, the oracle's equi-self-join
    # drops them) — excluded from membership AND the n_docs denominator
    # symmetrically
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), "term")
        .limit(_PMI_VOCAB)
        .select("term")
    )
    # Two token passes by design: pass 1 is the term-only word count the
    # vocab cut needs (map-side combined, vocabulary-sized shuffle); pass
    # 2 re-explodes and filters against the broadcast vocab BEFORE any
    # shuffle, so only vocab-member (doc, term) rows — ≤ |docs|·V — ever
    # move, in ONE doc_id exchange: collect_set dedups by itself (its
    # map-side partials are already ≤ V-element sets), so no separate
    # distinct() exchange precedes it. Fusing the passes into one
    # persisted (doc, term, count) table was measured 2× SLOWER at sf0.1:
    # it shuffles the full distinct (doc, term) universe instead of the
    # V-pruned slice.
    per_doc = (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("term")).alias("ts"))
        .persist()
    )
    dfreq = per_doc.select(F.explode("ts").alias("term")).groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    pairs = (
        per_doc.where(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (x, i) ->"
                    "  transform(slice(ts, i + 2, size(ts)),"
                    "            y -> struct(x as ta, y as tb))))"
                )
            ).alias("p")
        )
        .select("p.ta", "p.tb")
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    scored = (
        pairs.join(
            F.broadcast(dfreq.select(F.col("term").alias("ta"), F.col("n").alias("n_a"))),
            "ta",
        )
        .join(
            F.broadcast(dfreq.select(F.col("term").alias("tb"), F.col("n").alias("n_b"))),
            "tb",
        )
        .crossJoin(F.broadcast(n_docs))
        .orderBy(F.desc("n_ab"), "ta", "tb")
        .limit(_PMI_TOPK)
    )
    w = Window.orderBy(F.desc("n_ab"), "ta", "tb")
    result = (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            "rnk",
            "ta",
            "tb",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "cast(round(ln(cast(n_ab * n_docs as double)"
                "              / cast(n_a * n_b as double)) * 1000000) as long)"
            ).alias("pmi_micro"),
        )
        .orderBy("rnk")
    )
    return scoped(result, per_doc)


_SQL_PMI = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
  WHERE doc_id IS NOT NULL
), tf AS (
  SELECT term, COUNT(*) AS cf FROM tok GROUP BY 1
), vocab AS (
  SELECT term FROM tf ORDER BY cf DESC, term LIMIT {_PMI_VOCAB}
), dt AS (
  SELECT DISTINCT doc_id, term FROM tok JOIN vocab USING (term)
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM dt GROUP BY 1
), d AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  WHERE doc_id IS NOT NULL
), pairs AS (
  SELECT a.term AS ta, b.term AS tb, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
), top AS (
  SELECT ta, tb, n_ab FROM pairs
  ORDER BY n_ab DESC, ta, tb LIMIT {_PMI_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       t.ta, t.tb, t.n_ab, fa.n AS n_a, fb.n AS n_b,
       CAST(ROUND(ln(CAST(t.n_ab * d.n_docs AS DOUBLE)
                     / CAST(fa.n * fb.n AS DOUBLE)) * 1000000) AS BIGINT)
         AS pmi_micro
FROM top t
JOIN dfreq fa ON t.ta = fa.term
JOIN dfreq fb ON t.tb = fb.term, d
WINDOW w AS (ORDER BY t.n_ab DESC, t.ta, t.tb)
ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# bpe_merges — BPE tokenizer training (iterative pair-merge fixpoint)
# ---------------------------------------------------------------------------

_BPE_VOCAB = 200   # train on the top-V word types (the standard recipe:
                   # BPE learns from the word-frequency table, not the corpus)
_BPE_MERGES = 8    # learned merge count (fixed so the oracle can unroll)


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016): from the
    ``vocab_build`` word-frequency substrate, learn ``_BPE_MERGES`` merge
    rules — each iteration counts adjacent symbol pairs weighted by word
    frequency, merges the most frequent pair (ties broken (freq DESC,
    left, right)) into one symbol everywhere, and repeats. Output: the
    ordered merge table (merge_idx, left_sym, right_sym, pair_freq) — the
    artifact a tokenizer ships.

    Engine-neutral representation trick: a word's symbol sequence is a
    string with TWO spaces between symbols (``h  e  l  l  o``), and
    "merge pair (a,b)" is one literal
    ``replace(' '‖repr‖' ', ' a  b ', ' ab ')``. The pattern's single
    leading/trailing space takes only ONE space of each two-space
    delimiter, so consecutive occurrences still match — literal
    replace's left-to-right scan is then exactly the greedy
    non-overlapping BPE merge (``a  a  a  a`` → ``aa  aa``; a
    single-space delimiter would consume the shared boundary and skip
    every second occurrence — the r05 review finding), identically in
    Spark and DuckDB, which is what makes the oracle an exact
    fixed-iteration replay rather than a reimplementation.

    Scale (the dedup_clusters iterative discipline): each of the N
    iterations is ONE pair-count shuffle over the VOCABULARY (word types
    × avg symbols — millions of rows at web scale, never the corpus) and
    collects exactly ONE argmax row to the driver; the representation
    frame is persisted per iteration and the predecessor unpersisted, so
    lineage stays flat and no iteration replays the previous ones. The
    corpus itself is touched once, by the initial word count.
    """
    return spark.createDataFrame(
        _learn_bpe(spark, sf_dir),
        "merge_idx LONG, left_sym STRING, right_sym STRING, pair_freq LONG",
    )


_BPE_MEMO: dict = {}
_BPE_MEMO_MAX = 8  # FIFO-bounded like the PQ codebook memo (plans/llm.py):
#                    driver processes outlive queries; cycling corpora must
#                    not grow memory monotonically. Retraining on eviction
#                    is the cheap, correct fallback.


def _corpus_stamp(sf_dir: str):
    """Order-stable (path, size, mtime) stamp of the documents table —
    the memo key. File mtimes change whenever a test fixture rewrites
    its corpus, so staleness cannot leak across fixtures."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    stats = []
    if os.path.isdir(path):
        # os.walk yields DIRECTORIES in arbitrary order — collect
        # (relpath, size, mtime) for the whole tree and sort the list,
        # so multi-directory parquet datasets stamp identically across
        # processes (an unsorted stamp only costs a memo miss, but an
        # intermittent miss retrains BPE for nothing — round-5 ADVICE)
        for root, _, files in os.walk(path):
            for fn in files:
                fp = os.path.join(root, fn)
                st = os.stat(fp)
                stats.append(
                    (os.path.relpath(fp, path), st.st_size, st.st_mtime_ns)
                )
        stats.sort()
    else:
        st = os.stat(path)
        stats.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    return (os.path.abspath(path), tuple(stats))


def _learn_bpe(spark: SparkSession, sf_dir: str) -> list:
    """The training loop shared by ``bpe_merges`` (emits the merge
    table), ``bpe_encode`` and ``tokenizer_fertility`` (which apply the
    merges to the corpus).

    Memoized per PROCESS on the corpus file stamp: a production pipeline
    trains the tokenizer once and ships the merge list as an artifact —
    three queries retraining the identical 8-iteration loop on the same
    corpus is bench noise, not fidelity (the ``_pq_train_ctx`` memo
    precedent, plans/llm.py)."""
    key = _corpus_stamp(sf_dir)
    hit = _BPE_MEMO.get(key)
    if hit is not None:
        return hit
    merges = _learn_bpe_uncached(spark, sf_dir)
    if len(_BPE_MEMO) >= _BPE_MEMO_MAX:
        _BPE_MEMO.pop(next(iter(_BPE_MEMO)))
    _BPE_MEMO[key] = merges
    return merges


def _learn_bpe_uncached(spark: SparkSession, sf_dir: str) -> list:
    """8-round BPE merge training (honest greedy structure, bounded driver
    traffic: each round collects exactly ONE top-pair row via limit(1)).

    100 TB posture: the word-frequency table is a map-side-combined
    wordcount (scales), but per-round driver coordination means 8 full
    job launches — at cluster scale you train the merges on a
    hash-admitted document SAMPLE (the ``_EMB_SAMPLE_PPM`` pattern in
    plans/llm.py: ``pmod(xxhash64(doc_id), 1e6) < ppm`` on BOTH engine
    and oracle sides) and apply the learned merges corpus-wide — BPE
    merge ranks stabilize on a tiny fraction of a web-scale corpus
    (top-pair frequencies are corpus-level statistics, not tail-
    sensitive). The registered queries train on the full test corpus
    because the DuckDB oracle unrolls the exact same 8 merges; the
    sampling knob changes WHERE the frequency table comes from, not the
    loop's shape."""
    docs = load_table(spark, sf_dir, "documents")
    cur = (
        docs.select(F.explode(X.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(_BPE_VOCAB)
        # one symbol per character to start; symbols are separated by
        # TWO spaces so the single-trailing-space merge pattern leaves one
        # space behind for the next match — literal replace() is then the
        # TRUE greedy non-overlapping merge ('a  a  a  a' -> 'aa  aa',
        # not the shared-delimiter skip 'aa  a  a'; r05 review finding)
        .select(
            "freq",
            F.trim(F.regexp_replace("word", "(.)", "$1  ")).alias("repr"),
        )
        # V rows total: collapse to one partition so each of the N
        # iteration jobs is a single task instead of 32 near-empty ones
        .coalesce(1)
        .persist()
    )
    merges: list[tuple[int, str, str, int]] = []
    try:
        for it in range(1, _BPE_MERGES + 1):
            top = (
                cur.select("freq", F.split("repr", "  ").alias("s"))
                .select(
                    "freq",
                    F.explode(
                        F.expr(
                            "transform(slice(s, 1, greatest(size(s) - 1, 0)),"
                            " (x, i) -> struct(x AS l, element_at(s, i + 2) AS r))"
                        )
                    ).alias("p"),
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("pf"))
                .orderBy(F.desc("pf"), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, pf = top[0]["l"], top[0]["r"], int(top[0]["pf"])
            merges.append((it, l, r, pf))
            nxt = cur.withColumn(
                "repr",
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("repr"), F.lit(" ")),
                        F.lit(f" {l}  {r} "),
                        F.lit(f" {l}{r} "),
                    )
                ),
            ).persist()
            nxt.count()  # materialize before dropping the parent's cache
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return merges


def _bpe_sql(n_merges: int = _BPE_MERGES, vocab: int = _BPE_VOCAB) -> str:
    """Fixed-iteration unrolled replay of the merge loop (one CTE pair
    per iteration — the oracle mirrors the Spark loop stage for stage)."""
    parts = [
        rf"""WITH w0 AS MATERIALIZED (
  SELECT freq, trim(regexp_replace(word, '(.)', '\1  ', 'g')) AS repr
  FROM (
    SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
                    x -> x <> '')) AS term
      FROM documents
    )
    GROUP BY term
    ORDER BY freq DESC, word
    LIMIT {vocab}
  )
)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(f""", p{k} AS MATERIALIZED (
  SELECT s[i] AS l, s[i + 1] AS r, SUM(freq) AS pf
  FROM (SELECT freq, string_split(repr, '  ') AS s FROM w{k - 1}),
       LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
  GROUP BY 1, 2
  ORDER BY pf DESC, l, r
  LIMIT 1
), w{k} AS MATERIALIZED (
  SELECT freq,
         trim(replace(' ' || repr || ' ',
                      ' ' || l || '  ' || r || ' ',
                      ' ' || l || r || ' ')) AS repr
  FROM w{k - 1}, p{k}
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_idx, l, r, pf FROM p{k}"
        for k in range(1, n_merges + 1)
    )
    parts.append(f"""
SELECT CAST(merge_idx AS BIGINT) AS merge_idx,
       l AS left_sym, r AS right_sym,
       CAST(pf AS BIGINT) AS pair_freq
FROM ({unions})
ORDER BY merge_idx
""")
    return "".join(parts)


_SQL_BPE = _bpe_sql()


def _bpe_symbol_count(merges: list):
    """Post-merge symbol count of ``text`` as a codegen Column: each word
    becomes space-joined characters, words join with a 4-space joiner (so
    the single-space merge patterns cannot span a word boundary), and the
    learned merges apply as chained literal ``replace``s."""
    rep = F.concat_ws(
        "    ",
        F.transform(
            X.tokens("text"),
            lambda w: F.trim(F.regexp_replace(w, "(.)", "$1  ")),
        ),
    )
    rep = F.concat(F.lit(" "), rep, F.lit(" "))
    for _, l, r, _pf in merges:
        rep = F.replace(rep, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    return F.size(
        F.filter(F.split(F.trim(rep), " +"), lambda x: x != "")
    ).cast("long")


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE tokenizer to the corpus — the inference side
    of ``bpe_merges``: train the merge list (same loop), encode every
    document by replaying the merges over its word symbol sequences, and
    report per source the exact before/after symbol counts and the
    compression in ppm — the "how much does my tokenizer save" accounting
    a tokenizer rollout is judged by.

    Encoding rides the same representation trick as training: each word
    becomes DOUBLE-space-joined characters, words join with FOUR spaces
    (``_bpe_symbol_count``/``_bpe_apply_sql_expr``), so a merge needle
    ``' l  r '`` — which carries one leading/trailing space and a double
    interior space — can never span a word boundary (with only a double
    space between words it WOULD match across them), and
    the N learned merges apply as N chained literal ``replace``s — a pure
    codegen projection over the corpus, no UDF, no shuffle until the
    |sources|-row rollup. tokens_before = character symbols, tokens_after
    = symbols remaining after the merges.

    Scale: training touches the vocabulary (see ``_learn_bpe``); encoding
    is ONE corpus scan at expression speed with the merge list inlined as
    literals (at 100 TB, the merge list is exactly the broadcast-nothing
    artifact you want — it compiles INTO the plan).
    """
    merges = _learn_bpe(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_after = _bpe_symbol_count(merges)
    n_before = F.aggregate(
        F.transform(X.tokens("text"), F.length),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        docs.select("source", n_before.alias("nb"), n_after.alias("na"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nb").cast("long").alias("tokens_before"),
            F.sum("na").cast("long").alias("tokens_after"),
            F.expr(
                "cast(sum(na) * 1000000 div nullif(sum(nb), 0) as long)"
            ).alias("compression_ppm"),
        )
        .orderBy("source")
    )


def _bpe_apply_sql_expr(n_merges: int = _BPE_MERGES) -> str:
    """The oracle twin of ``_bpe_symbol_count``'s replace chain: the
    per-document symbol string with all learned merges applied, as a
    DuckDB expression referencing the training CTEs ``p1..pN``.

    ``array_to_string([])`` is NULL in DuckDB where Spark's ``concat_ws``
    yields ``''`` — COALESCE pins the empty-document case to the Spark
    semantics (otherwise a group whose EVERY doc is empty reports NULL
    symbol counts instead of 0)."""
    expr = "' ' || COALESCE(array_to_string(list_transform(" + _SQL_TOKS + \
        r", w -> trim(regexp_replace(w, '(.)', '\1  ', 'g'))), '    '), '')" \
        " || ' '"
    for k in range(1, n_merges + 1):
        expr = (
            f"replace({expr},\n"
            f"  COALESCE(' ' || (SELECT l FROM p{k}) || '  ' ||"
            f" (SELECT r FROM p{k}) || ' ', ''),\n"
            f"  COALESCE(' ' || (SELECT l FROM p{k}) ||"
            f" (SELECT r FROM p{k}) || ' ', ''))"
        )
    return expr


def _bpe_encode_sql(n_merges: int = _BPE_MERGES) -> str:
    """Training replay (the ``_bpe_sql`` stages) + N chained replaces
    over per-document symbol strings. A missing merge k (tiny corpora
    that dry up early) yields an empty p{k}; its scalar subquery goes
    NULL and COALESCE turns the needle into '' — and ``replace(s,'',y)``
    is the identity in DuckDB, so absent merges are no-ops on both
    engines (Spark simply applies fewer replaces)."""
    expr = _bpe_apply_sql_expr(n_merges)
    # reuse the training CTE chain, swap the final SELECT for the encoder
    train = _bpe_sql(n_merges)
    head = train[: train.index("\nSELECT CAST(merge_idx")]
    return head + f"""
, enc AS (
  SELECT source,
         CAST(CASE WHEN text IS NULL THEN NULL
              ELSE COALESCE(list_sum(list_transform({_SQL_TOKS}, w -> len(w))), 0)
              END AS BIGINT) AS nb,
         len(list_filter(string_split_regex(trim({expr}), ' +'),
             x -> x <> '')) AS na
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS tokens_before,
       CAST(SUM(na) AS BIGINT) AS tokens_after,
       CAST(SUM(na) * 1000000 // NULLIF(SUM(nb), 0) AS BIGINT)
         AS compression_ppm
FROM enc
GROUP BY source
ORDER BY source
"""


_SQL_BPE_ENCODE = _bpe_encode_sql()


# ---------------------------------------------------------------------------
# tokenizer_fertility — per-language tokens-per-word / chars-per-token
# ---------------------------------------------------------------------------


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE tokenizer-efficiency report — the standard fertility
    table (tokens emitted per word, characters packed per token) a
    tokenizer choice is judged by across languages: train the BPE merge
    list once on the whole corpus (``_learn_bpe``), encode every document
    (the ``bpe_encode`` replace-chain, shared via ``_bpe_symbol_count``),
    and aggregate exact integer counts by ``lang``. High fertility on a
    language means the shared vocabulary underserves it — the signal that
    drives per-language vocab budgets.

    fertility_milli = bpe_tokens·1000 div words;
    chars_per_token_milli = chars·1000 div bpe_tokens — integer-exact on
    both engines (the repo's ppm/milli division discipline).

    Scale: encoding is ONE corpus scan at expression speed (the merge
    list compiles into the plan as literals — nothing to broadcast); the
    rollup is map-side-combinable into |langs| rows. Same 100 TB shape as
    ``bpe_encode``; only the grouping axis and ratios differ.
    """
    merges = _learn_bpe(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.size(X.tokens("text")).cast("long").alias("nw"),
            F.aggregate(
                F.transform(X.tokens("text"), F.length),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("nc"),
            _bpe_symbol_count(merges).alias("nt"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nw").cast("long").alias("words"),
            F.sum("nc").cast("long").alias("chars"),
            F.sum("nt").cast("long").alias("bpe_tokens"),
            F.expr(
                "cast(sum(nt) * 1000 div nullif(sum(nw), 0) as long)"
            ).alias("fertility_milli"),
            F.expr(
                "cast(sum(nc) * 1000 div nullif(sum(nt), 0) as long)"
            ).alias("chars_per_token_milli"),
        )
        .orderBy("lang")
    )


def _fertility_sql(n_merges: int = _BPE_MERGES) -> str:
    """Training replay + shared encode expression, rolled up by lang."""
    train = _bpe_sql(n_merges)
    head = train[: train.index("\nSELECT CAST(merge_idx")]
    return head + f"""
, enc AS (
  SELECT lang,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS nw,
         CAST(CASE WHEN text IS NULL THEN NULL
              ELSE COALESCE(list_sum(list_transform({_SQL_TOKS}, w -> len(w))), 0)
              END AS BIGINT) AS nc,
         len(list_filter(string_split_regex(
             trim({_bpe_apply_sql_expr(n_merges)}), ' +'), x -> x <> '')) AS nt
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS words,
       CAST(SUM(nc) AS BIGINT) AS chars,
       CAST(SUM(nt) AS BIGINT) AS bpe_tokens,
       CAST(SUM(nt) * 1000 // NULLIF(SUM(nw), 0) AS BIGINT)
         AS fertility_milli,
       CAST(SUM(nc) * 1000 // NULLIF(SUM(nt), 0) AS BIGINT)
         AS chars_per_token_milli
FROM enc
GROUP BY lang
ORDER BY lang
"""


_SQL_FERTILITY = _fertility_sql()



# ---------------------------------------------------------------------------
# source_keywords — per-source TF-IDF characterization
# ---------------------------------------------------------------------------

_KEYWORDS_TOPK = 5


def source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What is each source ABOUT: the top-``_KEYWORDS_TOPK`` terms per
    source by TF-IDF, with idf over source-level document frequency
    (``ln(n_sources/df)``) — the corpus-exploration report a curation
    run opens with, and the direct source-level analogue of
    ``cooccurrence_pmi``'s micro-ln discipline (score =
    ``tf · round(ln(ns/df)·10⁶)``, an exact integer product of an exact
    count and an identically-rounded log on both engines).

    Scale: ONE token pass → (source, term) counts (map-side combined,
    vocabulary×sources-sized shuffle); source-level df derives from that
    same table; n_sources is a 1-row broadcast; the top-k window runs per
    source on the filtered candidate set. Terms present in EVERY source
    get idf 0 and fall out of the ranking naturally.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(X.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .persist()
    )
    sdf = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df_sources")
    )
    ns = docs.agg(
        F.countDistinct("source").cast("long").alias("n_sources")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    from ._cache import scoped

    result = (
        tf.join(sdf, "term")
        .crossJoin(F.broadcast(ns))
        .withColumn(
            "score_micro",
            F.expr(
                "tf * cast(round(ln(cast(n_sources as double)"
                " / cast(df_sources as double)) * 1000000) as long)"
            ),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _KEYWORDS_TOPK)
        .select("source", "rnk", "term", "tf", "df_sources", "score_micro")
        .orderBy("source", "rnk")
    )
    return scoped(result, tf)


_SQL_SOURCE_KEYWORDS = rf"""
WITH tok AS (
  SELECT source, unnest({_SQL_TOKS}) AS term FROM documents
), tf AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
), sdf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_sources FROM tf GROUP BY 1
), ns AS (
  SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources FROM documents
), scored AS (
  SELECT tf.source, tf.term, tf.tf, sdf.df_sources,
         tf.tf * CAST(ROUND(ln(CAST(ns.n_sources AS DOUBLE)
                                / CAST(sdf.df_sources AS DOUBLE)) * 1000000)
                      AS BIGINT) AS score_micro
  FROM tf JOIN sdf USING (term) CROSS JOIN ns
)
SELECT source, rnk, term, tf, df_sources, score_micro FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY score_micro DESC, term ASC) AS BIGINT)
    AS rnk
  FROM scored
) t WHERE rnk <= {_KEYWORDS_TOPK}
ORDER BY source, rnk
"""


QUERIES = {
    "vocab_build": vocab_build,
    "bpe_merges": bpe_merges,
    "bpe_encode": bpe_encode,
    "tokenizer_fertility": tokenizer_fertility,
    "span_dedup": span_dedup,
    "quality_adaptive_filter": quality_adaptive_filter,
    "source_overlap_matrix": source_overlap_matrix,
    "cooccurrence_pmi": cooccurrence_pmi,
    "source_keywords": source_keywords,
}

ORACLE = {
    "vocab_build": _SQL_VOCAB,
    "bpe_merges": _SQL_BPE,
    "bpe_encode": _SQL_BPE_ENCODE,
    "tokenizer_fertility": _SQL_FERTILITY,
    "span_dedup": _SQL_SPAN_DEDUP,
    "quality_adaptive_filter": _SQL_ADAPTIVE,
    "source_overlap_matrix": _SQL_OVERLAP,
    "cooccurrence_pmi": _SQL_PMI,
    "source_keywords": _SQL_SOURCE_KEYWORDS,
}


# ---------------------------------------------------------------------------
# boilerplate_prefixes — repeated-prefix (template) detection per source
# ---------------------------------------------------------------------------

_PREFIX_CHARS = 32
_PREFIX_TOPK = 5
_PREFIX_MIN_FAMILY = 2


def boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection: per source, the top
    ``_PREFIX_TOPK`` repeated ``_PREFIX_CHARS``-char lowercase document
    prefixes with at least ``_PREFIX_MIN_FAMILY`` members — the cheap
    first-pass screen for scraped template families (cookie banners,
    licence headers, forum scaffolding) that near-dup passes then
    confirm; prefix-grouping is how production curation pipelines triage
    boilerplate BEFORE paying shingle costs.

    Determinism: character-based ``substring`` on both engines (short
    docs contribute their whole text); empty/NULL texts drop
    symmetrically; ranking pinned by (n_docs DESC, prefix ASC).

    Scale: word-count shape — one shuffle keyed on (source, prefix), a
    per-source top-k window over the SURVIVING families only (the
    ``>= _PREFIX_MIN_FAMILY`` filter runs before the rank, so the sort
    sees family heads, not the corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    fams = (
        docs.where(F.col("text").isNotNull() & (F.length("text") > 0))
        .groupBy(
            "source",
            F.expr(f"substring(lower(text), 1, {_PREFIX_CHARS})").alias(
                "prefix"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= _PREFIX_MIN_FAMILY)
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_docs").desc(), F.col("prefix")
    )
    return (
        fams.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _PREFIX_TOPK)
        .orderBy("source", "rank")
    )


_SQL_BOILERPLATE = f"""
WITH fams AS (
  SELECT source, substr(lower(text), 1, {_PREFIX_CHARS}) AS prefix,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PREFIX_MIN_FAMILY}
)
SELECT source, prefix, n_docs,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT source, prefix, n_docs,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_docs DESC, prefix) AS rank
  FROM fams
)
WHERE rank <= {_PREFIX_TOPK}
ORDER BY source, rank
"""

QUERIES["boilerplate_prefixes"] = boilerplate_prefixes
ORACLE["boilerplate_prefixes"] = _SQL_BOILERPLATE


# ---------------------------------------------------------------------------
# r11-staged: MOSS-style winnowing fingerprints (register after r12 gate)
# ---------------------------------------------------------------------------

_WINNOW_K = 4            # tokens per k-gram
_WINNOW_W = 5            # winnowing window (grams) — guarantee: any match
#                          of >= K + W - 1 tokens shares a fingerprint
_WINNOW_B = 2147483648   # packed-key base: key = (B - h)·B + gpos, so
#                          arg_max picks the RIGHTMOST MINIMUM hash (the
#                          winnowing tie rule); h < 2^24, gpos < 2^31


def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every positional token ``_WINNOW_K``-gram,
    slide a ``_WINNOW_W``-gram window, keep each window's RIGHTMOST
    minimum hash — the canonical local fingerprinting scheme whose
    guarantee (every shared substring of ≥ K+W−1 tokens shares a
    selected fingerprint) the rolling-hash ``doc_fingerprint`` cannot
    give. Output: per-document fingerprint profile (gram count, selected
    count, integer-ppm density, checksum and minimum of the selected
    hashes — the min doubles as a fast equality prefilter for pairing).
    Documents too short for a full window contribute their global
    rightmost-min (the last partial window); gram-less docs report
    zeros.

    Cross-engine determinism: gram hash = first 24 bits of md5 (the
    repo-standard portable hash), selection by integer ``arg_max`` /
    ``max_by`` over the packed ``(B−h)·B+gpos`` key — no float, no
    engine-specific tie behavior. DISTINCT (doc, gpos, h) first, so a
    byte-identical re-ingested document row cannot double the profile.

    Scale: grams ship as (doc_id, int pos, int hash) — text never
    shuffles past the tokenizer projection; ONE hash exchange on doc_id
    feeds both stacked windows AND the per-doc aggregates (subset
    grouping key ⇒ no second exchange); output is |docs| narrow rows. At
    100 TB the selected-fingerprint stream (≈ 2/(W+1) of grams) is what
    you'd bucket-join for MOSS-style overlap pairing.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    t = X.tokens("text")
    cnt = F.greatest(F.size(t) - (_WINNOW_K - 1), F.lit(0))
    grams = F.slice(t, 1, cnt)
    for i in range(1, _WINNOW_K):
        grams = F.zip_with(
            grams, F.slice(t, i + 1, cnt),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    g = (
        docs.select("doc_id", F.posexplode(grams).alias("gpos", "gram"))
        .select(
            "doc_id",
            F.col("gpos").cast("long").alias("gpos"),
            F.conv(F.substring(F.md5("gram"), 1, 6), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    # Secondary order key `h`: gpos is unique per doc for well-formed input,
    # but if a doc_id ever carried two texts the DISTINCT above keeps two
    # rows per gpos and a gpos-only ROWS frame would be tie-order dependent
    # (engine vs oracle could legitimately diverge). (gpos, h) is total.
    wsel = (
        Window.partitionBy("doc_id")
        .orderBy("gpos", "h")
        .rowsBetween(-(_WINNOW_W - 1), 0)
    )
    key = (
        f"(CAST({_WINNOW_B} AS BIGINT) - h) "
        f"* CAST({_WINNOW_B} AS BIGINT) + gpos"
    )
    sel = g.select(
        "doc_id",
        "gpos",
        F.expr(f"max_by(gpos, {key})").over(wsel).alias("pick"),
        F.expr(f"max_by(h, {key})").over(wsel).alias("hpick"),
        F.max("gpos").over(Window.partitionBy("doc_id")).alias("maxpos"),
    )
    fp = (
        sel.where(
            (F.col("gpos") >= _WINNOW_W - 1)
            | (F.col("gpos") == F.col("maxpos"))
        )
        .select("doc_id", "pick", "hpick")
        .distinct()
    )
    prof = fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp"),
        F.sum("hpick").cast("long").alias("fp_checksum"),
        F.min("hpick").cast("long").alias("fp_min"),
    )
    ng = g.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    base = docs.select("doc_id").distinct()
    return (
        base.join(ng, "doc_id", "left")
        .join(prof, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_fp", F.lit(0)).cast("long").alias("n_fp"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.expr("coalesce(n_fp, 0) * 1000000 div n_grams"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("fp_density_ppm"),
            F.coalesce("fp_checksum", F.lit(0))
            .cast("long")
            .alias("fp_checksum"),
            F.coalesce("fp_min", F.lit(0)).cast("long").alias("fp_min"),
        )
        .orderBy("doc_id")
    )


_SQL_WINNOWING = f"""
WITH toks AS (
  SELECT doc_id,
         COALESCE({_SQL_TOKS}, []) AS tk
  FROM documents WHERE doc_id IS NOT NULL
), g AS (
  SELECT DISTINCT doc_id, CAST(u.i AS BIGINT) AS gpos,
         ('0x' || substr(md5(tk[u.i + 1] || ' ' || tk[u.i + 2] || ' ' ||
                             tk[u.i + 3] || ' ' || tk[u.i + 4]), 1, 6))::BIGINT
           AS h
  FROM toks
  CROSS JOIN UNNEST(range(GREATEST(len(tk) - {_WINNOW_K - 1}, 0))) AS u(i)
), sel AS (
  SELECT doc_id, gpos,
         arg_max(gpos, (CAST({_WINNOW_B} AS BIGINT) - h)
                       * CAST({_WINNOW_B} AS BIGINT) + gpos) OVER wsel
           AS pick,
         arg_max(h, (CAST({_WINNOW_B} AS BIGINT) - h)
                    * CAST({_WINNOW_B} AS BIGINT) + gpos) OVER wsel
           AS hpick,
         MAX(gpos) OVER (PARTITION BY doc_id) AS maxpos
  FROM g
  WINDOW wsel AS (PARTITION BY doc_id ORDER BY gpos, h
                  ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW)
), fp AS (
  SELECT DISTINCT doc_id, pick, hpick
  FROM sel WHERE gpos >= {_WINNOW_W - 1} OR gpos = maxpos
), prof AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
         CAST(SUM(hpick) AS BIGINT) AS fp_checksum,
         CAST(MIN(hpick) AS BIGINT) AS fp_min
  FROM fp GROUP BY doc_id
), ng AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(ng.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(prof.n_fp, 0) AS BIGINT) AS n_fp,
       CAST(CASE WHEN COALESCE(ng.n_grams, 0) > 0
                 THEN COALESCE(prof.n_fp, 0) * 1000000 // ng.n_grams
                 ELSE 0 END AS BIGINT) AS fp_density_ppm,
       CAST(COALESCE(prof.fp_checksum, 0) AS BIGINT) AS fp_checksum,
       CAST(COALESCE(prof.fp_min, 0) AS BIGINT) AS fp_min
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL) b
LEFT JOIN ng ON ng.doc_id = b.doc_id
LEFT JOIN prof ON prof.doc_id = b.doc_id
ORDER BY b.doc_id
"""

# registered r12 (staged r11 per the stage-then-register cadence)
QUERIES["doc_winnowing"] = doc_winnowing
ORACLE["doc_winnowing"] = _SQL_WINNOWING


# ---------------------------------------------------------------------------
# r12-staged: first-seer n-gram novelty (register after the r12 gate lands)
# ---------------------------------------------------------------------------

_NOVELTY_N = 3  # trigram shingles — the dup_ngram_fraction family unit


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the share (ppm) of a document's
    distinct trigrams whose FIRST occurrence in the corpus — minimum
    ``doc_id`` over every document containing the gram, the ingest-order
    stand-in — is this document. The streaming-curation diversity signal
    (SlimPajama/RefinedWeb-style): a crawl whose late documents add no
    new grams is saturated, and a source whose docs are mostly first-
    seers is the one worth crawling deeper. Complements
    ``dup_ngram_fraction`` (symmetric global duplication share — a doc
    and its copy score identically there; HERE the original scores high
    and the copy scores zero). Rolled up per source: docs, mean novelty
    ppm, fully-novel docs, dead docs (zero novel grams).

    NULL ``doc_id`` rows drop out: first-seer needs a total order on
    documents and NULL is unordered (same posture as ``doc_winnowing``).

    Scale: grams shuffle as 8-byte hashes, never text — one gram-keyed
    exchange builds the first-seer table (min is an algebraic aggregate:
    map-side partials), one hash join back scores every (doc, gram)
    pair, then a doc-keyed rollup. The same two-exchange budget as
    ``dup_ngram_fraction`` at any corpus size; the first-seer table is
    the only corpus-wide state and it is one row per DISTINCT gram.
    """
    from ._cache import scoped

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    # kernel emits DISTINCT hashes per doc; (doc, gram) distinct guards
    # byte-identical re-ingested rows (duplicate rows must not change
    # per-doc novelty, and min(doc_id) is insensitive to them anyway)
    sh = (
        widen_for_kernel(
            docs.select("doc_id", "source", "text"),
            *table_stats(sf_dir, "documents"),
        ).select(
            "doc_id", "source",
            F.explode(X.shingle_hashes_np(_NOVELTY_N)(F.col("text")))
            .alias("s"),
        )
        .distinct()
        .persist()
    )
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "s")
        .groupBy("doc_id", "source")
        .agg(
            F.expr(
                "sum(case when first_doc = doc_id then 1 else 0 end) "
                "* 1000000L div count(*)"
            ).alias("novel_ppm")
        )
    )
    return scoped(
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("sum(novel_ppm) div count(*)").alias("avg_novel_ppm"),
            F.sum((F.col("novel_ppm") == 1_000_000).cast("long"))
            .cast("long")
            .alias("n_fully_novel"),
            F.sum((F.col("novel_ppm") == 0).cast("long"))
            .cast("long")
            .alias("n_zero_novel"),
        )
        .orderBy("source"),
        sh,
    )


_SQL_NGRAM_NOVELTY = rf"""
WITH toks AS (
  SELECT doc_id, source, {_SQL_TOKS} AS t
  FROM documents WHERE doc_id IS NOT NULL
), sh AS (
  SELECT DISTINCT doc_id, source,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(t) - 2, 0))) AS i
  )
), first AS (
  SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
), per_doc AS (
  SELECT sh.doc_id, sh.source,
         SUM(CASE WHEN first.first_doc = sh.doc_id THEN 1 ELSE 0 END)
           * 1000000 // COUNT(*) AS novel_ppm
  FROM sh JOIN first USING (s)
  GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(novel_ppm) // COUNT(*) AS BIGINT) AS avg_novel_ppm,
       CAST(SUM(CASE WHEN novel_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fully_novel,
       CAST(SUM(CASE WHEN novel_ppm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_novel
FROM per_doc
GROUP BY 1
ORDER BY 1
"""

R12_QUERIES = {"ngram_novelty": ngram_novelty}
R12_ORACLE = {"ngram_novelty": _SQL_NGRAM_NOVELTY}

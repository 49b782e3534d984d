"""LLM training-data pipeline operators (SURVEY.md §2 B16–B20 + north-star
extensions): deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash /
embedding-cosine), similarity search (brute-force + LSH ANN), text analysis
(lang-ID, quality, token stats, fingerprints), multimodal columns.

Design split per operator family:
- an ORACLE-CHECKED exact form — the correctness baseline DuckDB can
  replicate (sparse self-joins, explicit cosine algebra);
- a SCALE form (MinHash-LSH banding, SimHash bands, sign-LSH buckets) whose
  candidate generation is subquadratic — the one you run at 100 TB. Where
  the scale form is exact-verified after candidate generation (minhash →
  exact Jaccard verify) it shares the exact form's oracle; recall of the
  banding scheme is pinned by seeds, so the comparison is deterministic.

Shuffle economics at 100 TB (why these shapes):
- n-gram exact pairs: |shingle instances| shuffle + pair aggregation — the
  quadratic blow-up lives in the pair space; fine at test scale, replaced by
  LSH at cluster scale.
- minhash: signature = 1 projection (no shuffle); bands shuffle |docs|·b
  tiny rows; only VERIFIED candidates pay the full-array compare.
- embedding ANN: sign-LSH buckets turn the |Q|×|N| cross join into
  per-bucket joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import similarity as S
from ..functions import text as X
from ..sources.tables import (
    SQL_NONZERO_EMB,
    SQL_VALID_EMB,
    load_table,
    load_vectors,
    table_stats,
    widen_for_kernel,
)
from ._cache import scoped

# ---------------------------------------------------------------------------
# B16: exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: rank copies, keep rank 1.

    Scale: one hash-shuffle on the 128-bit fingerprint (never the full
    text), skew-free by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.withColumn("fp", X.fingerprint("text"))
        .withColumn("copy_rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "fp", "copy_rank", (F.col("copy_rank") == 1).alias("is_kept"))
    )


_SQL_DEDUP_EXACT = r"""
SELECT doc_id, fp, copy_rank, copy_rank = 1 AS is_kept
FROM (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))
           ORDER BY doc_id) AS BIGINT) AS copy_rank
  FROM documents
) t
"""

# ---------------------------------------------------------------------------
# B17a: near-dup, exact n-gram Jaccard (oracle baseline)
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.8
# length-band prune integers, DERIVED from the threshold so they cannot
# drift from it (r12 ADVICE: the hardcoded 4/5 would silently over-prune
# if the constant were ever lowered): jaccard ≥ τ forces max·τ ≤ min,
# stated exactly in integers as max·num ≤ min·den where τ = num/den.
from fractions import Fraction as _Fraction

_BAND_NUM = _Fraction(_JACCARD_THRESHOLD).limit_denominator(1000).numerator
_BAND_DEN = _Fraction(_JACCARD_THRESHOLD).limit_denominator(1000).denominator
assert _BAND_NUM / _BAND_DEN == _JACCARD_THRESHOLD, (
    "length band must be the exact threshold fraction"
)
_INCR_STRIDE = 7  # every 7th doc plays the "new crawl batch" (incremental dedup)
# every 50th vector is a similarity QUERY (the rest are corpus): ONE constant
# referenced by the ANN/IVF/IVF-PQ pandas kernels, the DataFrame probe/query
# filters AND the SQL oracles — a drifted copy of this literal would desync
# probe rows from query selection silently and collapse recall with no error
_QUERY_STRIDE = 50
_SHINGLE_N = 3


def _shingle_array(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sha: array<bigint>) — ONE pass of the md5 shingle kernel,
    the dominant cost of every shingle consumer (BASELINE.md breakdown:
    ~1.1 s of dedup_minhash_lsh's ~1.9 s at sf0.1). Callers that need both
    the exploded shingle table AND the simhash fingerprints (the
    dedup_simhash audit) persist THIS frame and derive both, paying the
    kernel once.

    ONE ROW PER doc_id: a document's shingle set is the DISTINCT union
    over all rows carrying its id — the oracles' GROUP BY doc_id /
    DISTINCT (doc_id, s) semantic. Without the union, a byte-identical
    re-ingested row doubled every intersection/size count (jaccard
    4i/(2a+2b−4i) ≠ i/(a+b−i)) and inflated family sizes (r08
    duplicate-rows sweep: 5 dedup-family divergences from this one
    cause). The groupBy ships (doc_id, hash-array) — one narrow shuffle,
    the normalize-raw-crawl step a 100 TB pipeline runs once and
    amortizes.
    """
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    # widen the narrow (doc_id, text) projection before the kernel: a
    # single-row-group scan is ONE task and would run the md5 shingle
    # kernel serial; width sized to the doc count from footer metadata
    # (see sources/tables.widen_for_kernel; no-op at scale)
    per_row = widen_for_kernel(
        docs.select("doc_id", "text"), *table_stats(sf_dir, "documents")
    ).select(
        "doc_id", X.shingle_hashes_np(_SHINGLE_N)(F.col("text")).alias("sha")
    )
    return per_row.groupBy("doc_id").agg(
        F.array_distinct(F.flatten(F.collect_list("sha"))).alias("sha")
    )


def _shingle_pairs(
    spark: SparkSession, sf_dir: str, sha: DataFrame | None = None
) -> DataFrame:
    """Exact trigram-shingle Jaccard over all candidate pairs that share at
    least one shingle — identical relation to the oracle's sparse
    self-join, built with ONE exchange of the shingle rows (r13; guide
    §2.3/§2.4): group the exploded (doc_id, sz, hash) rows by hash,
    collect the id-sorted (doc_id, sz) posting list per shingle, and fan
    the ``k·(k−1)/2`` candidate pairs out JVM-side from that array (the
    ``source_overlap_matrix`` shape). The r12 form self-joined the
    persisted shingle table on the hash — two shuffles of the shingle
    rows plus join machinery; this shuffles them once and never
    materializes a join (A/B at sf0.1: 2.8 → 1.6 s on the pair build,
    output collect-identical). Doc sizes ride the posting list and come
    back out as GROUP KEYS of the pair aggregate (sz is functionally
    dependent on doc_id), which also deletes the two size join-backs the
    old form paid after aggregation.

    The fan-out runs on 64-bit shingle HASHES, not strings: the shuffle
    ships 8-byte keys instead of ~20-byte text (the 100 TB-relevant
    choice); |distinct hashes| = |distinct shingles| up to a ~1e-9
    collision probability at this cardinality, so Jaccard values are
    unchanged.

    Memory/skew at scale: a hot shingle (boilerplate) concentrates its
    posting list in one aggregate group and its pair fan-out in one task
    — the SAME concentration the self-join had (a sort-merge join also
    streams one hot key through one task, and AQE's skew splitting
    cannot divide a single key either way). The outer ``posexplode``
    keeps peak memory per generated row at O(|postings|), not O(pairs):
    each (i, x) row expands only its suffix slice. The length-band prune
    (below) is what bounds the fan-out itself.

    LENGTH-BAND prune (r12, the PPJoin/AllPairs length filter, guide
    §3.2's prune-before-the-exchange): jaccard(A, B) ≥ τ forces
    max(|A|,|B|) ≤ min(|A|,|B|)/τ (i = |A∩B| ≤ min and i ≥ τ(|A|+|B|−i)
    ⇒ min ≥ τ·max), so candidate pairs whose doc sizes fall outside the
    τ = 0.8 band (max·4 > min·5, exact in integers — see
    ``_BAND_NUM``/``_BAND_DEN``) are dropped INSIDE the fan-out
    ``filter``, before the candidate-count aggregation ships them.
    Every consumer thresholds at _JACCARD_THRESHOLD, so the pruned pairs
    could never appear in any output — pair values are unchanged, only
    never-surviving candidates die earlier. At 100 TB this is the filter
    that keeps a boilerplate-vs-long-doc hot shingle from fanning out
    candidate pairs that can't pass. Callers that ever need sub-0.8
    pairs must widen the band with the threshold they use.
    """
    if sha is None:
        sha = _shingle_array(spark, sf_dir)
    # one pass: the shingle rows are consumed exactly once (the old
    # self-join read a persisted copy three times)
    sh = sha.select(
        "doc_id", F.size("sha").alias("sz"), F.explode("sha").alias("s")
    )
    postings = (
        sh.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sz"))).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    # doc_ids are distinct within a posting list (sha is one row per doc,
    # distinct hashes per doc), so the sorted suffix fan-out enumerates
    # exactly the a.doc_id < b.doc_id pairs of the old join condition
    outer = postings.select("ds", F.posexplode("ds").alias("i", "x"))
    pair_rows = outer.select(
        F.explode(
            F.expr(
                "filter(transform(slice(ds, i + 2, size(ds) - i - 1), y ->"
                "  struct(x.doc_id as doc_a, y.doc_id as doc_b,"
                "         x.sz as sza, y.sz as szb)),"
                f" p -> greatest(p.sza, p.szb) * {_BAND_NUM}"
                f"      <= least(p.sza, p.szb) * {_BAND_DEN})"
            )
        ).alias("p")
    ).select("p.*")
    return (
        pair_rows.groupBy("doc_a", "doc_b", "sza", "szb")
        .agg(F.count("*").alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")),
        )
    )


def _shingle_families(arr_df: DataFrame, arr_col: str) -> DataFrame:
    """Exact-duplicate families over distinct-shingle SETS → (fkey, rep,
    fam_size). Docs with identical distinct-shingle sets are similarity-
    indistinguishable — every Jaccard involving any member is equal — so
    the near-dup contracts collapse each family to its min-doc_id
    representative and carry the family SIZE instead of enumerating
    B(B−1)/2 intra-family pair rows (the dedup_clusters r07 precedent: a
    boilerplate farm with B=10⁶ copies makes the pair output itself
    quadratic, and the shared-shingle / shared-band self-joins fan out the
    same way on the hot keys). Zero-shingle docs must be EXCLUDED by the
    caller: they'd otherwise form one phantom family claiming mutual
    jaccard 1.0 where the pairwise contract (0/0 undefined) never pairs
    them.

    The family key is the SORTED hash array ITSELF (Spark groups by array
    columns natively) — the kernel's set iteration order is not canonical
    across docs, and keying on a second-level xxhash64 of the array (the
    pre-r09 form) let a 64-bit collision silently merge two DIFFERENT
    shingle sets into one family, changing pair membership (r08 ADVICE).
    Unlike the documented per-shingle xxhash tolerance (which only
    perturbs jaccard VALUES), family membership must be exact — the
    DuckDB oracle keys on the exact sorted set. Shuffle width is the
    8-byte-per-shingle array, the same rows the pair join explodes anyway."""
    return (
        arr_df.select(
            "doc_id", F.array_sort(arr_col).alias("fkey")
        )
        .groupBy("fkey")
        .agg(F.min("doc_id").alias("rep"), F.count("*").alias("fam_size"))
    )


def _family_rows(pairs: DataFrame, fams: DataFrame) -> DataFrame:
    """Shared near-dup output shape: representative cross-family pairs
    (≥ threshold) annotated with both family sizes, plus one intra-family
    row per family of ≥ 2 members (rep, rep, jaccard 1.0, size, size) —
    provably reconstructible to the pairwise-exact form: intra rows expand
    to C(size, 2) jaccard-1.0 pairs, cross rows to fam_a·fam_b pairs at
    the representatives' jaccard (pinned by the pytest twin)."""
    sizes = fams.select("rep", "fam_size")
    cross = (
        pairs.where(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .join(
            sizes.withColumnRenamed("rep", "doc_a")
            .withColumnRenamed("fam_size", "fam_a"), "doc_a",
        )
        .join(
            sizes.withColumnRenamed("rep", "doc_b")
            .withColumnRenamed("fam_size", "fam_b"), "doc_b",
        )
        .select("doc_a", "doc_b", "jaccard", "fam_a", "fam_b")
    )
    intra = fams.where(F.col("fam_size") >= 2).select(
        F.col("rep").alias("doc_a"),
        F.col("rep").alias("doc_b"),
        F.lit(1.0).alias("jaccard"),
        F.col("fam_size").alias("fam_a"),
        F.col("fam_size").alias("fam_b"),
    )
    return cross.unionByName(intra)


def dedup_near_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: trigram-shingle Jaccard ≥ 0.8, exactly, with
    exact-duplicate families collapsed to representatives.

    The correctness baseline for the dedup family. Exact-duplicate
    families (identical distinct-shingle sets) collapse to their min-id
    representative BEFORE the shared-shingle self-join — so a B-copy
    boilerplate family costs one rep in the pair graph instead of B² join
    fan-out and B(B−1)/2 output rows; the family sizes in the output make
    the pairwise form reconstructible (``_near_ngram_pairs_exact`` is the
    pytest twin). Candidate space over DISTINCT contents stays quadratic
    in the worst case, so at cluster scale dedup_minhash_lsh replaces the
    self-join (same output contract).
    """
    sha = _shingle_array(spark, sf_dir).where(F.size("sha") > 0).persist()
    fams = _shingle_families(sha, "sha")
    rep_sha = sha.join(
        fams.select(F.col("rep").alias("doc_id")), "doc_id"
    )
    pairs = _shingle_pairs(spark, sf_dir, sha=rep_sha)
    return scoped(_family_rows(pairs, fams), sha)


def _near_ngram_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-EXACT near-dup twin (pytest reference only): every
    (doc_a, doc_b) Jaccard ≥ 0.8 pair enumerated. Quadratic pair output on
    exact-duplicate families — the registered ``dedup_near_ngram``
    collapses those; this form pins the reconstruction equivalence."""
    pairs = _shingle_pairs(spark, sf_dir)
    return (
        pairs.where(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


_SQL_NEAR_NGRAM = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS tokens FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS s
  FROM toks, LATERAL (SELECT unnest(generate_series(1, GREATEST(len(tokens)-2, 0))) AS i)
), fam AS (
  -- family key = the doc's full DISTINCT shingle set (sorted list is a
  -- canonical, collision-free group key); same doc partition as the
  -- engine's sorted-hash-array fingerprint
  SELECT doc_id, list_sort(list(s)) AS fkey FROM sh GROUP BY doc_id
), fams AS (
  SELECT MIN(doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS fam_size
  FROM fam GROUP BY fkey
), rsh AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN fams ON sh.doc_id = fams.rep
), sizes AS (SELECT doc_id, COUNT(*) sz FROM rsh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) inter
  FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(inter * 1.0 / (sa.sz + sb.sz - inter) AS DOUBLE) AS jaccard,
       fa.fam_size AS fam_a, fb.fam_size AS fam_b
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
JOIN fams fa ON doc_a = fa.rep
JOIN fams fb ON doc_b = fb.rep
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.8
UNION ALL
SELECT rep AS doc_a, rep AS doc_b, CAST(1 AS DOUBLE) AS jaccard,
       fam_size AS fam_a, fam_size AS fam_b
FROM fams WHERE fam_size >= 2
"""

# ---------------------------------------------------------------------------
# B17b: near-dup, MinHash + LSH banding (the scale path)
# ---------------------------------------------------------------------------

_NUM_PERM = 64
_ROWS_PER_BAND = 4  # 16 bands → P(miss | j=0.8) = (1-0.8^4)^16 ≈ 2e-4


def _minhash_band_index(spark: SparkSession, sf_dir: str,
                        collapse_families: bool = False,
                        docs: DataFrame | None = None):
    """(base, banded, fams): the persisted shingle table, the persisted
    (doc_id, band-key) MinHash LSH index — ONE implementation shared by
    the batch self-join (dedup_minhash_lsh) and the incremental
    batch×history path (dedup_incremental_lsh), so the two can never
    drift on band parameters or empty-doc filtering — and, with
    ``collapse_families=True``, the exact-duplicate family table
    (_shingle_families): signatures and bands are then computed ONLY for
    family representatives, so a B-copy family contributes ONE doc to
    every band bucket instead of B (the band self-join otherwise fans out
    B² on each of the family's 16 shared band keys — same quadratic blow-
    up the collapsed pair contract removes from the output). Callers
    scope the persisted frames to their result's lifetime (_cache.scoped).

    The shingle table is consumed by multiple branches (signature + the
    verify joins) and the band table by both sides of its join — persist
    the narrow forms so each Arrow kernel runs ONCE per corpus scan
    (measured 2.1 s → ~1 s at sf0.1). The band join ships ONLY (doc_id,
    band_key) — 16 bytes/row; shingle arrays are fetched AFTER candidate
    dedup via small joins (shipping arrays through the band shuffle
    measured ~20% slower and is catastrophically wider at 100 TB). At
    cluster scale these two frames are the minhash index you'd write to
    the lake and amortize across runs.

    Fusion was TRIED and rejected (r05): a single text→(sh, sig) kernel
    — struct or flattened-array return — measured equal-or-slower than
    this split form at sf0.1 (2.4 s / 1.78 s vs 1.63 s index build),
    because the cost is the per-shingle md5 in Python, not the second
    Arrow boundary. The honest standalone cost of the LSH path is
    recorded in BASELINE.md's protocol table.
    """
    # one row per doc_id (union of shingle sets across duplicate rows —
    # see _shingle_array): without it a re-ingested duplicate doubled the
    # verify-join rows and every downstream pair row
    base = (
        _shingle_array(spark, sf_dir, docs=docs)
        .withColumnRenamed("sha", "sh")
        .where(F.size("sh") > 0)
        .persist()
    )
    fams = None
    src = base
    if collapse_families:
        fams = _shingle_families(base, "sh")
        src = base.join(fams.select(F.col("rep").alias("doc_id")), "doc_id")
    # Arrow-vectorized signature kernel (same integer math as the
    # expression form — see functions/similarity.py)
    sig = src.select(
        "doc_id", S.minhash_signature_np(_NUM_PERM)(F.col("sh")).alias("sig")
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            S.lsh_bands_from_array(F.col("sig"), _NUM_PERM, _ROWS_PER_BAND)
        ).alias("bk"),
    ).persist()
    return base, banded, fams


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) signatures → 16-band LSH → candidate pairs → EXACT
    Jaccard verify ≥ 0.8, with exact-duplicate families collapsed to
    representatives (same output contract as dedup_near_ngram: rep pairs
    annotated with family sizes + one intra row per ≥2-member family).

    Scale path: family collapse first (a B-copy boilerplate family is ONE
    doc in every band bucket, not B² bucket-mates); signatures are one
    projection (no shuffle); banding shuffles 16 small rows/rep; only
    bucket-mates pay the exact array verify. The banding seeds are fixed,
    so recall (≈1 at these params) is deterministic and the oracle
    comparison is stable, not probabilistic.
    """
    base, banded, fams = _minhash_band_index(
        spark, sf_dir, collapse_families=True
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )
    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    cand = pairs.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    verified = (
        cand.withColumn("jaccard", inter / union)
        .select("doc_a", "doc_b", "jaccard")
    )
    return scoped(_family_rows(verified, fams), base, banded)


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: a new crawl batch (every 7th doc) is checked
    against the HISTORICAL corpus through the banded MinHash index — the
    join is batch-bands × history-bands on the band key, never a corpus
    self-join, which is how a 100 TB pipeline admits a daily batch
    without rescanning itself quadratically. Candidates verify with
    exact shingle Jaccard ≥ 0.8; per-source manifest of the batch: docs
    in, docs near-duplicating history.

    Oracle: the exact cross-pair n-gram Jaccard (same fixed-seed
    determinism argument as ``dedup_minhash_lsh``: recall ≈ 1 at these
    band parameters, so the LSH path must reproduce the exact answer).

    Scale: history contributes 16 band rows/doc (the persisted LSH index
    a real pipeline stores in the lake); the batch side is
    batch-not-corpus sized; the exact verify touches only bucket-mates.
    """
    docs = load_table(spark, sf_dir, "documents")
    base, banded, _ = _minhash_band_index(spark, sf_dir)
    is_batch = F.col("doc_id") % _INCR_STRIDE == 0
    bb = banded.where(is_batch).alias("a")
    hb = banded.where(~is_batch).alias("b")
    cand = (
        bb.join(hb, F.col("a.bk") == F.col("b.bk"))
        .select(
            F.col("a.doc_id").alias("doc_n"), F.col("b.doc_id").alias("doc_h")
        )
        .dropDuplicates()
    )
    sa = base.select(F.col("doc_id").alias("doc_n"), F.col("sh").alias("sa"))
    sb = base.select(F.col("doc_id").alias("doc_h"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    flagged = (
        cand.join(sa, "doc_n").join(sb, "doc_h")
        .where((inter / union) >= _JACCARD_THRESHOLD)
        .select(F.col("doc_n").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # DISTINCT (doc_id, source): a byte-identical re-ingested batch row
    # is the same admitted document — counting rows inflated the batch
    # manifest on BOTH engines (agreeing-but-wrong; r08 review find).
    batch_docs = docs.where(is_batch).select("doc_id", "source") \
        .dropDuplicates()
    return scoped(
        batch_docs
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_batch"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias(
                "n_near_dup_of_history"
            ),
        )
        .orderBy("source"),
        base,
        banded,
    )


_SQL_INCR_LSH = rf"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tokens
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS s
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(tokens)-2, 0))) AS i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), cross_pairs AS (
  SELECT a.doc_id AS doc_n, b.doc_id AS doc_h, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE a.doc_id % {_INCR_STRIDE} = 0 AND b.doc_id % {_INCR_STRIDE} <> 0
  GROUP BY 1, 2
), flagged AS (
  SELECT DISTINCT doc_n AS doc_id
  FROM cross_pairs
  JOIN sizes sa ON doc_n = sa.doc_id
  JOIN sizes sb ON doc_h = sb.doc_id
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_dup_of_history
-- DISTINCT (doc_id, source): re-ingested duplicate rows are one admitted
-- document (engine dropDuplicates twin)
FROM (SELECT DISTINCT doc_id, source FROM documents
      WHERE doc_id % {_INCR_STRIDE} = 0) d
LEFT JOIN flagged f USING (doc_id)
GROUP BY source
ORDER BY source
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the near-dup pair
    graph, via iterative min-label propagation — pairs alone don't tell a
    100 TB dedup which copies to drop; the canonical representative is the
    component minimum (keep cluster_id, drop the rest).

    Iterative driver loop (labels are min-monotone, so the total-sum
    fingerprint detects the fixpoint); iteration count is the component
    diameter — tiny for dup clusters, and each step is one narrow
    (node, label) join. The oracle is a recursive CTE computing the same
    min-reachable id, so the iterative Spark algorithm is checked against
    closed-form SQL semantics.

    EXACT-FAMILY PRE-COLLAPSE (r07): a B-copy boilerplate family would
    otherwise materialize B(B−1)/2 verified pairs before components —
    the realistic 100 TB giant-family killer (B = 10⁶ → 5·10¹¹ pair
    rows). Identical normalized texts are similarity-INDISTINGUISHABLE
    (same shingle multiset ⇒ jaccard 1 with each other and equal
    jaccard to everyone else), so the pair graph is built over one
    MIN-id representative per exact-fingerprint family and components
    expand back afterwards — provably the same components, pair cost
    quadratic in DISTINCT texts only. Docs with <3 tokens (or NULL
    text) have no shingles and can never pair, so they stay
    self-representatives — collapsing them by fingerprint would mint
    clusters the pair graph never had (two identical 2-token docs are
    NOT a cluster today, on either engine).

    Measured price on the near-dup-free synthetic corpus (same-process
    A/B, sf0.1 warm): 4.6 s → 6.3 s — the fingerprint pass plus the
    rep-filter join (AQE broadcasts the id list at bench SF; at scale
    it is a doc_id shuffle). Accepted: on any corpus with real exact-dup
    mass the collapse wins back orders of magnitude before the pair
    join even runs.
    """
    docs = load_table(spark, sf_dir, "documents")
    eligible = F.col("text").isNotNull() & (X.token_count("text") >= 3)
    fams = docs.select(
        "doc_id",
        F.when(eligible, X.fingerprint("text")).alias("fp"),
    )
    reps = (
        fams.where(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.min("doc_id").alias("rep"))
    )
    # doc -> representative (self for no-shingle docs; they never pair).
    # Plain keyed joins: reps is one row per DISTINCT text — corpus-sized,
    # never broadcastable; both hops are narrow-key shuffles.
    doc_rep = fams.join(reps, "fp", "left").select(
        "doc_id", F.coalesce("rep", "doc_id").alias("rep")
    )
    rep_docs = docs.join(
        reps.select(F.col("rep").alias("doc_id")), "doc_id"
    )
    # union per doc_id (the oracle's DISTINCT (doc_id, s) semantic): a
    # re-ingested duplicate row of a representative would otherwise
    # double its intersection/size counts in the pair join (r08
    # duplicate-rows sweep). The frame is reps-only, so the union
    # aggregate is small.
    sha = widen_for_kernel(
        rep_docs.select("doc_id", "text"), *table_stats(sf_dir, "documents")
    ).select(
        "doc_id", X.shingle_hashes_np(_SHINGLE_N)(F.col("text")).alias("sha")
    ).groupBy("doc_id").agg(
        F.array_distinct(F.flatten(F.collect_list("sha"))).alias("sha")
    )
    raw = _shingle_pairs(spark, sf_dir, sha=sha)
    pairs = raw.where(F.col("jaccard") >= _JACCARD_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    # localCheckpoint (eager) rather than persist: each iteration's plan
    # references the previous iteration's frame, so without truncation the
    # lineage (and per-job planning cost) grows with the component
    # diameter — the round-3 bench regression. Checkpointing pins the
    # MATERIALIZED rows and severs the plan, so every iteration is one
    # flat join job regardless of how many came before; at 100 TB this is
    # the difference between O(diameter) and O(diameter²) work.
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=True)
    # init fuses the FIRST propagation step: label(d) = min(d, neighbors)
    # straight off the edge table — one groupBy instead of a distinct plus
    # a full join round (every node appears as src because sym is
    # symmetric), so the loop starts one hop ahead
    labels = (
        sym.groupBy(F.col("src").alias("d"))
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    prev_sum = None
    it = 0
    while True:
        it += 1
        flowed = (
            sym.join(labels, sym.src == labels.d)
            .select(F.col("dst").alias("d"), "label")
        )
        # fixpoint detector: labels are min-monotone, so the exact total
        # strictly decreases until convergence. Decimal(38,0) sum — an
        # int64 sum of billions of 64-bit ids would overflow (ANSI throw
        # or silent wrap), a double sum can miss a sub-ulp change.
        # observe() rides the checkpoint materialization, so each
        # iteration is ONE driver-synchronized job — the r12 form paid a
        # second (label-sum collect) job per iteration (r12 verdict
        # item 2; guide §1.2 job-shape-first)
        obs = Observation(f"cc_labelsum_{it}")
        new_labels = (
            labels.unionByName(flowed)
            .groupBy("d").agg(F.min("label").alias("label"))
            .observe(obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]
        # rebinding drops the only reference to the previous iteration's
        # checkpoint; its RDD blocks are reclaimed by Spark's
        # ContextCleaner once the JVM object is GC'd (DataFrame.unpersist
        # would be a no-op here — it only touches CacheManager entries,
        # not checkpoint block storage), so peak block usage is ~2 label
        # frames plus sym, not one per iteration retained forever
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # expand representatives back to documents: a doc inherits its rep's
    # component label (or the rep itself for an unpaired family — kept
    # only when the family alone reaches 2 members, i.e. was a genuine
    # mutual-jaccard-1 cluster). cluster_id stays the component-min
    # doc_id: every family's rep IS its min, and labels are min-of-reps.
    return (
        doc_rep.join(labels, doc_rep.rep == labels.d, "left")
        .select("doc_id", F.coalesce("label", "rep").alias("cluster_id"))
        .groupBy("cluster_id")
        # DISTINCT doc_ids, not rows: a byte-identical re-ingested row is
        # the same cluster member (r08 duplicate-rows sweep); struct-wrap
        # so a NULL-keyed doc still counts as one value like the oracle's
        # GROUP BY
        .agg(
            F.countDistinct(F.struct("doc_id")).cast("long")
            .alias("n_members")
        )
        .where(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )


_SQL_CLUSTERS = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS tokens FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS s
  FROM toks, LATERAL (SELECT unnest(generate_series(1, GREATEST(len(tokens)-2, 0))) AS i)
), sizes AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b FROM p
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.8
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), nodes AS (SELECT DISTINCT a AS d FROM sym),
reach(src, dst) AS (
  SELECT d, d FROM nodes
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst
), lab AS (SELECT src, MIN(dst) AS cluster_id FROM reach GROUP BY src)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM lab
GROUP BY cluster_id
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# B17c: near-dup, SimHash bands (rows-only: xxhash64 has no DuckDB twin)
# ---------------------------------------------------------------------------

#: corpus-level floor (ppm of the exact jaccard-0.8 pair count) for the
#: simhash recall flag — probed across sf 0.001/0.01/0.1 in
#: scratch/probe3.py before conversion; the pytest twin pins 0.7 at the
#: test SF. Recall is pair-local (a true pair shares bands independently
#: of corpus size), so the floor is SF-stable by construction.
_SIMHASH_RECALL_PPM = 600_000


def _simhash_parts(spark: SparkSession, sf_dir: str, sha: DataFrame | None = None):
    """SimHash(64) fingerprints → 4 bit-bands → candidates → hamming ≤ 12.

    One bigint per doc; a hamming-d near-dup shares ≥1 of 4 exact 16-bit
    bands when d < 4 — with d up to 12 the bands are a recall-y prefilter,
    verified by exact popcount. Returns ``(pairs, caches)``; callers scope
    the persisted fingerprint index to their result (_cache.scoped).
    """
    if sha is None:
        sha = _shingle_array(spark, sf_dir)
    fp = sha.select("doc_id", S.simhash64_np()(F.col("sha")).alias("sim"))
    # persisted: both sides of the self-join read one materialization of
    # the fingerprint kernel (the simhash index), not two corpus scans
    banded = fp.select(
        "doc_id", "sim", F.explode(S.simhash_bands(F.col("sim"), 4)).alias("bk")
    ).persist()
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            S.hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= 12)
        .orderBy("doc_a", "doc_b")
    )
    return pairs, (banded,)


def _simhash_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw simhash near-dup pairs (the 100 TB serving form); recall vs
    the exact n-gram baseline pinned in tests/test_llm.py."""
    df, caches = _simhash_parts(spark, sf_dir)
    return scoped(df, *caches)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CONTRACT audit — ORACLE-CHECKED since r06 via the
    ``distinct_approx`` conversion pattern (engine-local fingerprints never
    reach the output; a DuckDB transliteration of the md5/majority-vote
    kernel would have zero independent check value, the r05 rows-only
    rationale). Each EXACT jaccard-≥-0.8 pair (the ``dedup_near_ngram``
    twin, fully DuckDB-restatable) carries two 0/1 flags the oracle states
    as literal 1:

    - ``ident_found``: a THEOREM, not a calibration — if the pair's
      shingle-hash sets are identical (inter == |A| == |B|), the simhash
      fingerprints are bit-identical (the kernel dedupes shingles), hamming
      is 0, every band matches, so the pair MUST appear in the simhash
      output. Stated per row as ``(not identical) OR found``.
    - ``recall_ok``: corpus-level simhash recall of the exact pair set
      ≥ ``_SIMHASH_RECALL_PPM`` (corpus-level because per-pair recall is
      legitimately 0/1; the window runs over the exact-pair frame, bounded
      by the near-dup count, not the corpus).

    At 100 TB you serve ``_simhash_pairs_df`` and run THIS as the periodic
    audit — the exact shingle-join half is the audit's price, same trade
    as ``distinct_approx``. Kernel twin (expression vs Arrow simhash)
    stays pinned bit-identical in tests/test_similarity_kernels.py.
    """
    from pyspark.sql import Window

    # ONE md5 shingle-kernel pass feeds both halves of the audit (the
    # fingerprint index and the exact shingle join) — measured ~1 s saved
    # at sf0.1 vs letting each half re-run the kernel
    sha = _shingle_array(spark, sf_dir).persist()
    sim_pairs, caches = _simhash_parts(spark, sf_dir, sha=sha)
    exact = _shingle_pairs(spark, sf_dir, sha=sha).where(
        F.col("jaccard") >= _JACCARD_THRESHOLD
    )
    found = sim_pairs.select(
        "doc_a", "doc_b", F.lit(1).cast("long").alias("_found")
    )
    w = Window.partitionBy()
    audited = (
        exact.join(found, ["doc_a", "doc_b"], "left")
        .withColumn("_found", F.coalesce("_found", F.lit(0)))
        .withColumn(
            "ident_found",
            (
                (F.col("inter") < F.col("sza"))
                | (F.col("inter") < F.col("szb"))
                | (F.col("_found") == 1)
            ).cast("long"),
        )
        .withColumn(
            "recall_ok",
            (
                F.sum("_found").over(w) * F.lit(1_000_000)
                >= F.lit(_SIMHASH_RECALL_PPM) * F.count(F.lit(1)).over(w)
            ).cast("long"),
        )
        .select("doc_a", "doc_b", "jaccard", "ident_found", "recall_ok")
        .orderBy("doc_a", "doc_b")
    )
    return scoped(audited, sha, *caches)


_SQL_SIMHASH_AUDIT = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS tokens FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS s
  FROM toks, LATERAL (SELECT unnest(generate_series(1, GREATEST(len(tokens)-2, 0))) AS i)
), sizes AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       inter * 1.0 / (sa.sz + sb.sz - inter) AS jaccard,
       CAST(1 AS BIGINT) AS ident_found,
       CAST(1 AS BIGINT) AS recall_ok
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.8
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# B17d: near-dup on embeddings (cosine threshold, oracle)
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.4
_BLOCK = 512

#: declared audit-slice admission rate (ppm of vectors) for the pairwise
#: cosine audits — the `stratified_sample` discipline: a vector is admitted
#: iff md5('emb:'‖vec_id)'s first 24 bits mod 10⁶ fall under this, so the
#: slice is content-independent, engine-portable (same expression in the
#: DuckDB oracle), and GROWTH-STABLE (a vector's membership never changes
#: as others come and go). At rate p the audit's pair cost is (pN)²/2 —
#: the dial that keeps p·N at a tractable audit size as the corpus grows,
#: where the exact form's N²/2 cannot run. The exact full-corpus form
#: remains as the pytest twin (_dedup_embedding_cosine_exact).
_EMB_SAMPLE_PPM = 250_000


def _emb_sample_admit() -> Column:
    """Growth-stable audit-slice admission predicate over ``vec_id``."""
    coord = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("emb:"), F.col("vec_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    return coord < _EMB_SAMPLE_PPM


#: oracle-side twin of _emb_sample_admit (DuckDB dialect)
SQL_EMB_SAMPLE_ADMIT = (
    "(('0x' || substr(md5('emb:' || CAST(vec_id AS VARCHAR)), 1, 6))::BIGINT"
    f" % 1000000) < {_EMB_SAMPLE_PPM}"
)


def _cosine_pair_tiles(emb: DataFrame) -> DataFrame:
    """Exact cosine-≥-τ pairs over the GIVEN vectors, block-matrix style.

    The pairwise similarity join is a GEMM in disguise: vectors group into
    blocks of 512, block pairs fan out as rows, and each task computes one
    512×512 cosine tile with a single numpy matmul — ~100x less overhead
    than per-pair array folds, and exactly the distributed-GEMM shape this
    uses on a cluster (Arrow ships each tile's two matrices once).

    float64 tile matmul differs from the oracle's sequential fold only in
    summation order (≤ a few ulps over 64 terms); scores round to 6 decimals
    on both sides, so the comparison is stable.
    """
    import numpy as np
    import pandas as pd

    emb = emb.select("vec_id", "embedding")
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") / _BLOCK).cast("int"))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vecs"),
        )
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    tiles = a.join(b, F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.blk").alias("blk_a"),
        F.col("a.ids").alias("ids_a"),
        F.col("a.vecs").alias("vecs_a"),
        F.col("b.blk").alias("blk_b"),
        F.col("b.ids").alias("ids_b"),
        F.col("b.vecs").alias("vecs_b"),
    )

    def _tile(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for r in pdf.itertuples(index=False):
                ids_a = np.asarray(r.ids_a, dtype=np.int64)
                ids_b = np.asarray(r.ids_b, dtype=np.int64)
                A = np.asarray([np.asarray(v, dtype=np.float64) for v in r.vecs_a])
                B = np.asarray([np.asarray(v, dtype=np.float64) for v in r.vecs_b])
                na = np.sqrt((A * A).sum(axis=1))
                nb = np.sqrt((B * B).sum(axis=1))
                cos = np.round((A @ B.T) / np.outer(na, nb), 6)
                ia, ib = np.nonzero(cos >= _COS_THRESHOLD)
                if r.blk_a == r.blk_b:
                    keep = ids_a[ia] < ids_b[ib]
                    ia, ib = ia[keep], ib[keep]
                out_a.extend(ids_a[ia])
                out_b.extend(ids_b[ib])
                out_c.extend(cos[ia, ib])
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cos_sim": out_c})

    return tiles.mapInPandas(_tile, schema="vec_a BIGINT, vec_b BIGINT, cos_sim DOUBLE")


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: EXACT cosine ≥ 0.4 over a declared-ppm
    hash-admitted audit slice of the corpus (``_EMB_SAMPLE_PPM``, see the
    admission contract there). The predicate is the exact reference
    predicate — no approximation inside the slice — but the slice bound
    makes the audit runnable at 100 TB where the full N²/2 pair join
    cannot: admitted vectors are filtered at scan time (a codegen'd
    projection, no UDF), and only (p·N)²/512² tiles fan out.

    The FULL-corpus exact form is ``_dedup_embedding_cosine_exact`` — the
    pytest twin (tests pin that this slice equals the exact output
    restricted to admitted ids at two SFs); the bucketed dedup tiers
    (minhash/simhash/ngram) remain the serving-path producers this
    predicate audits.
    """
    emb = load_vectors(spark, sf_dir, nonzero=True).filter(_emb_sample_admit())
    return _cosine_pair_tiles(emb)


def _dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus exact cosine pairs — O(N²/2): the pytest twin of the
    registered audit slice. Deliberately unregistered: correct and fine at
    test SFs, a scale-killer on a real corpus (r06 verdict)."""
    return _cosine_pair_tiles(load_vectors(spark, sf_dir, nonzero=True))


_SQL_DEDUP_EMB = f"""
WITH {SQL_VALID_EMB},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) AS n2
           FROM embeddings_valid
           WHERE {SQL_NONZERO_EMB} AND {SQL_EMB_SAMPLE_ADMIT})
SELECT vec_a, vec_b, cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(list_dot_product(a.v, b.v) / SQRT(a.n2 * b.n2), 6) AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) t WHERE cos_sim >= 0.4
"""

# ---------------------------------------------------------------------------
# B18: similarity search — brute-force cosine top-k (oracle)
# ---------------------------------------------------------------------------

_TOPK = 5
#: max queries per broadcast chunk row — bounds collect_list row size to
#: _QCHUNK·dim·8 B regardless of how large the query set grows
_QCHUNK = 256


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for every 50th vector, block-GEMM style.

    The query matrix broadcasts in BOUNDED chunks of ``_QCHUNK`` queries
    (not one aggregated row): each chunk row stays ≤ _QCHUNK·dim·8 B
    (~128 KiB at dim 64), so a growing query set widens the broadcast by
    adding rows instead of marching one row toward the 2 GiB row limit.
    Candidate vectors group into 512-row tiles; each task scores a whole
    chunk×512 tile with a single numpy matmul and emits only its per-tile
    top-k per query — the global top-k over q_id then sees |tiles|·k rows
    per query, not |N|. Per-tile top-k under the same (score DESC,
    neighbor_id ASC) comparator is lossless for global top-k. At 100 TB
    swap in similarity_ann_lsh's bucketed candidates; this exact form is
    the recall oracle.
    """
    return _topk_scored(spark, sf_dir, _TOPK)


def _topk_scored(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Shared exact-top-``k`` producer behind ``similarity_topk`` (k=5)
    and the r11-staged ``similarity_mmr`` candidate stage (k=_MMR_C) —
    same tile GEMM, same (score DESC, neighbor_id ASC) comparator."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    emb = load_vectors(spark, sf_dir, nonzero=True).select("vec_id", "embedding")
    qblock = (
        emb.where(F.col("vec_id") % _QUERY_STRIDE == 0)
        .groupBy((F.col("vec_id") / (_QUERY_STRIDE * _QCHUNK)).cast("int").alias("qg"))
        .agg(
            F.collect_list("vec_id").alias("q_ids"),
            F.collect_list("embedding").alias("q_vecs"),
        )
        .drop("qg")
    )
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") / _BLOCK).cast("int"))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vecs"),
        )
    )
    tiles = blocks.crossJoin(F.broadcast(qblock))

    def _topk_tiles(batches):
        for pdf in batches:
            out_q, out_n, out_s = [], [], []
            for r in pdf.itertuples(index=False):
                q_ids = np.asarray(r.q_ids, dtype=np.int64)
                ids = np.asarray(r.ids, dtype=np.int64)
                Q = np.asarray([np.asarray(v, dtype=np.float64) for v in r.q_vecs])
                E = np.asarray([np.asarray(v, dtype=np.float64) for v in r.vecs])
                nq = np.sqrt((Q * Q).sum(axis=1))
                ne = np.sqrt((E * E).sum(axis=1))
                cos = np.round((Q @ E.T) / np.outer(nq, ne), 6)
                cos[q_ids[:, None] == ids[None, :]] = -np.inf  # self-pairs out
                kk = min(k, cos.shape[1])
                for qi in range(len(q_ids)):
                    # comparator = (score DESC, neighbor_id ASC); lexsort's
                    # last key is primary
                    order = np.lexsort((ids, -cos[qi]))[:kk]
                    for j in order:
                        if cos[qi, j] == -np.inf:
                            continue
                        out_q.append(q_ids[qi])
                        out_n.append(ids[j])
                        out_s.append(cos[qi, j])
            yield pd.DataFrame({"q_id": out_q, "neighbor_id": out_n, "score": out_s})

    scored = tiles.mapInPandas(
        _topk_tiles, schema="q_id BIGINT, neighbor_id BIGINT, score DOUBLE"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "score", "rank")
    )


_SQL_SIM_TOPK = f"""
WITH {SQL_VALID_EMB},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) AS n2
           FROM embeddings_valid WHERE {SQL_NONZERO_EMB}),
q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM e WHERE vec_id % {_QUERY_STRIDE} = 0),
scored AS (
  SELECT q_id, e.vec_id AS neighbor_id,
         ROUND(list_dot_product(qv, e.v) / SQRT(qn2 * e.n2), 6) AS score
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
)
SELECT q_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
) t WHERE rank <= {_TOPK}
"""

# ---------------------------------------------------------------------------
# r11-staged: MMR diversity re-ranking (registered after CORRECTNESS_r11)
# ---------------------------------------------------------------------------

_MMR_C = 12  # candidate pool per query (exact top-C feeds the greedy)
_MMR_K = 5   # results selected per query
# MMR balance in integer micro-units: mmr_u = 7·rel_u − 3·max_sim_u
# (λ = 0.7). Both engines compute cosines ROUND(·, 6) → ×1e6 BIGINT, so
# the greedy argmax compares exact integers — no cross-engine FP drift.


def similarity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking of each query's exact top-12
    cosine candidates: greedily select 5, each step maximizing
    ``7·rel_u − 3·max(sim_u to already-selected)`` (integer micro-units,
    ties to the smaller candidate id) — the diversity-aware selection a
    retrieval/training-data pipeline runs after ANN recall, so near-
    duplicate neighbors don't crowd out coverage.

    Plan shape for 100 TB: the candidate stage is the existing bounded
    tile GEMM (``_topk_scored``); candidate vectors re-join by id (narrow
    hash join, ≤_MMR_C rows/query); the greedy runs in a per-query
    ``applyInPandas`` group of ≤_MMR_C rows — a bounded Arrow kernel, the
    same sanctioned tier as the IVF/PQ kernels. No corpus-sized state
    ever reaches the driver.
    """
    import numpy as np
    import pandas as pd

    cands = _topk_scored(spark, sf_dir, _MMR_C)
    emb = load_vectors(spark, sf_dir, nonzero=True).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
    )
    g = cands.join(emb, "neighbor_id").select(
        "q_id", "neighbor_id", "score", "nv"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        # candidate order is irrelevant to the math but sort for
        # reproducible iteration
        o = np.argsort(ids)
        ids = ids[o]
        rel_u = np.floor(
            pdf["score"].to_numpy(dtype=np.float64)[o] * 1e6 + 0.5
        ).astype(np.int64)
        V = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["nv"].to_numpy()[o]]
        )
        n = np.sqrt((V * V).sum(axis=1))
        sim_u = np.floor(
            np.round((V @ V.T) / np.outer(n, n), 6) * 1e6 + 0.5
        ).astype(np.int64)
        picked: list[int] = []
        rows = []
        avail = np.ones(len(ids), dtype=bool)
        for step in range(1, min(_MMR_K, len(ids)) + 1):
            if not avail.any():
                break  # fewer distinct ids than _MMR_K (dup re-ingests)
            if picked:
                max_sim = sim_u[:, picked].max(axis=1)
            else:
                max_sim = np.zeros(len(ids), dtype=np.int64)
            mmr = 7 * rel_u - 3 * max_sim
            mmr_masked = np.where(avail, mmr, np.iinfo(np.int64).min)
            best = mmr_masked.max()
            j = int(np.nonzero((mmr_masked == best))[0][0])  # id-asc ties
            # a pick excludes the candidate ID, not just this row: a
            # re-ingested duplicate (same vec_id twice) must never be
            # selected twice, and every copy's vector joins the picked
            # set so max_sim matches the oracle's MAX over pair rows
            dup = np.nonzero(ids == ids[j])[0]
            picked.extend(int(x) for x in dup)
            avail[dup] = False
            rows.append(
                (int(pdf["q_id"].iloc[0]), step, int(ids[j]), int(mmr[j]))
            )
        return pd.DataFrame(
            rows, columns=["q_id", "mmr_rank", "cand_id", "mmr_score_u"]
        )

    return g.groupBy("q_id").applyInPandas(
        _mmr,
        schema="q_id BIGINT, mmr_rank BIGINT, cand_id BIGINT, "
               "mmr_score_u BIGINT",
    )


def _mmr_oracle_sql() -> str:
    """DuckDB twin of the greedy: k − 1 unrolled selection steps (no
    recursive CTE — portable and plan-stable), each picking the
    integer-argmax of ``7·rel_u − 3·max_sim_u`` over the not-yet-picked
    candidates, ties to the smaller id."""
    base = f"""
WITH {SQL_VALID_EMB},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[])) AS n2
      FROM embeddings_valid WHERE {SQL_NONZERO_EMB}),
q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM e
      WHERE vec_id % {_QUERY_STRIDE} = 0),
scored AS (
  SELECT q_id, e.vec_id AS cid,
         ROUND(list_dot_product(qv, e.v) / SQRT(qn2 * e.n2), 6) AS score
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
),
cands AS (
  SELECT q_id, cid, CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) AS rel_u
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY score DESC, cid ASC) AS rn FROM scored) t
  WHERE rn <= {_MMR_C}
),
pair AS (
  SELECT a.q_id, a.cid AS c1, b.cid AS c2,
         CAST(FLOOR(ROUND(list_dot_product(e1.v, e2.v)
                          / SQRT(e1.n2 * e2.n2), 6) * 1e6 + 0.5) AS BIGINT)
           AS sim_u
  FROM cands a JOIN cands b ON a.q_id = b.q_id AND a.cid <> b.cid
  JOIN e e1 ON e1.vec_id = a.cid
  JOIN e e2 ON e2.vec_id = b.cid
),
s1 AS (
  SELECT q_id, 1 AS step, cid AS pick, 7 * rel_u AS mmr_u FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      ORDER BY rel_u DESC, cid ASC) AS rn FROM cands) t WHERE rn = 1
),
picked1 AS (SELECT q_id, pick FROM s1)"""
    parts = [base]
    for t in range(2, _MMR_K + 1):
        parts.append(f""",
m{t} AS (
  SELECT c.q_id, c.cid,
         7 * c.rel_u - 3 * COALESCE((
           SELECT MAX(p.sim_u) FROM pair p
           WHERE p.q_id = c.q_id AND p.c1 = c.cid
             AND p.c2 IN (SELECT pick FROM picked{t - 1} pk
                          WHERE pk.q_id = c.q_id)
         ), 0) AS mmr_u
  FROM cands c
  WHERE NOT EXISTS (SELECT 1 FROM picked{t - 1} pk
                    WHERE pk.q_id = c.q_id AND pk.pick = c.cid)
),
s{t} AS (
  SELECT q_id, {t} AS step, cid AS pick, mmr_u FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      ORDER BY mmr_u DESC, cid ASC) AS rn FROM m{t}) t WHERE rn = 1
),
picked{t} AS (SELECT q_id, pick FROM picked{t - 1}
              UNION ALL SELECT q_id, pick FROM s{t})""")
    union = "\nUNION ALL\n".join(
        f"SELECT q_id, CAST(step AS BIGINT) AS mmr_rank, pick AS cand_id, "
        f"mmr_u AS mmr_score_u FROM s{t}"
        for t in range(1, _MMR_K + 1)
    )
    parts.append("\n" + union)
    return "".join(parts)


_SQL_SIM_MMR = _mmr_oracle_sql()

# registered r12 (staged r11 per the stage-then-register cadence);
# the QUERIES/ORACLE dicts are defined at the end of this module — the
# registration lines live beside them

# ---------------------------------------------------------------------------
# B18b: ANN via sign-LSH buckets (oracle-checked contract audit since r06)
# ---------------------------------------------------------------------------

#: corpus-level recall@5 floors for the ANN contract flags, in ppm of the
#: exact top-k pair count. Since r07 the producers are N-adaptive —
#: probes scale as ceil(sqrt(K)) (``_ivf_nprobe``) and the PQ exact-refine
#: budget as candidates/``_PQ_REFINE_DIV`` — so recall no longer decays
#: with corpus growth and a CONSTANT floor is sound. Probed at four
#: corpus sizes in tests/test_audit_calibration.py (three synthetic SFs
#: plus a 4× same-distribution corpus): LSH 0.70–0.78 (flat by
#: construction — fixed hyperplanes, buckets fill with N); IVF
#: 0.435–0.54 on the weakly-clustered testdata, 0.98→1.00 at the 4× step
#: on a clustered corpus; IVF-PQ 0.43–0.48 / 0.98→0.93. Floors keep a
#: ≥ 0.13 margin under every observed value.
_LSH_RECALL_PPM = 600_000
_IVF_RECALL_PPM = 300_000
_IVF_PQ_RECALL_PPM = 300_000


def _ann_audit(
    spark: SparkSession, sf_dir: str, ann: DataFrame, recall_ppm: int
) -> DataFrame:
    """Shared ANN contract audit (the ``distinct_approx`` conversion
    pattern): per query, the EXACT top-k stats — count, top-1 neighbor,
    top-1 score, all DuckDB-restatable — plus two 0/1 flags the oracle
    states as literal 1:

    - ``ann_bounded``: every ANN score for the query ≤ the exact top-1
      score. A theorem, not a calibration: each variant's final scores
      are true cosines of a candidate SUBSET (IVF-PQ re-ranks its ADC
      survivors exactly), rounding to 6 dp is monotone, so the subset max
      cannot exceed the global max.
    - ``recall_ok``: corpus-level recall@5 ≥ ``recall_ppm`` (calibrated
      per variant, see the floor constants). Corpus-level because
      per-query recall legitimately hits 0 on weak-similarity corpora.

    The corpus flag is a full-frame window over the per-QUERY audit rows
    (|Q| narrow rows — bounded by the query set, not the corpus), so the
    single-partition exchange it plans is |Q|-sized at any data scale.

    Returns ``(audit_df, exact_cache)``: the exact top-k frame is consumed
    by THREE branches (per-query stats, the recall semi-join's both sides'
    denominator) and is |Q|·k rows — persisting it saves a full exact
    block-GEMM replay (measured 2.81 → 2.47 s at sf0.1); callers scope it.

    The ``ann`` frame is ALSO consumed twice (recall semi-join +
    score-bound max) but is deliberately NOT persisted: a full-query
    cold-process A/B (r13, 2 reps each) showed persisting it REGRESSES
    every caller (similarity_ann_lsh warm 2.52/2.63 → 3.63/2.94 s,
    similarity_ivf 2.67/2.89 → 3.13/3.03 s, ivf_pq a wash) — the two
    replayed candidate/score/refine subtrees above the persisted index
    run CONCURRENTLY inside the one audit job on otherwise-idle cores,
    while a persist serializes branch B behind the cache fill. The
    duplicated work is index-scale, not corpus-scale (the expensive
    index/assignment below it is already persisted per variant), so the
    replay stays affordable at any data scale.
    """
    from pyspark.sql import Window

    exact = similarity_topk(spark, sf_dir).persist()
    per_q = (
        exact.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.max(
                F.when(F.col("rank") == 1, F.struct("neighbor_id", "score"))
            ).alias("_t1"),
        )
        .select(
            "q_id",
            "n_exact",
            F.col("_t1.neighbor_id").alias("top1_id"),
            F.col("_t1.score").alias("top1_score"),
        )
    )
    hits = (
        exact.select("q_id", "neighbor_id")
        .join(ann.select("q_id", "neighbor_id"), ["q_id", "neighbor_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("_hit"))
    )
    amax = ann.groupBy("q_id").agg(F.max("score").alias("_amax"))
    w = Window.partitionBy()
    audit = (
        per_q.join(hits, "q_id", "left")
        .join(amax, "q_id", "left")
        .withColumn("_hit", F.coalesce("_hit", F.lit(0)))
        .withColumn(
            "ann_bounded",
            F.when(F.col("_amax").isNull(), F.lit(1))
            .otherwise(
                (F.col("_amax") <= F.col("top1_score") + F.lit(1e-9)).cast("int")
            )
            .cast("long"),
        )
        .withColumn(
            "recall_ok",
            (
                F.sum("_hit").over(w) * F.lit(1_000_000)
                >= F.lit(recall_ppm) * F.sum("n_exact").over(w)
            ).cast("long"),
        )
        .select(
            "q_id", "n_exact", "top1_id", "top1_score", "ann_bounded", "recall_ok"
        )
        .orderBy("q_id")
    )
    return audit, exact


_SQL_ANN_AUDIT = f"""
WITH {SQL_VALID_EMB},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) AS n2
           FROM embeddings_valid WHERE {SQL_NONZERO_EMB}),
q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM e WHERE vec_id % {_QUERY_STRIDE} = 0),
scored AS (
  SELECT q_id, e.vec_id AS neighbor_id,
         ROUND(list_dot_product(qv, e.v) / SQRT(qn2 * e.n2), 6) AS score
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
),
topk AS (
  SELECT q_id, neighbor_id, score, rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored) t
  WHERE rank <= {_TOPK}
)
SELECT q_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(MIN(CASE WHEN rank = 1 THEN neighbor_id END) AS BIGINT) AS top1_id,
       MIN(CASE WHEN rank = 1 THEN score END) AS top1_score,
       CAST(1 AS BIGINT) AS ann_bounded,
       CAST(1 AS BIGINT) AS recall_ok
FROM topk
GROUP BY q_id
ORDER BY q_id
"""


def _ann_lsh_parts(spark: SparkSession, sf_dir: str):
    """Approximate NN: multi-table sign-LSH (8 tables × 4 bits) → candidate
    union → exact cosine within candidates → top-5 per query.

    Scale: the cross join shrinks from |Q|·|N| to Σ per-bucket products;
    8×4 favors recall on this corpus's weakly-similar vectors (max cos
    ≈ 0.44) — in a near-dup regime invert the dial (more bits, fewer
    tables) for far smaller buckets. Returns ``(topk, caches)``; callers
    scope the persisted bucket index to their result (_cache.scoped).
    """
    from pyspark.sql import Window

    emb = load_vectors(spark, sf_dir, nonzero=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # bucket membership ships (vec_id, table, key) ONLY — 24 bytes/row; the
    # 512-byte vectors are fetched after candidate dedup (candidates ≪
    # |vectors|·tables), the same narrow-shuffle shape as dedup_minhash_lsh
    # persisted: the query filter and the corpus side of the bucket join are
    # both branches of this frame — one LSH-kernel pass, not two (the same
    # materialize-the-index discipline as the dedup family)
    bucketed = emb.select(
        "vec_id",
        F.posexplode(S.sign_lsh_keys_np(64, 8, 4)(F.col("e"))).alias("table", "key"),
    ).select("vec_id", F.struct("table", "key").alias("bucket")).persist()
    q = bucketed.where(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), "bucket"
    )
    pairs = (
        q.join(bucketed, "bucket")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates()
    )
    qe = emb.select(F.col("vec_id").alias("q_id"), F.col("e").alias("qe"))
    ne = emb.select(F.col("vec_id").alias("neighbor_id"), "e")
    cand = pairs.join(F.broadcast(qe.where(F.col("q_id") % _QUERY_STRIDE == 0)), "q_id").join(ne, "neighbor_id")
    scored = cand.select(
        "q_id", "neighbor_id",
        F.round(S.cosine_np()(F.col("qe"), F.col("e")), 6).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    topk = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .orderBy("q_id", "rank")
    )
    return topk, (bucketed,)


def _ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw sign-LSH ANN top-5 (the 100 TB serving form); recall floor
    pinned vs the exact twin in tests/test_llm.py."""
    df, caches = _ann_lsh_parts(spark, sf_dir)
    return scoped(df, *caches)


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN CONTRACT audit — ORACLE-CHECKED since r06 via the
    ``distinct_approx`` conversion pattern: the engine-local ANN rows
    (``_ann_lsh_topk``) never reach the output; instead each query carries
    its exact top-k stats plus the ``ann_bounded`` theorem flag and the
    corpus ``recall_ok`` flag (floor ``_LSH_RECALL_PPM``), all stated by
    the DuckDB oracle as literals — a recall or scoring regression now
    fails the driver's hash compare instead of hiding in a rows-only
    record. At 100 TB you serve ``_ann_lsh_topk`` and run THIS as the
    periodic audit (the exact half is the audit's price, same trade as
    ``distinct_approx``).
    """
    ann, caches = _ann_lsh_parts(spark, sf_dir)
    audit, exact = _ann_audit(spark, sf_dir, ann, _LSH_RECALL_PPM)
    return scoped(audit, exact, *caches)


# ---------------------------------------------------------------------------
# B18c: ANN via IVF (inverted-file) cells — the second scale path
# ---------------------------------------------------------------------------

_IVF_STRIDE = 61   # centroid seeds = vec_id % 61 == 0 → K ≈ N/61 cells
_IVF_PROBES = 3    # MINIMUM cells probed per query (floor of _ivf_nprobe)


def _ivf_nprobe(n_cells: int) -> int:
    """N-adaptive probe count: ceil(sqrt(K)) cells, floored at
    ``_IVF_PROBES``.

    With K ≈ N/``_IVF_STRIDE`` cells, a FIXED probe count covers a
    1/K-shrinking fraction of centroid space, so recall falls as the
    corpus grows — the r06 verdict's calibration hazard (probed recall
    0.54 → 0.265 from sf0.01 to sf0.1 at fixed 3 probes). Probing
    ceil(sqrt(K)) cells keeps per-query candidate work ≈ sqrt(K)·stride
    = O(sqrt(N)) — sublinear, so the audit flag's floor no longer decays
    with corpus growth (re-probed at four corpus sizes in
    tests/test_audit_calibration.py). Computed INSIDE the tile kernels
    from the broadcast centroid count — no driver-side collect.
    """
    import math

    return max(_IVF_PROBES, math.ceil(math.sqrt(max(n_cells, 1))))


def _topk_cols_stable(cos, k):
    """Column indices of the ``k`` largest values per row, ordered
    descending with exact ties breaking to the SMALLER column index —
    bit-identical to ``np.argsort(-cos, axis=1, kind="stable")[:, :k]``
    but O(K + c log c) per row instead of O(K log K) (r10 verdict polish
    item: the tile kernels consume only the top-k/kp probe slice, and the
    full-row stable argsort grows K log K toward the documented K ≤ 2^18
    centroid ceiling).

    ``np.argpartition`` alone cannot be trusted here: with exact cosine
    ties AT the k-th boundary it selects an arbitrary subset of the tied
    columns, breaking the smaller-centroid-id tie-break the r10
    third-reference pin exists to protect. Instead: threshold at the k-th
    largest value (vectorized ``np.partition``), then stable-sort only
    the ≥-threshold candidate slice per row — ``np.nonzero`` yields
    candidates in ascending column order, which the stable sort preserves
    within ties. Rows with NaN cosines (degenerate zero-norm vectors)
    fall back to the full stable argsort, matching it exactly.
    """
    import numpy as np

    n, K = cos.shape
    if k >= K or K <= 64:
        # small grids: one vectorized argsort beats a per-row Python loop
        return np.argsort(-cos, axis=1, kind="stable")[:, :k]
    thresh = np.partition(cos, K - k, axis=1)[:, K - k]
    out = np.empty((n, k), dtype=np.int64)
    for i in range(n):
        cand = np.nonzero(cos[i] >= thresh[i])[0]
        if len(cand) < k:  # NaNs in the row: exact fallback
            out[i] = np.argsort(-cos[i], kind="stable")[:k]
            continue
        out[i] = cand[np.argsort(-cos[i, cand], kind="stable")[:k]]
    return out


def _ivf_parts(spark: SparkSession, sf_dir: str):
    """Approximate NN, IVF-flat: deterministic centroid seeds → ONE
    assignment GEMM per 512-row tile against the broadcast centroid matrix,
    emitting ``_ivf_nprobe(K)`` nearest-cell rows per QUERY vector and the
    single member (rank-0) row per corpus vector as NARROW (vec_id, cell,
    rnk) rows → members = rank-0 rows, query probes = all ranks of every
    50th vector → candidate join on cell id ships ids only → exact cosine
    within probed cells (vectors joined in AFTER candidate dedup,
    broadcast on the small query side) → top-5.

    One corpus-wide GEMM pass total: the member assignment is the first
    column of the probe result, so there is no second scan, and the
    full-corpus probe pass never happens — non-query vectors contribute
    only their rank-0 row to the join. Embeddings NEVER enter the cell
    shuffle (the ann_lsh narrow-shuffle discipline).

    IVF vs sign-LSH (similarity_ann_lsh): LSH is data-independent (fixed
    hyperplanes — zero training, predictable buckets); IVF adapts cells to
    the data distribution, giving better candidate quality on clustered
    corpora at the cost of a centroid pass. At 100 TB the centroid count is
    a capped tunable (K ≤ ~2^18 in practice, K·dim·8 B ≤ 128 MiB broadcast
    — NOT O(N)), assignment is a linear scan (GEMM-bound), and the
    candidate join shuffles on cell id — skewed cells are the risk, so cap
    cell size / split hot cells (the IVF analogue of key salting).

    Returns ``(topk, caches)``; recall vs the exact similarity_topk is
    pinned in tests/test_llm.py (via ``_ivf_topk``).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    emb = load_vectors(spark, sf_dir, nonzero=True).select("vec_id", "embedding")
    cblock = (
        emb.where(F.col("vec_id") % _IVF_STRIDE == 0)
        .groupBy(F.lit(1).alias("g"))
        .agg(
            F.collect_list("vec_id").alias("c_ids"),
            F.collect_list("embedding").alias("c_vecs"),
        )
        .drop("g")
    )
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") / _BLOCK).cast("int"))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vecs"),
        )
    )
    tiles = blocks.crossJoin(F.broadcast(cblock))

    def _assign(batches):
        """Tile kernel: the `_ivf_nprobe(K)` nearest centroid ids per
        QUERY vector (rank 0..P-1 = the probe set) and only the member
        (rank-0) cell for the rest of the corpus. Output is ids-only; the
        vectors stay behind in the scan."""
        for pdf in batches:
            out_v, out_c, out_r = [], [], []
            for r in pdf.itertuples(index=False):
                ids = np.asarray(r.ids, dtype=np.int64)
                c_ids = np.asarray(r.c_ids, dtype=np.int64)
                # id-sorted centroid block + STABLE sort: exactly-tied
                # cosines must break to the SMALLER centroid id, not to
                # collect_list order or quicksort internals (r10
                # third-reference pin caught the default argsort flipping
                # a tied member cell — nondeterministic across numpy
                # versions and collect orders)
                corder = np.argsort(c_ids)
                c_ids = c_ids[corder]
                E = np.asarray([np.asarray(v, dtype=np.float64) for v in r.vecs])
                C = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in r.c_vecs]
                )[corder]
                ne = np.sqrt((E * E).sum(axis=1))
                nc = np.sqrt((C * C).sum(axis=1))
                cos = (E @ C.T) / np.outer(ne, nc)
                k = min(_ivf_nprobe(cos.shape[1]), cos.shape[1])
                near = _topk_cols_stable(cos, k)
                for i in range(len(ids)):
                    # probe ranks matter only for QUERY vectors; the rest
                    # of the corpus contributes just its member (rank-0)
                    # row — the index stays 1 narrow row/vector as probes
                    # scale with sqrt(K) instead of k rows/vector
                    lim = k if ids[i] % _QUERY_STRIDE == 0 else 1
                    for rnk in range(lim):
                        out_v.append(ids[i])
                        out_c.append(c_ids[near[i, rnk]])
                        out_r.append(rnk)
            yield pd.DataFrame({"vec_id": out_v, "cell": out_c, "rnk": out_r})

    # the assignment table IS the IVF index: persist the narrow (id, cell,
    # rnk) rows — ~20 B/vector·probe — so the member and probe branches of
    # the join read ONE materialization of the GEMM instead of re-running
    # the corpus scan per branch (at 100 TB this table is what you'd write
    # to the lake as the index, amortizing it across every query batch)
    assigned = tiles.mapInPandas(
        _assign, schema="vec_id BIGINT, cell BIGINT, rnk INT"
    ).persist()
    members = assigned.where(F.col("rnk") == 0).select("vec_id", "cell")
    probes = assigned.where(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    # no dropDuplicates: a neighbor contributes exactly one rnk-0 member
    # row and a query's probe cells are distinct, so (q_id, neighbor_id)
    # is already unique — the dedup shuffle is pure overhead
    pairs = (
        probes.join(members, "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    e_wide = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    qe = e_wide.where(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    cand = pairs.join(F.broadcast(qe), "q_id").join(
        e_wide.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    scored = cand.select(
        "q_id",
        "neighbor_id",
        F.round(S.cosine_np()(F.col("qe"), F.col("e")), 6).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    topk = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .orderBy("q_id", "rank")
    )
    return topk, (assigned,)


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw IVF-flat ANN top-5 (the 100 TB serving form); recall floor
    pinned vs the exact twin in tests/test_llm.py."""
    df, caches = _ivf_parts(spark, sf_dir)
    return scoped(df, *caches)


def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN CONTRACT audit — ORACLE-CHECKED since r06 (the
    ``distinct_approx`` conversion pattern; see ``_ann_audit``): exact
    per-query top-k stats plus the ``ann_bounded`` theorem flag and the
    corpus ``recall_ok`` flag at ``_IVF_RECALL_PPM``. Since r07 the probe
    count scales as ceil(sqrt(K)) with the cell grid (``_ivf_nprobe``),
    so the flag's floor is stable under corpus growth — the r06 form's
    fixed 3 probes covered a shrinking fraction of cells and recall fell
    with N (0.54 → 0.265 by sf0.1; 0.435 post-fix). Serve ``_ivf_topk``
    at scale; run this as the periodic audit.
    """
    ann, caches = _ivf_parts(spark, sf_dir)
    audit, exact = _ann_audit(spark, sf_dir, ann, _IVF_RECALL_PPM)
    return scoped(audit, exact, *caches)


# ---------------------------------------------------------------------------
# B18d: ANN via IVF-PQ (product quantization) — the memory-scale path
# ---------------------------------------------------------------------------

_PQ_M = 16         # subvectors per embedding (64-dim → 16×4-dim subspaces)
_PQ_K = 16         # codebook entries per subspace (4-bit codes)
_PQ_SAMPLE = 7     # codebook training sample = vec_id % 7 == 0 (~N/7 rows)
_PQ_ITERS = 5      # deterministic k-means refinement iterations
_PQ_REFINE = 40    # MINIMUM ADC survivors re-ranked exactly (8×top-k)
_PQ_REFINE_DIV = 4  # refine budget = max(_PQ_REFINE, n_candidates // 4):
#                     ADC error is scale-free noise, so the count of FALSE
#                     candidates scored above a true top-k one grows with
#                     the candidate pool (≈ sqrt(K)·stride per query under
#                     _ivf_nprobe). A fixed cut therefore loses recall as N
#                     grows (probed 0.81 → 0.45 at 4× N on a clustered
#                     corpus); re-ranking a declared 1/4 of candidates
#                     holds it flat (0.98 → 0.93 at the same 4× step) at a
#                     cost that stays O(sqrt(N)) exact dots per query.


_PQ_CTX_CACHE: dict = {}
_PQ_CTX_CACHE_MAX = 4  # worker processes outlive queries: bound the memo
#                        so cycling corpora/SFs can't grow executor memory
#                        monotonically (FIFO eviction — re-training on a
#                        revisited corpus is the cheap, correct fallback)


def _pq_train_ctx(all_ids, all_vecs):
    """Shared deterministic training context for encode and ADC kernels:
    (centroid ids, centroid matrix, residual codebooks).

    Memoized per PROCESS on an order-invariant fingerprint of the broadcast
    sample — id stats PLUS a digest of the vector bytes in id order:
    every executor worker trains the k-means codebooks ONCE and every
    subsequent block-row / ADC batch is a dict hit — round 3 re-ran the
    full training once per block row inside ``_encode``, multiplying a
    fixed cost by the number of corpus blocks. The vector digest matters
    because Spark reuses Python workers ACROSS queries: two corpora with
    the same id set but different embeddings must not share codebooks
    (id-only stats would collide and silently score against the wrong
    model). The fingerprint is content-derived, so the no-model-shipping
    property is unchanged: identical broadcast sample → identical
    codebooks.

    Codebooks are trained on RESIDUALS (sample − nearest centroid), the
    IVF-PQ formulation: residual magnitudes are a fraction of vector
    magnitudes, so the same M×K code budget spends its precision on the
    part of the vector the coarse cell doesn't already explain. All
    arithmetic is fixed-iteration and order-pinned (rows sorted by id —
    collect_list order is not deterministic, the codebooks must be), so
    every executor that receives the same broadcast sample materializes
    bit-identical codebooks: no driver-side training, no model shipping.
    """
    import hashlib

    import numpy as np

    all_ids = np.asarray(all_ids, dtype=np.int64)
    cmask = all_ids % _IVF_STRIDE == 0
    c_ids = all_ids[cmask]
    corder = np.argsort(c_ids)
    c_ids = c_ids[corder]
    C = np.asarray(
        [np.asarray(v, dtype=np.float64) for v, m in zip(all_vecs, cmask) if m]
    )[corder]
    smask = all_ids % _PQ_SAMPLE == 0
    s_ids = all_ids[smask]
    sorder = np.argsort(s_ids)
    X = np.asarray(
        [np.asarray(v, dtype=np.float64) for v, m in zip(all_vecs, smask) if m]
    )[sorder]
    # the memo key digests EXACTLY the inputs training consumes — the
    # sorted centroid rows and the sorted PQ sample rows (converting only
    # these strided subsets; digesting every broadcast vector measured
    # ~2x the whole query's cost). Two corpora that differ only outside
    # the training subsets legitimately share codebooks; two corpora with
    # the same id set but different training vectors can NOT collide
    # (Spark reuses Python workers across queries)
    key = (
        all_ids.size,
        hashlib.md5(c_ids.tobytes()).hexdigest(),
        hashlib.md5(C.tobytes()).hexdigest(),
        hashlib.md5(X.tobytes()).hexdigest(),
    )
    hit = _PQ_CTX_CACHE.get(key)
    if hit is not None:
        return hit
    # residuals of the training sample w.r.t. each vector's nearest centroid
    d2 = ((X * X).sum(axis=1))[:, None] - 2 * (X @ C.T) + ((C * C).sum(axis=1))[None, :]
    R = X - C[d2.argmin(axis=1)]
    dim = X.shape[1]
    sub = dim // _PQ_M
    books = []
    for m in range(_PQ_M):
        S_ = R[:, m * sub:(m + 1) * sub]
        B = S_[:_PQ_K].copy()  # init = first K sorted sample residuals
        for _ in range(_PQ_ITERS):
            dd = ((S_[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            assign = dd.argmin(axis=1)
            for k in range(_PQ_K):
                mask = assign == k
                if mask.any():
                    B[k] = S_[mask].mean(axis=0)
        books.append(B)
    ctx = (c_ids, C, books)
    while len(_PQ_CTX_CACHE) >= _PQ_CTX_CACHE_MAX:
        _PQ_CTX_CACHE.pop(next(iter(_PQ_CTX_CACHE)))
    _PQ_CTX_CACHE[key] = ctx
    return ctx


def _ivf_pq_parts(spark: SparkSession, sf_dir: str):
    """Approximate NN, IVF-PQ: the IVF cell layout of ``similarity_ivf``
    with product-quantized neighbor vectors — the candidate shuffle ships
    ``_PQ_M`` 4-bit codes (+ one float norm) per vector instead of the
    float array, and scoring is asymmetric-distance (ADC): the query stays
    exact, neighbors are scored against a per-query M×K lookup table.

    Why this is the 100 TB memory path: at dim=64 float32 a vector is
    256 B; the PQ code is M=16 4-bit codes (8 B packed) + 1 float norm
    ≈ 16 B — a ~16× smaller candidate shuffle and index table on the lake. Recall
    degrades gracefully (quantization error only affects ranking inside
    the probed cells) and is pinned vs the exact top-k in tests.

    Plan shape: ONE corpus GEMM pass (coarse assign + PQ encode fused in
    the same mapInPandas kernel, ids+codes out, vectors stay in the scan)
    → narrow candidate join on cell id → ADC scoring with the broadcast
    training sample re-deriving codebooks deterministically per executor
    → top-5 per query. No full-precision neighbor vector is ever
    shuffled or broadcast.

    Returns ``(topk, caches)``; recall vs exact similarity_topk pinned in
    tests/test_llm.py (via ``_ivf_pq_topk``).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    emb = load_vectors(spark, sf_dir, nonzero=True).select("vec_id", "embedding")
    cblock = (
        emb.where(
            (F.col("vec_id") % _IVF_STRIDE == 0)
            | (F.col("vec_id") % _PQ_SAMPLE == 0)
        )
        .groupBy(F.lit(1).alias("g"))
        .agg(
            F.collect_list("vec_id").alias("c_ids"),
            F.collect_list("embedding").alias("c_vecs"),
        )
        .drop("g")
    )
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") / _BLOCK).cast("int"))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vecs"),
        )
    )
    tiles = blocks.crossJoin(F.broadcast(cblock))

    def _encode(batches):
        """Fused kernel: coarse cells (rank 0..P-1) + residual PQ code +
        true norm per vector; emits ids/codes only. The member cell (rank
        0) is the residual base, so decode = centroid[cell] + book[code]."""
        for pdf in batches:
            rows = {"vec_id": [], "cell": [], "rnk": [], "code": [], "nrm": []}
            for r in pdf.itertuples(index=False):
                ids = np.asarray(r.ids, dtype=np.int64)
                c_ids, C, books = _pq_train_ctx(r.c_ids, r.c_vecs)
                E = np.asarray([np.asarray(v, dtype=np.float64) for v in r.vecs])
                ne = np.sqrt((E * E).sum(axis=1))
                nc = np.sqrt((C * C).sum(axis=1))
                cos = (E @ C.T) / np.outer(ne, nc)
                kp = min(_ivf_nprobe(cos.shape[1]), cos.shape[1])
                # STABLE tie-break to the smaller centroid id (C is
                # id-sorted by _pq_train_ctx) — see the IVF-flat kernel
                # note; r10 third-reference pin, r11 top-slice selection
                near = _topk_cols_stable(cos, kp)
                # residual to the MEMBER cell centroid (probe rank 0)
                R = E - C[near[:, 0]]
                sub = E.shape[1] // _PQ_M
                codes = np.empty((len(ids), _PQ_M), dtype=np.int64)
                for m in range(_PQ_M):
                    S_ = R[:, m * sub:(m + 1) * sub]
                    B = books[m]
                    d2 = ((S_[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
                    codes[:, m] = d2.argmin(axis=1)
                for i in range(len(ids)):
                    # probe ranks only for QUERY vectors (same trim as the
                    # IVF-flat kernel): the encoded index stays one
                    # (cell, code, nrm) row per corpus vector
                    lim = kp if ids[i] % _QUERY_STRIDE == 0 else 1
                    for rnk in range(lim):
                        rows["vec_id"].append(ids[i])
                        rows["cell"].append(c_ids[near[i, rnk]])
                        rows["rnk"].append(rnk)
                        rows["code"].append(codes[i].tolist())
                        rows["nrm"].append(float(ne[i]))
            yield pd.DataFrame(rows)

    assigned = tiles.mapInPandas(
        _encode,
        schema="vec_id BIGINT, cell BIGINT, rnk INT, code ARRAY<INT>, nrm DOUBLE",
    ).persist()
    members = assigned.where(F.col("rnk") == 0).select("vec_id", "cell", "code", "nrm")
    probes = assigned.where(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    # candidate shuffle: (q_id, neighbor_id, code[16], nrm) ≈ 90 B/row vs
    # the 512 B float64 vector — codes ride the join, vectors never do
    # no dropDuplicates: a neighbor has exactly ONE member (rnk 0) row, so
    # probes(q, cell) ⋈ members(cell) emits each (q, neighbor) at most once
    # — the dedup shuffle the LSH variant needs is dead weight here
    cand = (
        probes.join(members, "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        # cell rides along: it is the neighbor's member cell = its residual
        # base, which ADC needs to add back dot(q, centroid[cell])
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cell", "code", "nrm")
    )
    qe = emb.where(F.col("vec_id") % _QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    # ONE row per query (qblock pattern): the training block attaches per
    # QUERY, not per candidate — without this grouping the crossJoin
    # replicates the ~centroid+sample arrays onto every candidate row and
    # the Arrow transfer dominates the whole query
    cand_grp = cand.groupBy("q_id").agg(
        F.collect_list(F.struct("neighbor_id", "cell", "code", "nrm")).alias("cands")
    )
    scored_in = cand_grp.join(F.broadcast(qe), "q_id").crossJoin(F.broadcast(cblock))

    def _adc(batches):
        """ADC scoring + local top-R cut: approx cosine = (dot(q,
        centroid[cell]) + Σ_m table[m, code_m]) / (‖q‖·‖c‖) — the centroid
        term is exact, the residual term is the per-(query, subspace)
        dot-product table against the re-derived codebooks, and the
        neighbor norm is the EXACT norm carried from encode. Each input row
        already holds ALL of one query's candidates (the cand_grp qblock),
        so the top-``_PQ_REFINE`` selection happens HERE with one argsort —
        the kernel emits |Q|·R survivor rows, not |candidates| rows, and
        the separate row_number window (a full candidate shuffle + sort in
        round 3) disappears from the plan."""
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame({"q_id": [], "neighbor_id": [], "score": []})
                continue
            c_ids, C, books = _pq_train_ctx(
                pdf["c_ids"].iloc[0], pdf["c_vecs"].iloc[0]
            )
            cpos = {int(c): i for i, c in enumerate(c_ids)}
            out_q, out_n, out_s = [], [], []
            for row in pdf.itertuples(index=False):
                q = np.asarray(row.qe, dtype=np.float64)
                qn = np.sqrt((q * q).sum())
                sub = len(q) // _PQ_M
                # M×K lookup table: dot(q_sub[m], codebook[m][k])
                table = np.stack(
                    [books[m] @ q[m * sub:(m + 1) * sub] for m in range(_PQ_M)]
                )
                qc = C @ q  # exact centroid dots
                nbr = np.asarray([c["neighbor_id"] for c in row.cands], dtype=np.int64)
                cells = np.asarray(
                    [cpos[int(c["cell"])] for c in row.cands], dtype=np.int64
                )
                codes = np.asarray([c["code"] for c in row.cands], dtype=np.int64)
                nrms = np.asarray([c["nrm"] for c in row.cands], dtype=np.float64)
                dots = qc[cells] + table[np.arange(_PQ_M)[None, :], codes].sum(axis=1)
                scores = np.round(dots / (qn * nrms), 6)
                # deterministic top-R: (-score, neighbor_id) lexsort — the
                # same (score DESC, neighbor ASC) contract the old window had
                n_keep = max(_PQ_REFINE, len(nbr) // _PQ_REFINE_DIV)
                keep = np.lexsort((nbr, -scores))[:n_keep]
                out_q.extend([row.q_id] * len(keep))
                out_n.extend(nbr[keep].tolist())
                out_s.extend(scores[keep].tolist())
            yield pd.DataFrame({"q_id": out_q, "neighbor_id": out_n, "score": out_s})

    # refine: exact re-rank of the ADC top-_PQ_REFINE per query (FAISS's
    # IVFPQ+refine). Full-precision vectors are fetched for ONLY these
    # |Q|·R survivor ids — the one place they enter the plan, and a
    # constant-bounded fraction of the corpus at any scale.
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    survivors = scored_in.mapInPandas(
        _adc, schema="q_id BIGINT, neighbor_id BIGINT, score DOUBLE"
    ).select("q_id", "neighbor_id")
    e_wide = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    # survivors are |Q|·R rows — constant-bounded at any corpus scale — so
    # BROADCAST them onto the corpus scan: the exact-vector fetch is a
    # map-side join, never a corpus-wide shuffle
    refined = (
        e_wide.join(
            F.broadcast(survivors.join(F.broadcast(qe), "q_id")), "neighbor_id"
        )
        .select(
            "q_id",
            "neighbor_id",
            F.round(S.cosine_np()(F.col("qe"), F.col("e")), 6).alias("score"),
        )
    )
    topk = (
        refined.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .orderBy("q_id", "rank")
    )
    return topk, (assigned,)


def _ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw IVF-PQ ANN top-5 (the 100 TB memory-scale serving form);
    recall floor pinned vs the IVF ceiling in tests/test_llm.py."""
    df, caches = _ivf_pq_parts(spark, sf_dir)
    return scoped(df, *caches)


def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN CONTRACT audit — ORACLE-CHECKED since r06 (the
    ``distinct_approx`` conversion pattern; see ``_ann_audit``): exact
    per-query top-k stats plus the ``ann_bounded`` flag — a genuine
    theorem even here, because the final PQ scores are exact re-ranked
    cosines of the ADC survivors, not ADC estimates — and the corpus
    ``recall_ok`` flag at ``_IVF_PQ_RECALL_PPM`` (tracks the IVF cell
    ceiling minus quantization loss; probed 0.25–0.48 across SFs). Serve
    ``_ivf_pq_topk`` at scale; run this as the periodic audit.
    """
    ann, caches = _ivf_pq_parts(spark, sf_dir)
    audit, exact = _ann_audit(spark, sf_dir, ann, _IVF_PQ_RECALL_PPM)
    return scoped(audit, exact, *caches)


# ---------------------------------------------------------------------------
# B19: text analysis (oracle)
# ---------------------------------------------------------------------------

def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source): docs, token counts, char/token
    ratio, stopword ratio, n_chars integrity check."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        "lang",
        "source",
        X.token_count("text").alias("n_tok"),
        F.length("text").cast("long").alias("n_len"),
        X.stopword_hits("text", "en").alias("sw"),
        # when/otherwise, not a bool cast: NULL==NULL is unknown, which
        # counts 0 (not confirmed consistent) like the oracle's CASE —
        # a bool-cast NULL would empty the all-NULL group's sum
        F.when(F.col("n_chars") == F.length("text"), 1)
        .otherwise(0)
        .cast("long")
        .alias("chars_ok"),
    )
    return (
        stats.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            # nullif: an all-empty-doc stratum has sum(n_tok)=0 — ANSI
            # would throw where the oracle's /0 yields NULL
            (F.sum("n_len") / F.nullif(F.sum("n_tok"), F.lit(0))).alias(
                "chars_per_token"
            ),
            (F.sum("sw") / F.nullif(F.sum("n_tok"), F.lit(0))).alias(
                "stopword_ratio"
            ),
            F.sum("chars_ok").alias("n_chars_consistent"),
        )
        .orderBy("lang", "source")
    )


_SQL_TEXT_ANALYSIS = r"""
WITH t AS (
  SELECT lang, source,
         len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS n_tok,
         LENGTH(text) AS n_len,
         len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
             x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS sw,
         CASE WHEN n_chars = LENGTH(text) THEN 1 ELSE 0 END AS chars_ok
  FROM documents
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       SUM(n_len) * 1.0 / SUM(n_tok) AS chars_per_token,
       SUM(sw) * 1.0 / SUM(n_tok) AS stopword_ratio,
       CAST(SUM(chars_ok) AS BIGINT) AS n_chars_consistent
FROM t
GROUP BY lang, source
ORDER BY lang, source
"""

# ---------------------------------------------------------------------------
# B19a2: token-count statistics — whitespace vs BPE-ish subword (oracle)
# ---------------------------------------------------------------------------

def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting: whitespace tokens vs the BPE-ish
    subword estimate (functions/text.py) — the pair every training-data
    budget planner needs (docs → est. model tokens). Pure JVM expressions;
    one hash aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        X.token_count("text").alias("ws"),
        X.bpe_ish_token_count("text").alias("bpe"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            # nullif: an all-empty-doc source has sum(ws)=0 — ANSI would
            # throw where the oracle's /0 yields NULL
            F.round(
                F.sum("bpe") / F.nullif(F.sum("ws"), F.lit(0)), 6
            ).alias("bpe_per_word"),
        )
        .orderBy("source")
    )


_SQL_TOKEN_STATS = rf"""
WITH t AS (
  SELECT source,
         len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS ws,
         {X.SQL_BPE_COUNT.format(col='text')} AS bpe
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       ROUND(SUM(bpe) * 1.0 / SUM(ws), 6) AS bpe_per_word
FROM t
GROUP BY source
ORDER BY source
"""

# ---------------------------------------------------------------------------
# B19b: language-ID heuristic (oracle)
# ---------------------------------------------------------------------------

def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of the stopword-ratio language-ID vs the labeled
    ``lang`` column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("predicted", X.lang_id("text"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


def _sql_hits(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in X.STOPWORDS[lang])
    return (
        r"len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),"
        f" x -> x IN ({words})))"
    )


_SQL_LANG_ID = f"""
WITH t AS (
  SELECT lang,
         len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS n,
         {_sql_hits('en')} AS he, {_sql_hits('es')} AS hs, {_sql_hits('de')} AS hd
  FROM documents
), e AS (
  SELECT lang,
         CASE WHEN he > 0 AND he >= 0.05 * n THEN he ELSE 0 END AS ee,
         CASE WHEN hs > 0 AND hs >= 0.05 * n THEN hs ELSE 0 END AS se,
         CASE WHEN hd > 0 AND hd >= 0.05 * n THEN hd ELSE 0 END AS de
  FROM t
)
SELECT lang,
       CASE WHEN ee = 0 AND se = 0 AND de = 0 THEN 'und'
            WHEN ee >= se AND ee >= de THEN 'en'
            WHEN se >= de THEN 'es'
            ELSE 'de' END AS predicted,
       COUNT(*) AS n
FROM e
GROUP BY lang, predicted
ORDER BY lang, predicted
"""

# ---------------------------------------------------------------------------
# B19c: content fingerprints (oracle)
# ---------------------------------------------------------------------------

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc md5 content fingerprint + token count + quality score."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.fingerprint("text").alias("fp"),
        X.token_count("text").alias("n_tokens"),
        X.quality_score("text").alias("quality"),
    )


_SQL_FINGERPRINT = r"""
WITH t AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp,
         len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS n_tok,
         LENGTH(text) AS n_len,
         len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
             x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS sw
  FROM documents
)
SELECT doc_id, fp,
       CAST(n_tok AS BIGINT) AS n_tokens,
       (CAST(n_len >= 100 AND n_len <= 20000 AS INT)
        + CAST((CASE WHEN n_tok > 0 THEN n_len * 1.0 / n_tok ELSE 0.0 END) >= 3.0
               AND (CASE WHEN n_tok > 0 THEN n_len * 1.0 / n_tok ELSE 0.0 END) <= 12.0 AS INT)
        + CAST((CASE WHEN n_tok > 0 THEN sw * 1.0 / n_tok ELSE 0.0 END) >= 0.05 AS INT)
       ) / 3.0 AS quality
FROM t
"""

# ---------------------------------------------------------------------------
# B19c2: top-k n-grams by document frequency per language
# ---------------------------------------------------------------------------

def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five most document-frequent trigrams per language (ties broken
    lexicographically) — the corpus-inspection query behind boilerplate
    detection (n-grams appearing in many documents flag templates).

    Scale: explode → (lang, shingle) count is the classic word-count
    shape — map-side partial aggregation shrinks the shuffle to distinct
    (lang, shingle) pairs; the top-k window then only sees aggregated
    counts. Shingles stay STRINGS here (they're the output), unlike the
    dedup path which ships hashes.

    df counts DISTINCT doc_ids, not rows: document frequency is a
    per-document stat, so a byte-identical re-ingested duplicate row
    must not double a gram's df (r08 duplicate-rows sweep find — the
    oracle's DISTINCT (doc_id, s) always had this semantic).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", F.explode(X.shingles("text", _SHINGLE_N)).alias("s")
    )
    # struct-wrap: count(DISTINCT doc_id) SKIPS the NULL-keyed ghost row
    # where the oracle's DISTINCT treats NULL as one value — struct(NULL)
    # is itself non-NULL, so the wrapped count sees it (NULL-key sweep
    # contract)
    counts = sh.groupBy("lang", "s").agg(
        F.countDistinct(F.struct("doc_id")).alias("df")
    )
    w = Window.partitionBy("lang").orderBy(F.col("df").desc(), F.col("s").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("lang", "s", "df", "rank")
    )


_SQL_NGRAM_TOPK = """
WITH toks AS (
  SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS tokens FROM documents
), sh AS (
  SELECT DISTINCT doc_id, lang,
         tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS s
  FROM toks, LATERAL (SELECT unnest(generate_series(1, GREATEST(len(tokens)-2, 0))) AS i)
), counts AS (
  SELECT lang, s, COUNT(*) AS df FROM sh GROUP BY lang, s
)
SELECT lang, s, df, rank FROM (
  SELECT lang, s, df,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY df DESC, s ASC) AS BIGINT) AS rank
  FROM counts
) t WHERE rank <= 5
"""

def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification: pairs whose Levenshtein
    distance is ≤ 20% of the longer text — the character-level verify
    stage that catches what token-set methods miss (small in-place edits)
    and vice versa. The synthetic corpus has no true edit-near-dups
    (closest natural pair ratio ≈ 0.59), so 30 deterministic twins are
    planted (first 10 chars dropped), mirrored verbatim in the oracle —
    the pii_scrub pattern: predictable work, provable answer.

    Scale shape: candidates are LENGTH-BANDED before any distance call
    (lev(a,b) ≥ |len(a)−len(b)|, so |Δlen| ≤ 0.2·max is a free exact
    prefilter), and the threshold compare is integer (5·lev ≤ max_len) —
    no float ratio. At 100 TB the candidate source is the MinHash-LSH
    bucket join (dedup_minhash_lsh); the quadratic-within-band form here
    doubles as its recall oracle, same division of labor as
    dedup_near_ngram.
    """
    docs = load_table(spark, sf_dir, "documents")
    # dropDuplicates: a byte-identical re-ingested row is the same
    # document — without the collapse each duplicated pair multiplied
    # 2x2 in the candidate join and again 2x2 in the text attach (16x
    # rows; r08 duplicate-rows sweep). The frame is the <100-id slice —
    # tiny
    base = docs.where(F.col("doc_id") < 100).select(
        "doc_id", "lang", F.lower("text").alias("t")
    ).dropDuplicates()
    twins = base.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "lang",
        # 2-arg substr: unbounded tail, exactly the oracle's substr(t, 11)
        # (a length cap would truncate docs past it and diverge the twins)
        F.expr("substr(t, 11)").alias("t"),
    )
    d = base.unionByName(twins).withColumn("len", F.length("t"))
    # Stage 1 — candidate generation on NARROW rows (id, lang, len only):
    # the length band is a free exact prefilter (lev(a,b) >= |len_a-len_b|).
    ids = d.select("doc_id", "lang", "len")
    a, b = ids.alias("a"), ids.alias("b")
    mx = F.greatest(F.col("a.len"), F.col("b.len"))
    cand = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.len") - F.col("b.len")) * 5 <= mx),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        mx.alias("mx"),
    )
    # Stage 2 — spread the candidate ids, THEN attach texts via broadcast
    # and verify. Each surviving pair costs O(len_a*len_b) in the
    # Levenshtein DP, so the verify must run on the repartitioned frame: a
    # naive pairs.repartition().where(lev...) is defeated by Catalyst,
    # which pushes the deterministic lev predicate down into the candidate
    # join condition — serializing the quadratic work onto the join's few
    # map tasks. Referencing columns that only exist AFTER the broadcast
    # text-attach keeps the verify above the round-robin exchange, i.e.
    # parallel. (Same shape at 100 TB: LSH emits id pairs, a narrow
    # shuffle spreads them, texts join in for the verify.)
    shuffle_n = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    texts = d.select("doc_id", "t")
    lev = F.levenshtein(F.col("ta.t"), F.col("tb.t"))
    return (
        cand.repartition(shuffle_n)
        .join(F.broadcast(texts.alias("ta")), F.col("id_a") == F.col("ta.doc_id"))
        .join(F.broadcast(texts.alias("tb")), F.col("id_b") == F.col("tb.doc_id"))
        .withColumn("lev", lev)
        .where(F.col("lev") * 5 <= F.col("mx"))
        .select("id_a", "id_b", F.col("lev").cast("long").alias("lev"))
        .orderBy("id_a", "id_b")
    )


_SQL_EDIT_DIST = """
WITH base AS (
  -- DISTINCT: byte-identical re-ingested rows are one document (the
  -- engine's dropDuplicates twin)
  SELECT DISTINCT doc_id, lang, lower(text) AS t FROM documents WHERE doc_id < 100
), twins AS (
  SELECT doc_id + 100000 AS doc_id, lang, substr(t, 11) AS t
  FROM base WHERE doc_id < 30
), d AS (
  SELECT doc_id, lang, t, length(t) AS len FROM (
    SELECT * FROM base UNION ALL SELECT * FROM twins
  )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev
FROM d a JOIN d b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.len - b.len) * 5 <= greatest(a.len, b.len)
WHERE levenshtein(a.t, b.t) * 5 <= greatest(a.len, b.len)
ORDER BY id_a, id_b
"""


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 corpus tokens via Misra–Gries candidate pruning
    (functions/sketches.py), as one plan that runs in the JVM: the
    ``freqItems`` aggregate sketches each token partition and merges the
    summaries on one task into a candidate superset of every term with
    count > N/s; the candidates broadcast into a left-semi join on the
    token scan, and only candidate rows enter the word-count shuffle —
    |candidates| keys instead of the full distinct-term universe.
    Building the frame runs no Spark job.

    Why not plain groupBy+top-k (ngram_topk's shape)? At 100 TB the
    distinct n-gram universe is billions of keys and the count shuffle
    dominates; MG caps the shuffle at s keys while keeping the RESULT
    exact whenever f_k > N/s (true by construction here: s=64 exceeds
    the corpus vocabulary) — and certified-exact-counts-subset otherwise.
    The oracle computes the same top-10 with a full GROUP BY, so the
    green row proves the pruned plan loses nothing.
    """
    from pyspark.sql import Window

    from ..functions.sketches import misra_gries_candidates

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens("text")).alias("term"))
    cands = misra_gries_candidates(toks, "term", s=64)
    counts = (
        toks.join(F.broadcast(cands), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 10)
        .select("rnk", "term", "n")
        .orderBy("rnk")
    )


_SQL_HEAVY = r"""
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS term
  FROM documents
), c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1)
SELECT rnk, term, n FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS rnk
  FROM c
) t WHERE rnk <= 10 ORDER BY rnk
"""


def keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style keyword extraction: top-3 terms per document by a
    rarity-normalized term weight, with the per-term document frequency
    reported alongside.

    The weight is ``tf·10⁶ div df`` — integer division of exact counts —
    rather than ``tf·ln(N/df)``: same ordering intent (frequent-in-doc,
    rare-in-corpus wins), but bit-identical across engines, so the oracle
    comparison never rides on libm's last ulp (the repo's integer-exact
    parity discipline).

    Scale: explode → (doc, term) count is word-count (map-side partial
    agg); the document-frequency table is VOCABULARY-sized, so it joins
    back as a broadcast — no shuffle of the tf table; the final top-k
    window partitions by doc_id over tf-table-sized rows. At 100 TB: tf
    shuffles (doc_id, term_hash)-narrow rows; df fits in one executor's
    broadcast budget for any natural-language vocabulary.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tab = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_tab), "term").withColumn(
        "score_ppm", F.expr("tf * 1000000L div df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tf", "df", "score_ppm")
        .orderBy("doc_id", "rnk")
    )


_SQL_KEYWORDS = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, tf.tf * 1000000 // df.df AS score_ppm
  FROM tf JOIN df USING (term)
)
SELECT doc_id, rnk, term, tf, df, score_ppm FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score_ppm DESC, term ASC) AS BIGINT) AS rnk
  FROM scored
) t WHERE rnk <= 3 ORDER BY doc_id, rnk
"""

# ---------------------------------------------------------------------------
# B19f: search-index components — inverted index + BM25 ranking
# ---------------------------------------------------------------------------

_POSTINGS_CAP = 10  # postings materialized per term (head of the full list)


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the term→postings inverted index over the corpus: per term its
    document frequency, total term frequency, and the first
    ``_POSTINGS_CAP`` posting doc_ids (sorted, comma-joined into one
    deterministic string column) — the index table a distributed
    keyword-search layer materializes to the lake. The postings head is
    a STRING, not an array: the differential gate hashes cell values
    through pandas, and array cells are unhashable there
    (CORRECTNESS_r03's driver crash) — a flat string is also what a
    lake-manifest row would store.

    Scale: explode → (doc_id, term) tf is word-count shape (map-side
    partial agg); the term-level rollup shuffles one narrow row per
    DISTINCT (doc, term) — never raw text; posting arrays are explicitly
    capped so no single hot term ("the") materializes an O(corpus) row
    (the full list stays in the exploded table; the cap is the
    documented head-sample). Restricting to df ≥ 2 keeps hapax noise out
    of the result without changing the plan shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, _POSTINGS_CAP)
                .cast("array<string>"),
            ).alias("postings_head"),
        )
        .where(F.col("df") >= 2)
        .orderBy("term")
    )


_SQL_INVERTED_INDEX = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       array_to_string((list(doc_id ORDER BY doc_id))[1:{_POSTINGS_CAP}], ',')
         AS postings_head
FROM tf GROUP BY term HAVING COUNT(*) >= 2 ORDER BY term
"""


_BM25_TERMS = ("join", "vector", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: rank the corpus for a fixed 3-term query with
    the classic Robertson idf and length-normalized tf saturation —
    top-10 documents by summed term score.

    Scale: the (doc, term) tf table is filtered to the QUERY's terms
    before any join (predicate pushes through the explode→agg), so the
    scored frame is |terms|·|matching docs|, not the corpus; doc-length
    and corpus stats ride in via one broadcast each. The score is pure
    JVM arithmetic (ln/divisions in codegen), no UDF.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # DISTINCT rows + per-doc_id aggregation: a byte-identical re-ingested
    # row must not double a document's dl/tf or the corpus n_docs (r08
    # duplicate-rows sweep — the engine counted base ROWS where the
    # oracle's GROUP BY doc_id counted documents, and both sides doubled
    # tf). One narrow normalize shuffle; dl then sums token counts per
    # doc_id exactly like the oracle's dl CTE.
    rows = docs.select("doc_id", "text").dropDuplicates()
    # dl > 0: corpus stats (n_docs, avgdl) are defined over documents that
    # HAVE tokens — the oracle's dl CTE is built from unnest, which emits
    # nothing for empty/whitespace-only docs, so both engines must agree
    # on that doc set. No persist: base is a narrow 2-col projection read
    # twice; caching it leaked a pinned frame into later queries' memory.
    base = (
        rows.select("doc_id", X.token_count("text").alias("dl_row"))
        .groupBy("doc_id")
        .agg(F.sum("dl_row").cast("long").alias("dl"))
        .where(F.col("dl") > 0)
    )
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        rows.select("doc_id", F.explode(X.tokens("text")).alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tab = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_tab), "term")
        .join(F.broadcast(base), "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
            * (F.col("tf") * (_BM25_K1 + 1))
            / (
                F.col("tf")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("s"), 6).alias("score"),
            F.count("*").cast("long").alias("n_terms_hit"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .orderBy("rank")
    )


#: shared BM25 CTE chain (tok→dl→stats→tf→dfq→bscored) — consumed by
#: BOTH _SQL_BM25 and _SQL_HYBRID so the term list / k1 / b / dl>0 rules
#: can never drift between the standalone ranking and the fusion oracle.
_SQL_BM25_CORE = r"""tok AS (
  -- DISTINCT rows: byte-identical re-ingested rows are one document (the
  -- engine's dropDuplicates twin); dl/tf then aggregate per doc_id
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS term
  FROM (SELECT DISTINCT doc_id, text FROM documents)
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ('join', 'vector', 'scan') GROUP BY 1, 2
), dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), bscored AS (
  SELECT tf.doc_id,
         ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         * (tf.tf * (1.2 + 1))
         / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
)"""

_SQL_BM25 = f"""
WITH {_SQL_BM25_CORE}
SELECT doc_id, score, n_terms_hit, rank FROM (
  SELECT doc_id,
         ROUND(SUM(s), 6) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
         CAST(ROW_NUMBER() OVER (
             ORDER BY ROUND(SUM(s), 6) DESC, doc_id ASC) AS BIGINT) AS rank
  FROM bscored GROUP BY doc_id
) t WHERE rank <= 10 ORDER BY rank
"""


# ---------------------------------------------------------------------------
# hybrid_rank — reciprocal-rank fusion of BM25 and dense retrieval (RAG)
# ---------------------------------------------------------------------------

_RRF_K = 60        # the standard RRF damping constant (Cormack et al.)
_HYBRID_TOPK = 10


def hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 keyword arm
    (``bm25_rank`` — fixed 3-term query) and a dense cosine arm (query =
    the embedding of vec_id 0 against the rest of the corpus, top-10) —
    the standard RAG retrieval shape. RRF contributions are exact
    integers (``1000000 div (k + rank)`` micro-units, k = 60), so the
    fusion is engine-neutral integer arithmetic over two already-proven
    rank lists; a document missing from one arm contributes 0 from it.

    Scale: both arms are the existing index shapes — the BM25 arm's tf
    table is query-term-filtered before any join and the dense arm
    broadcasts ONE query vector across the embedding scan (scores in
    codegen via the sequential-fold dot; no UDF) — and the fusion itself
    is a full-outer join of two ≤ top-k lists: driver-trivial at any
    corpus size.
    """
    from pyspark.sql import Window

    sparse = bm25_rank(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("sparse_rank")
    )
    emb = load_vectors(spark, sf_dir, nonzero=True).select("vec_id", "embedding")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    v = F.col("embedding").cast("array<double>")
    wd = Window.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    dense = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                S.dot(v, F.col("qv"))
                / F.sqrt(S.dot(v, v) * S.dot(F.col("qv"), F.col("qv"))),
                6,
            ).alias("cos"),
        )
        .withColumn("dense_rank", F.row_number().over(wd).cast("long"))
        .where(F.col("dense_rank") <= _HYBRID_TOPK)
        .select("doc_id", "dense_rank")
    )
    fused = sparse.join(dense, "doc_id", "full_outer").withColumn(
        "rrf_micro",
        F.expr(
            f"coalesce(1000000 div ({_RRF_K} + sparse_rank), 0)"
            f" + coalesce(1000000 div ({_RRF_K} + dense_rank), 0)"
        ).cast("long"),
    )
    wf = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .where(F.col("fused_rank") <= _HYBRID_TOPK)
        .select("doc_id", "sparse_rank", "dense_rank", "rrf_micro", "fused_rank")
        .orderBy("fused_rank")
    )


_SQL_HYBRID = rf"""
WITH {_SQL_BM25_CORE}, sparse AS (
  SELECT doc_id, rank AS sparse_rank FROM (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY ROUND(SUM(s), 6) DESC, doc_id ASC) AS BIGINT) AS rank
    FROM bscored GROUP BY doc_id
  ) t WHERE rank <= 10
), {SQL_VALID_EMB}, e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings_valid WHERE {SQL_NONZERO_EMB}
), q AS (SELECT v AS qv, n2 AS qn2 FROM e WHERE vec_id = 0),
dense AS (
  SELECT doc_id, dense_rank FROM (
    SELECT e.vec_id AS doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY ROUND(list_dot_product(qv, e.v)
                              / SQRT(qn2 * e.n2), 6) DESC,
                        e.vec_id ASC) AS BIGINT) AS dense_rank
    FROM e CROSS JOIN q WHERE e.vec_id <> 0
  ) t WHERE dense_rank <= {_HYBRID_TOPK}
), fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         s.sparse_rank, d.dense_rank,
         COALESCE(1000000 // ({_RRF_K} + s.sparse_rank), 0)
           + COALESCE(1000000 // ({_RRF_K} + d.dense_rank), 0) AS rrf_micro
  FROM sparse s FULL JOIN dense d ON s.doc_id = d.doc_id
)
SELECT doc_id, sparse_rank, dense_rank,
       CAST(rrf_micro AS BIGINT) AS rrf_micro, fused_rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS fused_rank
  FROM fused
) t WHERE fused_rank <= {_HYBRID_TOPK}
ORDER BY fused_rank
"""


# ---------------------------------------------------------------------------
# B19d: corpus curation — quality filter + deterministic stratified sample
# ---------------------------------------------------------------------------

def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality gate: drop documents scoring < 2/3 on the
    composite heuristic; report survival per (lang, source).

    The filter is a pure codegen'd projection — at 100 TB this runs at
    scan speed and is the cheapest 30-50% volume reduction in the whole
    pipeline, which is why it goes FIRST (before any dedup shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", "source", X.quality_score("text").alias("q")
    )
    return (
        scored.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            # when/otherwise, not a bool cast: a NULL score (NULL text)
            # must count 0 like the oracle's CASE ELSE arm — an all-NULL
            # group otherwise sums to NULL (r07 all-NULL sweep find)
            F.sum(
                F.when(F.col("q") >= 2 / 3, 1).otherwise(0)
            ).alias("n_kept"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
        .orderBy("lang", "source")
    )


_SQL_QUALITY = r"""
WITH t AS (
  SELECT lang, source,
         len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS n_tok,
         LENGTH(text) AS n_len,
         len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
             x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS sw
  FROM documents
), q AS (
  SELECT lang, source,
         (CAST(n_len >= 100 AND n_len <= 20000 AS INT)
          + CAST((CASE WHEN n_tok > 0 THEN n_len * 1.0 / n_tok ELSE 0.0 END) >= 3.0
                 AND (CASE WHEN n_tok > 0 THEN n_len * 1.0 / n_tok ELSE 0.0 END) <= 12.0 AS INT)
          + CAST((CASE WHEN n_tok > 0 THEN sw * 1.0 / n_tok ELSE 0.0 END) >= 0.05 AS INT)
         ) / 3.0 AS q
  FROM t
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN q >= 2.0/3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(AVG(q), 6) AS avg_quality
FROM q
GROUP BY lang, source
ORDER BY lang, source
"""


_SAMPLE_CAP = 30


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling: keep ≤30 docs per (lang,
    source), chosen by md5-hash order of doc_id — a hash-ordered
    reservoir that is reproducible across runs, engines, partitionings
    and scale (rand()-based sampling is none of those under task retry).

    Scale: one window per stratum key; the hash ordering makes the kept
    set independent of physical row order, so incremental re-runs over a
    grown corpus keep a stable prefix (caps the churn in downstream
    training sets)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    kept = (
        docs.withColumn("pick", F.row_number().over(w))
        .where(F.col("pick") <= _SAMPLE_CAP)
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


_SQL_SAMPLE = f"""
WITH ranked AS (
  SELECT lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_sampled,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM ranked
WHERE pick <= {_SAMPLE_CAP}
GROUP BY lang
ORDER BY lang
"""

# ---------------------------------------------------------------------------
# B20: multimodal columns
# ---------------------------------------------------------------------------

def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling: payload bytes + typed metadata per source.

    The engine convention for images/audio/video: a ``binary`` column plus
    typed metadata columns; here text bytes stand in for media payloads
    (container has no codec libs — see functions/multimodal.py stubs).
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.withColumn("payload", F.col("text").cast("binary"))
    return (
        b.groupBy("source")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum(F.length("payload")).cast("long").alias("total_bytes"),
            F.countDistinct(F.md5("payload")).alias("n_distinct_payloads"),
        )
        .orderBy("source")
    )


_SQL_MM_BINARY = """
SELECT source,
       COUNT(*) AS n_assets,
       CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT md5(text)) AS n_distinct_payloads
FROM documents
GROUP BY source
ORDER BY source
"""


def multimodal_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native nested types — the deliberate upgrade over the reference's
    JSON-string demotion (operators.py:197-199): per-dimension statistics
    over the embedding array, no flattening to strings anywhere."""
    emb = load_vectors(spark, sf_dir)
    exploded = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    return (
        exploded.where(F.col("pos") < 8)
        .groupBy((F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            # float → double FIRST: Spark's direct float→decimal cast goes
            # through Float.toString (7-9 sig digits) and loses precision
            # vs DuckDB's exact float→decimal conversion
            F.sum(F.col("val").cast("double").cast("decimal(28,12)")).cast("double").alias("dim_sum"),
            F.max(F.col("val").cast("double")).alias("dim_max"),
            F.min(F.col("val").cast("double")).alias("dim_min"),
        )
        .orderBy("dim")
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode stage over binary payloads (mapInPandas
    plumbing; deterministic fake decoder — see functions/multimodal.py).

    Oracle-checked (r05, the multimodal_video recipe): the stub decoder's
    outputs are pure functions of the payload bytes — channels from the
    sha256 digest's third byte, byte_len from the length, identity from
    the digest — all of which DuckDB restates from ``sha256(text)`` /
    ``octet_length(encode(text))`` (DuckDB's sha256 hashes the VARCHAR's
    UTF-8 bytes, exactly the payload Spark hands the kernel). So the
    decode PLUMBING — batch iteration, NULL→empty normalization, schema —
    is differentially verified, not just row-counted.
    """
    from ..functions.multimodal import decode_image_meta

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    # force_stub: these queries are ORACLE-checked against the stub
    # math; a codec library appearing in the environment must not
    # silently flip them onto the real-decoder branch and go red
    meta = decode_image_meta(docs, "payload", "doc_id", force_stub=True)
    return (
        meta.groupBy("channels")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.sum("byte_len").cast("long").alias("total_bytes"),
            F.countDistinct("sha256").cast("long").alias("n_distinct"),
        )
        .orderBy("channels")
    )


# hex-nibble value: DuckDB has no hex→int cast, so the oracle decodes a
# hex character through a strpos lookup (1-indexed → −1)
def _hv(expr: str) -> str:
    return f"(strpos('0123456789abcdef', {expr}) - 1)"


def _hexbyte(hexcol: str, i: str) -> str:
    """Integer value of byte ``i`` (1-based) of a lowercase hex string."""
    return (
        f"(16 * {_hv(f'substr({hexcol}, 2*({i})-1, 1)')}"
        f" + {_hv(f'substr({hexcol}, 2*({i}), 1)')})"
    )


_SQL_MM_DECODE = f"""
WITH meta AS (
  SELECT sha256(COALESCE(text, '')) AS h,
         octet_length(encode(COALESCE(text, ''))) AS len
  FROM documents
), chan AS (
  SELECT h, len,
         CASE ({_hexbyte('h', '3')} % 3)
           WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS channels
  FROM meta
)
SELECT CAST(channels AS BIGINT) AS channels,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(len) AS BIGINT) AS total_bytes,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct
FROM chan
GROUP BY channels
ORDER BY channels
"""


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio arm of the modality convention: opaque binary payloads →
    Arrow-batched audio decode (sample count / rate / duration /
    integer-milli loudness; deterministic stub decoder, see
    functions/multimodal.py) → per-sample-rate loudness accounting, the
    loudness-gate shape an audio curation pipeline runs before training.

    Oracle-checked (r05): the stub's loudness math is IEEE-deterministic
    by construction (exact integer Σb² → one division + sqrt + floor, see
    decode_audio_meta), so DuckDB restates every output from the
    payload's hex bytes — the decode plumbing, the int8 sign handling,
    the empty-payload edge, and the integer-milli discipline are all
    differentially verified."""
    from ..functions.multimodal import decode_audio_meta

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    # force_stub: oracle restates the stub math (see multimodal_decode)
    meta = decode_audio_meta(docs, "payload", "doc_id", force_stub=True)
    return (
        meta.groupBy("sample_rate")
        .agg(
            F.count("*").cast("long").alias("n_clips"),
            F.sum("duration_ms").cast("long").alias("total_ms"),
            F.expr("sum(rms_milli) div count(*)").alias("avg_rms_milli"),
            F.max("peak_milli").cast("long").alias("max_peak_milli"),
        )
        .orderBy("sample_rate")
    )


_SQL_MM_AUDIO = f"""
-- byte stats are keyed by a SYNTHETIC ROW_NUMBER rid, never doc_id: row
-- identity must not depend on the key — a doc_id-keyed join NULLed the
-- loudness stats of NULL-keyed clips (r06 adversarial-sweep find).
-- Per-byte math runs as a VALUE HISTOGRAM: the hex payload splits into
-- byte pairs once (regexp_extract_all), counts group by the 256 possible
-- values, and Σb² / max|b| come from the tiny count×value join — the
-- previous per-byte substr list comprehension was O(payload) lambda
-- evaluations per row and ground for minutes on a 1 MB clip (huge-doc
-- sweep blocker). Integer-exact, so IEEE determinism is unchanged: the
-- single SQRT sees the same exact Σb².
WITH base AS MATERIALIZED (
  -- MATERIALIZED: base is referenced by TWO consumers and ROW_NUMBER()
  -- OVER () is order-nondeterministic per evaluation — an inlined CTE
  -- could assign different rids to the two references and mis-join
  SELECT ROW_NUMBER() OVER () AS rid,
         sha256(COALESCE(text, '')) AS h,
         lower(hex(encode(COALESCE(text, '')))) AS hx,
         octet_length(encode(COALESCE(text, ''))) AS n
  FROM documents
), lut AS (
  SELECT lpad(lower(to_hex(v)), 2, '0') AS hp,
         CASE WHEN v > 127 THEN (v-256)*(v-256) ELSE v*v END AS sq,
         CASE WHEN v > 127 THEN 256-v ELSE v END AS mag
  FROM (SELECT unnest(generate_series(0, 255)) AS v)
), cnt AS (
  SELECT rid, hp, COUNT(*) AS c
  FROM (SELECT rid, unnest(regexp_extract_all(hx, '..')) AS hp FROM base)
  GROUP BY rid, hp
), stats AS (
  SELECT rid, CAST(SUM(c * sq) AS BIGINT) AS ssq, MAX(mag) AS mx
  FROM cnt JOIN lut USING (hp)
  GROUP BY rid
), clips AS (
  SELECT CASE ({_hexbyte('h', '1')} % 3)
           WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate,
         n * 1000 // rate AS duration_ms,
         CASE WHEN n = 0 THEN 0
              ELSE CAST(FLOOR(1000.0 * SQRT(ssq / (16384.0 * n)))
                        AS BIGINT) END AS rms_milli,
         CASE WHEN n = 0 THEN 0
              ELSE CAST(FLOOR(1000.0 * (mx / 128.0)) AS BIGINT)
              END AS peak_milli
  FROM base LEFT JOIN stats USING (rid)
)
SELECT CAST(rate AS BIGINT) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_clips,
       CAST(SUM(duration_ms) AS BIGINT) AS total_ms,
       CAST(SUM(rms_milli) // COUNT(*) AS BIGINT) AS avg_rms_milli,
       CAST(MAX(peak_milli) AS BIGINT) AS max_peak_milli
FROM clips
GROUP BY rate
ORDER BY sample_rate
"""


def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal chain: payload → decode meta → feature extraction
    → per-channel accounting (stub kernels — see functions/multimodal.py).

    Oracle-checked (r05): the embed stub derives every value from chained
    sha256 digests with integer-exact centering (see extract_features),
    so DuckDB reproduces each embedding bit-for-bit and the chain —
    mapInPandas batching, the meta×features join, the float32 storage
    type — is differentially verified. The per-group averages round to 6
    decimals on both engines (each per-doc value is bit-identical; only
    the cross-row accumulation order differs, which rounding absorbs —
    the cosine_np precedent).

    The shape to note for 100 TB: the Arrow-batched mapInPandas stages
    pipeline WITHOUT shuffles between them (narrow dependencies — one task
    chain per partition); the only exchange is the final 3-group aggregate.
    """
    from ..functions.multimodal import decode_image_meta, extract_features

    # rid = synthetic per-row id, never doc_id: each ROW is one asset, so
    # the meta×features join must be row-identity — joining on doc_id
    # SQUARED a duplicate-id re-ingest (2 meta × 2 feats = 4 assets, r08
    # duplicate-rows sweep) and would merge NULL-keyed clips. Both decode
    # branches read the same stamped scan, so the ids line up without a
    # shuffle.
    # PERSISTED: monotonically_increasing_id is nondeterministic across
    # re-evaluations, and meta/feats are two separate mapInPandas branches
    # of one join plan — without materialization a task retry or split
    # change could re-stamp the scan differently per branch and silently
    # attach one row's channels to another row's features. The persist
    # pins ONE rid→row mapping both branches read (at 100 TB you'd write
    # the stamped frame to the lake instead).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    ).withColumn("rid", F.monotonically_increasing_id()).persist()
    # force_stub: these queries are ORACLE-checked against the stub
    # math; a codec library appearing in the environment must not
    # silently flip them onto the real-decoder branch and go red
    meta = decode_image_meta(docs, "payload", "rid", force_stub=True)
    feats = extract_features(docs, "payload", "rid")
    joined = meta.select(F.col("key"), "channels").join(feats, "key")
    out = (
        joined.groupBy("channels")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.round(F.avg(F.element_at("embedding", 1)), 6).alias("avg_dim1"),
            F.round(
                F.avg(F.aggregate(
                    F.col("embedding").cast("array<double>"),
                    F.lit(0.0),
                    lambda a, x: a + x * x,
                )),
                6,
            ).alias("avg_sq_norm"),
        )
        .orderBy("channels")
    )
    return scoped(out, docs)


_SQL_MM_PIPELINE = f"""
-- keyed by a SYNTHETIC ROW_NUMBER rid, never doc_id: each ROW is one
-- asset (the engine decodes per row), so a duplicate-id re-ingest is two
-- assets and a NULL-id clip is still one — the r06 mm_audio lesson. The
-- previous doc_id grouping MIXED two duplicate rows' byte stats, driving
-- the variance term negative (sqrt crash, r08 duplicate-rows sweep).
WITH base AS MATERIALIZED (
  -- MATERIALIZED: base is referenced by TWO consumers and ROW_NUMBER()
  -- OVER () is order-nondeterministic per evaluation — an inlined CTE
  -- could assign different rids to the two references and mis-join
  SELECT ROW_NUMBER() OVER () AS rid,
         sha256(COALESCE(text, '')) AS h1 FROM documents
), hx AS (
  SELECT rid, h1, h1 || sha256(h1) AS hh FROM base
), bytes AS (
  SELECT rid, i, {_hexbyte('hh', 'i')} AS b
  FROM hx, LATERAL (SELECT unnest(generate_series(1, 64)) AS i)
), st AS (
  SELECT rid, SUM(b) AS sb, SUM(b*b) AS sq,
         MAX(CASE WHEN i = 1 THEN b END) AS b1
  FROM bytes GROUP BY rid
), emb AS (
  SELECT rid, b1, sb / 64.0 AS mean,
         CASE WHEN sq - sb*sb/64.0 = 0 THEN 1.0
              ELSE SQRT(sq - sb*sb/64.0) END AS nrm
  FROM st
), vals AS (
  SELECT b.rid,
         CAST(CAST((b.b - e.mean) / e.nrm AS REAL) AS DOUBLE) AS v,
         b.i
  FROM bytes b JOIN emb e USING (rid)
), sqn AS (
  SELECT rid,
         MAX(CASE WHEN i = 1 THEN v END) AS d1,
         SUM(v * v) AS s2
  FROM vals GROUP BY rid
), chan AS (
  SELECT rid,
         CASE ({_hexbyte('h1', '3')} % 3)
           WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS channels
  FROM base
)
SELECT CAST(channels AS BIGINT) AS channels,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       ROUND(AVG(d1), 6) AS avg_dim1,
       ROUND(AVG(s2), 6) AS avg_sq_norm
FROM chan JOIN sqn USING (rid)
GROUP BY channels
ORDER BY channels
"""


_SQL_MM_NESTED = f"""
WITH {SQL_VALID_EMB}
SELECT CAST(pos AS BIGINT) AS dim,
       COUNT(*) AS n,
       CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dim_sum,
       CAST(MAX(val) AS DOUBLE) AS dim_max,
       CAST(MIN(val) AS DOUBLE) AS dim_min
FROM (
  SELECT vec_id, unnest(embedding) AS val, generate_subscripts(embedding, 1) AS pos
  FROM embeddings_valid
) t
WHERE pos <= 8
GROUP BY pos
ORDER BY dim
"""


def multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video arm of the modality convention: opaque binary payloads →
    ``sample_frames`` (functions/multimodal.py — the ffmpeg-shaped 1→N
    frame fan-out inside one Arrow-batched mapInPandas, no codec libs in
    this container so frames are deterministic byte slices) → per-frame-
    index rollup of the sampling manifest (count / offset mass / byte
    mass a video-curation pipeline audits before decode).

    Unlike the image/audio arms this one IS oracle-checked: the sampling
    geometry (evenly-spaced offsets, slice lengths) is pure integer
    arithmetic over the payload byte length, which DuckDB reproduces from
    ``octet_length`` — so the fan-out plumbing itself (row expansion,
    offsets, bounds at empty/short payloads) is differentially verified,
    not just row-counted. The per-frame sha256 stays in the kernel output
    for downstream dedup but is excluded here (no blob slicing in the
    oracle dialect).

    Scale: the fan-out is a narrow map (no shuffle); only the 4-group
    rollup exchanges, carrying (frame_idx, partials).
    """
    from ..functions.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    frames = sample_frames(docs, "payload", "doc_id", n_frames=4)
    return (
        frames.groupBy("frame_idx")
        .agg(
            F.count("*").cast("long").alias("n_frames"),
            F.sum("offset").cast("long").alias("sum_offset"),
            F.sum("frame_bytes").cast("long").alias("sum_frame_bytes"),
        )
        .orderBy("frame_idx")
    )


_SQL_MM_VIDEO = """
-- COALESCE matters: the kernel treats a NULL payload as b'' (0 bytes),
-- while an un-coalesced NULL len would slip through DuckDB's
-- NULL-IGNORING GREATEST/LEAST as a phantom 1-byte frame
-- (r06 adversarial-sweep find)
WITH base AS (
  SELECT doc_id, octet_length(encode(COALESCE(text, ''))) AS len FROM documents
), params AS (
  SELECT doc_id, len, GREATEST(len // 4, 1) AS step FROM base
), frames AS (
  SELECT doc_id, i AS frame_idx, len, step,
         LEAST(i * step, GREATEST(len - 1, 0)) AS off
  FROM params, (SELECT UNNEST(range(4)) AS i)
)
SELECT frame_idx,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(off) AS BIGINT) AS sum_offset,
       CAST(SUM(GREATEST(LEAST(step, len - off), 0)) AS BIGINT)
         AS sum_frame_bytes
FROM frames
GROUP BY frame_idx
ORDER BY frame_idx
"""

# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Semantic dedup: k-means cells → within-cell cosine near-dup pruning
# ---------------------------------------------------------------------------

_SEM_K = 16       # cells; cap rule at scale: K·dim·8 B ≤ broadcast budget
_SEM_ITERS = 4
_SEM_TAU = 0.4    # near-dup threshold — same τ as dedup_embedding_cosine,
                  # so recall is measurable against the exact all-pairs form


def _semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means partitions the
    corpus into semantic cells (functions/clustering.py — one zero-shuffle
    GEMM scan per Lloyd iteration, k×dim partials to the driver), then
    each cell is pruned independently: members in ``vec_id`` order are
    kept greedily, dropping any vector within cosine ``_SEM_TAU`` of an
    already-kept member. Output: per-cell census (members/kept/dropped)
    plus the cell's majority label as an interpretability probe — the
    100 TB serving form; census/recall pinned in tests/test_clustering.py.

    Scale: the quadratic step is confined to a cell (the whole point —
    all-pairs moves from O(N²) to O(N²/K) and each cell pairs only
    locally); cells shuffle as narrow (vec_id, cluster) keys with vectors
    joined in per cell, and a hot-cell cap (split or sub-sample cells over
    a size bound, the IVF salting analogue) is the documented guard.
    """
    return _semantic_census(load_vectors(spark, sf_dir))


def _semantic_census(emb: DataFrame) -> DataFrame:
    """k-means cells + greedy within-cell τ-prune census over the GIVEN
    vectors — the machinery behind ``_semantic_cells`` (full corpus,
    serving) and the ``semantic_dedup`` audit (hash-admitted slice)."""
    import numpy as np
    import pandas as pd

    from ..functions.clustering import kmeans_fit

    # The persisted slice feeds the EAGER kmeans driver loop (seed job +
    # one scan per Lloyd iteration — 6 jobs at build time read this cache
    # instead of re-running the scan + dropDuplicates exchange each
    # round). r13: the r12 form then built `assigned` as
    # kmeans_assign(vecs).join(vecs) — a second action-time read of the
    # slice joined back onto the first. Worse, the join-back never even
    # hit the cache: the scoped finalizer fired when the census frame's
    # Python ref died inside the outer query builder, so the ACTION
    # replayed scan+dedup twice (the r12 plans show zero
    # InMemoryTableScan). The fused kernel below assigns the cluster and
    # carries (embedding, label) through in the SAME Arrow pass — one
    # slice read at action time, no join, nothing for the finalizer to
    # strand (guide §2.4 remove-the-shuffle / §4 pass-only-needed-cols).
    # Cold A/B at sf0.1 is a WASH (join-back 2.80/2.82 s → fused
    # 2.94/2.75 s warm — the replaced join broadcast ~1e3 slice rows and
    # the duplicate read recomputed on idle cores), but at corpus scale
    # the fused pass deletes a corpus-wide second read + shuffle join.
    vecs = emb.select("vec_id", "embedding", "label").persist()
    cents, _ = kmeans_fit(vecs, k=_SEM_K, iters=_SEM_ITERS)
    _c = cents

    def _assign_carry(batches) -> "pd.DataFrame":
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            # same argmin as functions/clustering.kmeans_assign — the
            # cell ids must be bit-identical to the unfused form
            d2 = (
                (x * x).sum(axis=1, keepdims=True)
                - 2.0 * (x @ _c.T)
                + (_c * _c).sum(axis=1)[None, :]
            )
            out = pdf.copy()
            out["cluster"] = d2.argmin(axis=1).astype("int32")
            yield out

    assigned = vecs.mapInPandas(
        _assign_carry,
        schema="vec_id bigint, embedding array<float>, label int, "
        "cluster int",
    )

    def _prune_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )[order]
        # NULL labels arrive as NaN/None; bucket them as -1 instead of
        # letting np.unique choke on mixed object comparisons
        labels = pdf["label"].fillna(-1).astype("int64").to_numpy()[order]
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        g = xn @ xn.T
        kept: list[int] = []
        for i in range(len(xn)):
            if not kept or g[i, kept].max() < _SEM_TAU:
                kept.append(i)
        vals, counts = np.unique(labels, return_counts=True)
        top = int(counts.argmax())
        return pd.DataFrame(
            {
                "cluster": [int(pdf["cluster"].iloc[0])],
                "n_members": [len(xn)],
                "n_kept": [len(kept)],
                "n_dropped": [len(xn) - len(kept)],
                "top_label": [int(vals[top])],
                "top_label_n": [int(counts[top])],
            }
        )

    return scoped(
        assigned.groupBy("cluster")
        .applyInPandas(
            _prune_cell,
            "cluster int, n_members long, n_kept long, n_dropped long, "
            "top_label int, top_label_n long",
        )
        .orderBy("cluster"),
        vecs,
    )


#: slice-level floor (ppm of the slice's exact tau-reachable vector count)
#: for the semantic-dedup coverage flag — probed across sf 0.001/0.01/0.1
#: on the hash-admitted slice in tests/test_audit_calibration.py.
_SEM_COVERAGE_PPM = 200_000

#: minimum slice τ-reach for the coverage calibration to have any power:
#: below this support the floor is a statement about 1–2 pairs of a
#: hash-thinned slice and k-means cell co-location of so few points is
#: essentially arbitrary (a 4-vector slice puts each point in its own
#: cell and drops nothing without anything being wrong). Under-support
#: slices report coverage_ok vacuously green; the theorems
#: (members_conserved, dropped_bounded) still bind unconditionally.
#: Probed: real-slice reach is 4/8/58 at sf 0.001/0.01/0.1 — all ≥ 3,
#: so every synthetic SF exercises the floor non-vacuously.
_SEM_MIN_REACH = 3


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup CONTRACT audit — ORACLE-CHECKED since r06 via the
    ``distinct_approx`` conversion pattern (cell ids and centroid floats
    are engine-local, so the per-cell census itself is not restatable),
    and since r07 run entirely on the declared-ppm hash-admitted audit
    slice (``_EMB_SAMPLE_PPM``): both the census AND the exact τ-reach
    are computed over the SAME admitted subset, so every theorem below
    holds verbatim on the slice and no stage of the registered plan is
    all-pairs over the corpus — at rate p the audit costs (pN)²/2 where
    the r06 form's N²/2 could never run at 100 TB. One summary row: two
    EXACT slice stats DuckDB restates via the pairwise cosine join over
    the same admission filter, plus four 0/1 flags the oracle states as
    literal 1:

    - ``n_vectors``: admitted-slice size; ``n_dup_reach``: |{b ∈ slice :
      ∃ a < b in slice with cos(a,b) ≥ τ}| — the exact count of slice
      vectors reachable as the LATER member of a near-dup pair.
    - ``members_conserved`` (theorem): cell membership partitions the
      slice, so Σ n_members == n_vectors.
    - ``dropped_bounded`` (theorem): greedy keeps cell members in vec_id
      order, so every dropped vector has a KEPT tau-neighbor with a
      smaller vec_id in its cell ⊆ slice — Σ n_dropped ≤ n_dup_reach.
    - ``coverage_ok`` (calibrated): Σ n_dropped ≥ ``_SEM_COVERAGE_PPM``
      of n_dup_reach — the cells must co-locate a real share of the
      duplicate mass (SemDeDup's whole value claim). Applies only at
      reach ≥ ``_SEM_MIN_REACH`` (see there); under-support slices
      report vacuous green.
    - ``cells_ok``: 1 ≤ cell count ≤ k and every cell keeps ≥ 1 member
      (vacuous green on a 0-vector slice, which has no cells at all).

    At 100 TB you serve ``_semantic_cells`` (the FULL-corpus census /
    prune — bucketed, scales) and run THIS as the periodic audit; the
    full-corpus audit (exact reach over all N) survives as the pytest
    twin, which also pins slice-vs-full agreement at two SFs.

    Cost note (r08→r09 watch item, closed): the r08 duplicate-rows fix
    added the DISTINCT-row slice (one extra hash exchange on the admitted
    vectors) — that is the honest price of the dropped_bounded theorem
    surviving byte-identical re-ingestion. The audit's 3 SinglePartition
    exchanges are the FINAL stages of the three global aggregates
    (n_vectors, n_dup_reach, census sums), each fed by map-side partials
    shipping one counter row per task — pinned by
    tests/test_plan_quality.py::
    test_semantic_dedup_single_partition_stages_are_agg_finals. r09
    re-measure on a near-clean band (drift 1.06): 2.2 s warm in-bench at
    sf0.1, back in the r07 band; solo-without-preceding-Pandas-UDF
    queries reads ~2× higher because the first applyInPandas pays the
    python-worker spawn for all 32 cores.
    """
    # dropDuplicates: the engine twin of the oracle's DISTINCT admitted
    # slice — duplicate-row copies are one slice member, else the greedy
    # census drops a copy (cos 1.0 with its twin) that same-id-excluded
    # reach never counts and the dropped_bounded theorem breaks (r08
    # duplicate-rows sweep). reach (dedup_embedding_cosine) is already
    # dedupe-invariant: countDistinct over id-distinct pairs.
    emb = load_vectors(spark, sf_dir).filter(_emb_sample_admit()) \
        .dropDuplicates()
    cells = _semantic_census(emb)
    stats = cells.agg(
        F.count(F.lit(1)).cast("long").alias("_n_cells"),
        F.sum("n_members").cast("long").alias("_members"),
        F.sum("n_dropped").cast("long").alias("_dropped"),
        F.min("n_kept").cast("long").alias("_min_kept"),
    )
    reach = (
        dedup_embedding_cosine(spark, sf_dir)
        .agg(F.countDistinct("vec_b").cast("long").alias("n_dup_reach"))
    )
    nvec = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    # r13 dead-cache fix: `cells` carries (via its own scoped finalizer)
    # the persisted kmeans slice its plan reads from. Without tying it to
    # THIS result, the local dies at function exit, the finalizer
    # unpersists the slice before the action runs, and the census branch
    # silently re-scans + re-dedups the corpus (the r12 plan showed no
    # InMemoryTableScan at all). scoped() holds a strong ref to `cells`
    # until the result is GC'd; `cells` then releases the slice.
    out = (
        nvec.crossJoin(reach)
        .crossJoin(stats)
        .select(
            "n_vectors",
            "n_dup_reach",
            # coalesce guards: SUM over an EMPTY cell census is NULL —
            # on a 0-vector slice every theorem must hold vacuously
            (
                F.coalesce(F.col("_members"), F.lit(0))
                == F.col("n_vectors")
            ).cast("long").alias("members_conserved"),
            (
                F.coalesce(F.col("_dropped"), F.lit(0))
                <= F.col("n_dup_reach")
            ).cast("long").alias("dropped_bounded"),
            (
                (F.col("n_dup_reach") < F.lit(_SEM_MIN_REACH))
                | (
                    F.col("_dropped") * F.lit(1_000_000)
                    >= F.lit(_SEM_COVERAGE_PPM) * F.col("n_dup_reach")
                )
            ).cast("long").alias("coverage_ok"),
            (
                (F.col("n_vectors") == 0)  # no vectors → no cells, vacuous
                | (
                    (F.col("_n_cells") >= 1)
                    & (F.col("_n_cells") <= _SEM_K)
                    & (F.col("_min_kept") >= 1)
                )
            ).cast("long").alias("cells_ok"),
        )
    )
    return scoped(out, cells)


_SQL_SEMANTIC_AUDIT = f"""
WITH {SQL_VALID_EMB},
-- DISTINCT rows: a byte-identical re-ingested vector is the same slice
-- member — without the collapse, greedy census drops the copy (cos = 1
-- with itself) while the reach bound excludes same-id pairs, genuinely
-- breaking the dropped_bounded theorem (r08 duplicate-rows sweep)
admitted AS (SELECT DISTINCT * FROM embeddings_valid WHERE {SQL_EMB_SAMPLE_ADMIT}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) AS n2
           FROM admitted WHERE {SQL_NONZERO_EMB}),
reach AS (
  SELECT DISTINCT b.vec_id AS b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) / SQRT(a.n2 * b.n2), 6) >= 0.4
)
SELECT CAST((SELECT COUNT(*) FROM admitted) AS BIGINT) AS n_vectors,
       CAST((SELECT COUNT(*) FROM reach) AS BIGINT) AS n_dup_reach,
       CAST(1 AS BIGINT) AS members_conserved,
       CAST(1 AS BIGINT) AS dropped_bounded,
       CAST(1 AS BIGINT) AS coverage_ok,
       CAST(1 AS BIGINT) AS cells_ok
"""


# ---------------------------------------------------------------------------
# Zipf-law fit over the corpus frequency spectrum
# ---------------------------------------------------------------------------

_ZIPF_TOPK = 100


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of ln(freq) on ln(rank) over the top-100 token
    frequencies — the Zipf-exponent health check run on every new crawl
    slice (a natural-language corpus fits slope ≈ −1; a collapsed or
    templated corpus doesn't). One summary row: slope, intercept-free
    fit size, and the top term.

    Determinism: regr_slope over doubles is summation-order-dependent, so
    both engines instead quantize ln(rank)/ln(freq) to integer micro-nats
    and evaluate the closed-form OLS slope in pure bigint arithmetic —
    ``(n·Σxy − Σx·Σy) div ((n·Σx² − (Σx)²) div 1e6)`` — bit-identical at
    any partitioning. The micro-scaling divides the DENOMINATOR down
    (denominator ≈ n²·var(x) ≈ 1e16 micro² — relative truncation error
    ~1e-10) because scaling the numerator UP would overflow int64; both
    engines' integer division truncates toward zero, so the math is
    engine-identical either way.

    Scale: the word count is the only corpus-wide shuffle; the rank
    window and OLS run on a 100-row frame. Rank ties break by term so
    the cut is total-order deterministic.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(X.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    top = (
        freq.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("term"))),
        )
        .where(F.col("rank") <= _ZIPF_TOPK)
        .selectExpr(
            "term",
            "rank",
            "cast(round(ln(rank) * 1000000) as long) AS x",
            "cast(round(ln(freq) * 1000000) as long) AS y",
        )
    )
    return top.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.expr(
            "cast((count(*) * sum(x * y) - sum(x) * sum(y))"
            "     div ((count(*) * sum(x * x) - sum(x) * sum(x))"
            "          div 1000000) as long)"
        ).alias("slope_micro"),
        F.expr("min(case when rank = 1 then term end)").alias("top_term"),
    )


_SQL_ZIPF = rf"""
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
                            t -> t <> '')) AS term
  FROM documents
), freq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY 1
), top AS (
  SELECT term, rank, CAST(ROUND(LN(rank) * 1000000) AS BIGINT) AS x,
         CAST(ROUND(LN(freq) * 1000000) AS BIGINT) AS y
  FROM (
    SELECT term, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
    FROM freq
  ) r
  WHERE rank <= {_ZIPF_TOPK}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
            // ((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) // 1000000)
            AS BIGINT) AS slope_micro,
       MIN(CASE WHEN rank = 1 THEN term END) AS top_term
FROM top
"""


# ---------------------------------------------------------------------------
# Dedup representative selection (keep-best per duplicate group)
# ---------------------------------------------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection over exact-duplicate groups: within each
    normalized-text fingerprint group keep the BEST copy (longest
    ``n_chars``, doc_id as the total-order tiebreak) rather than the
    first-seen one — the policy real curation pipelines apply so dedup
    never discards the highest-quality variant. Per-source manifest:
    docs in, survivors out, duplicates dropped, and the byte mass the
    drop saves.

    Scale: same single fingerprint-hash shuffle as ``dedup_exact`` (the
    128-bit fp rides the exchange, never the text); the keep-best rule is
    one row_number window on that distribution, then a tiny per-source
    rollup with map-side partials.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = docs.withColumn("fp", X.fingerprint("text")).withColumn(
        "keep", (F.row_number().over(w) == 1).cast("long")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            (F.count("*") - F.sum("keep")).cast("long").alias("n_dropped"),
            F.sum(
                F.when(F.col("keep") == 0, F.col("n_chars")).otherwise(0)
            )
            .cast("long")
            .alias("dropped_chars"),
        )
        .orderBy("source")
    )


_SQL_KEEP_BEST = r"""
WITH ranked AS (
  SELECT source, n_chars,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))
                ORDER BY n_chars DESC, doc_id ASC) = 1
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) AS BIGINT)
         AS dropped_chars
FROM ranked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs the historical fingerprint index
# ---------------------------------------------------------------------------

# _INCR_STRIDE lives with the shingle constants near the top of the file


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape production pipelines actually run:
    a NEW crawl batch (every 7th doc stands in) is checked against the
    HISTORICAL corpus's fingerprint index, not against itself + history
    rescanned. Per-source manifest of the new batch: admitted docs,
    rejected (fingerprint already in history), and rejected-within-batch
    (duplicate of an admitted new doc, first-by-doc_id wins).

    Scale: history contributes ONLY its 128-bit fingerprint column to a
    left join on fp (at 100 TB the index is a fraction of corpus bytes
    and is exactly what an Iceberg fingerprint table stores); the
    within-batch tier is a window over the same fp exchange. Text never
    shuffles. The fp index side would be the persisted dedup-state table
    in a real pipeline — here derived in-query so the oracle can replay
    it.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fp", X.fingerprint("text")
    )
    batch = docs.where(F.col("doc_id") % _INCR_STRIDE == 0)
    history = docs.where(F.col("doc_id") % _INCR_STRIDE != 0)
    hist_index = history.select("fp").distinct()
    w = Window.partitionBy("fp").orderBy("doc_id")
    checked = (
        batch.join(
            hist_index.withColumn("in_hist", F.lit(1)), "fp", "left"
        )
        .withColumn("batch_rank", F.row_number().over(w))
        .withColumn(
            "verdict",
            F.when(F.col("in_hist").isNotNull(), "dup_of_history")
            .when(F.col("batch_rank") > 1, "dup_in_batch")
            .otherwise("admitted"),
        )
    )
    return (
        checked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_batch"),
            F.sum((F.col("verdict") == "admitted").cast("long"))
            .cast("long")
            .alias("n_admitted"),
            F.sum((F.col("verdict") == "dup_of_history").cast("long"))
            .cast("long")
            .alias("n_dup_history"),
            F.sum((F.col("verdict") == "dup_in_batch").cast("long"))
            .cast("long")
            .alias("n_dup_batch"),
        )
        .orderBy("source")
    )


_SQL_DEDUP_INCR = rf"""
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
  FROM documents
), batch AS (
  SELECT * FROM fp WHERE doc_id % {_INCR_STRIDE} = 0
), hist AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % {_INCR_STRIDE} <> 0
), checked AS (
  SELECT b.source,
         CASE WHEN h.fp IS NOT NULL THEN 'dup_of_history'
              WHEN ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) > 1
                THEN 'dup_in_batch'
              ELSE 'admitted' END AS verdict
  FROM batch b LEFT JOIN hist h ON b.fp = h.fp
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(SUM(CASE WHEN verdict = 'admitted' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted,
       CAST(SUM(CASE WHEN verdict = 'dup_of_history' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_history,
       CAST(SUM(CASE WHEN verdict = 'dup_in_batch' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_batch
FROM checked
GROUP BY source
ORDER BY source
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_lsh": dedup_incremental_lsh,
    "dedup_near_ngram": dedup_near_ngram,
    "dedup_clusters": dedup_clusters,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_edit_distance": dedup_edit_distance,
    "semantic_dedup": semantic_dedup,
    "similarity_topk": similarity_topk,
    "similarity_ann_lsh": similarity_ann_lsh,
    "similarity_ivf": similarity_ivf,
    "similarity_ivf_pq": similarity_ivf_pq,
    "text_analysis": text_analysis,
    "token_stats": token_stats,
    "quality_filter": quality_filter,
    "sample_stratified": sample_stratified,
    "ngram_topk": ngram_topk,
    "keyword_extract": keyword_extract,
    "inverted_index": inverted_index,
    "bm25_rank": bm25_rank,
    "hybrid_rank": hybrid_rank,
    "heavy_hitters": heavy_hitters,
    "lang_id_heuristic": lang_id_heuristic,
    "doc_fingerprint": doc_fingerprint,
    "multimodal_binary_meta": multimodal_binary_meta,
    "multimodal_nested": multimodal_nested,
    "multimodal_decode": multimodal_decode,
    "multimodal_audio": multimodal_audio,
    "multimodal_video": multimodal_video,
    "multimodal_pipeline": multimodal_pipeline,
    "zipf_fit": zipf_fit,
    "dedup_keep_best": dedup_keep_best,
}

ORACLE = {
    "dedup_exact": _SQL_DEDUP_EXACT,
    "zipf_fit": _SQL_ZIPF,
    "dedup_keep_best": _SQL_KEEP_BEST,
    "dedup_incremental": _SQL_DEDUP_INCR,
    "dedup_incremental_lsh": _SQL_INCR_LSH,
    "dedup_near_ngram": _SQL_NEAR_NGRAM,
    "dedup_clusters": _SQL_CLUSTERS,
    # same contract & oracle as the exact form (deterministic recall ≈ 1):
    "dedup_minhash_lsh": _SQL_NEAR_NGRAM,
    # oracle-checked since r06: exact near-ngram pair stats + literal
    # theorem/recall flags (the contract-audit pattern, see dedup_simhash)
    "dedup_simhash": _SQL_SIMHASH_AUDIT,
    "dedup_embedding_cosine": _SQL_DEDUP_EMB,
    "dedup_edit_distance": _SQL_EDIT_DIST,
    "similarity_topk": _SQL_SIM_TOPK,
    # ANN audits: oracle-checked since r06 via the contract-flag pattern —
    # the three variants share one oracle (exact top-k stats + literal
    # flags); the variant-specific recall floor lives in the Spark side
    "similarity_ann_lsh": _SQL_ANN_AUDIT,
    "similarity_ivf": _SQL_ANN_AUDIT,
    "similarity_ivf_pq": _SQL_ANN_AUDIT,
    "text_analysis": _SQL_TEXT_ANALYSIS,
    "token_stats": _SQL_TOKEN_STATS,
    "quality_filter": _SQL_QUALITY,
    "sample_stratified": _SQL_SAMPLE,
    "ngram_topk": _SQL_NGRAM_TOPK,
    "keyword_extract": _SQL_KEYWORDS,
    "inverted_index": _SQL_INVERTED_INDEX,
    "bm25_rank": _SQL_BM25,
    "hybrid_rank": _SQL_HYBRID,
    "heavy_hitters": _SQL_HEAVY,
    "lang_id_heuristic": _SQL_LANG_ID,
    "doc_fingerprint": _SQL_FINGERPRINT,
    "multimodal_binary_meta": _SQL_MM_BINARY,
    "multimodal_nested": _SQL_MM_NESTED,
    "multimodal_video": _SQL_MM_VIDEO,
    "multimodal_decode": _SQL_MM_DECODE,
    "multimodal_audio": _SQL_MM_AUDIO,
    "multimodal_pipeline": _SQL_MM_PIPELINE,
    # oracle-checked since r06: exact all-pairs reach stats + literal
    # theorem/coverage flags (the contract-audit pattern)
    "semantic_dedup": _SQL_SEMANTIC_AUDIT,
}


# ---------------------------------------------------------------------------
# dup_family_histogram — duplicate family-size distribution per corpus
# ---------------------------------------------------------------------------


def dup_family_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How is duplicate MASS distributed: for every exact-duplicate
    family size k (``dedup_exact``'s normalized-text fingerprint
    families), the number of families, the documents they hold, and
    their share of the corpus in ppm — the report that decides whether
    dedup should chase a few mega-families (crawl loops, boilerplate) or
    a long tail of pairs, and sizes the expected row reduction before a
    dedup job runs.

    Scale: one fingerprint-keyed count shuffle (128-bit keys, never
    text — the ``dedup_exact`` discipline), then a |distinct sizes|-row
    histogram aggregate; the corpus total derives from the SAME family
    table (result-scoped persist), so the scan runs once.
    """
    from ._cache import scoped

    docs = load_table(spark, sf_dir, "documents")
    fams = (
        docs.select(X.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .persist()
    )
    total = fams.agg(F.sum("k").cast("long").alias("n_total"))
    result = (
        fams.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_families"),
            F.sum("k").cast("long").alias("n_docs"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("k").alias("family_size"),
            "n_families",
            "n_docs",
            F.expr(
                "cast(n_docs * 1000000 div nullif(n_total, 0) as long)"
            ).alias("corpus_share_ppm"),
        )
        .orderBy("family_size")
    )
    return scoped(result, fams)


_SQL_DUP_FAMILY_HISTOGRAM = r"""
WITH fams AS (
  SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(k) AS BIGINT) AS n_total FROM fams
)
SELECT k AS family_size,
       CAST(COUNT(*) AS BIGINT) AS n_families,
       CAST(SUM(k) AS BIGINT) AS n_docs,
       CAST(SUM(k) * 1000000 // NULLIF(n_total, 0) AS BIGINT)
         AS corpus_share_ppm
FROM fams CROSS JOIN tot
GROUP BY k, n_total
ORDER BY family_size
"""

QUERIES["dup_family_histogram"] = dup_family_histogram
ORACLE["dup_family_histogram"] = _SQL_DUP_FAMILY_HISTOGRAM

# registered r12 (staged r11 per the stage-then-register cadence)
QUERIES["similarity_mmr"] = similarity_mmr
ORACLE["similarity_mmr"] = _SQL_SIM_MMR


# ---------------------------------------------------------------------------
# B18e (staged for r10): IVF index MAINTENANCE — merge a new vector batch
# into existing cells without recomputing centroids
# ---------------------------------------------------------------------------

#: which vectors form the incoming batch for the merge audit: sign-safe
#: pmod(vec_id, 5) == 2 (~20% of the corpus). Centroid seeds come from
#: the BASE split only — the index predates the batch by construction.
_IVF_MERGE_MOD = 5
_IVF_MERGE_RESIDUE = 2


def similarity_ivf_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance: assign an incoming vector batch to the
    EXISTING cell grid (centroids frozen — no retraining) and report the
    merged per-cell census — the incremental counterpart of
    ``similarity_ivf``, pairing with ``dedup_incremental_lsh``: a daily
    embedding batch lands in the index for serving immediately; centroid
    refresh is a separate, rarer maintenance job.

    FULLY oracle-restatable (unlike the k-means queries): cells are
    identified by their deterministic SEED vectors (base split,
    ``vec_id % _IVF_STRIDE == 0``), and assignment is argmax cosine over
    ≤K seeds with the similarity_topk determinism recipe — cosine ROUNDED
    to 6 dp, ties broken by smaller seed id — so DuckDB restates the
    exact assignment with a cross join at audit scale.

    Scale: one GEMM tile pass over base+batch against the broadcast seed
    block (the `_ivf_parts` kernel shape, top-1 only), emitting ONE
    narrow (vec_id, cell, is_new) row per vector; the census is a
    map-side-combined groupBy(cell). The batch-only serving form assigns
    just the batch (batch-sized scan); auditing base+batch in one pass
    proves conservation: every valid vector lands in exactly one cell.
    Empty seed set (corpus smaller than the seed stride) → empty census
    on both engines.
    """
    import numpy as np
    import pandas as pd

    # DISTINCT rows: a byte-identical re-ingested vector is the same index
    # entry and must merge once (the semantic_dedup/slice-audit identity
    # convention — r10 adversarial-embeddings find: the duplicate row
    # double-counted its cell's census). Same-id-DIFFERENT-payload rows
    # stay distinct entries (an IVF index stores vectors, not ids); the
    # oracle partitions its assignment window by (vec_id, v) to match.
    emb = load_vectors(spark, sf_dir, nonzero=True).select(
        "vec_id", "embedding"
    ).dropDuplicates()
    is_new = (
        F.pmod(F.col("vec_id"), F.lit(_IVF_MERGE_MOD)) == _IVF_MERGE_RESIDUE
    )
    cblock = (
        emb.where((F.col("vec_id") % _IVF_STRIDE == 0) & ~is_new)
        .groupBy(F.lit(1).alias("g"))
        .agg(
            F.collect_list("vec_id").alias("c_ids"),
            F.collect_list("embedding").alias("c_vecs"),
        )
        .drop("g")
    )
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") / _BLOCK).cast("int"))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vecs"),
        )
    )
    tiles = blocks.crossJoin(F.broadcast(cblock))

    def _assign(batches):
        """Top-1 cell per vector: argmax over ROUND(cos, 6), ties to the
        smaller seed id — the exact semantic the oracle restates."""
        for pdf in batches:
            out_v, out_c = [], []
            for r in pdf.itertuples(index=False):
                if r.c_ids is None or len(r.c_ids) == 0:
                    continue  # no index cells: nothing to merge into
                ids = np.asarray(r.ids, dtype=np.int64)
                c_ids = np.asarray(r.c_ids, dtype=np.int64)
                corder = np.argsort(c_ids)  # id-asc so argmax ties break low
                c_ids = c_ids[corder]
                E = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in r.vecs]
                )
                C = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in r.c_vecs]
                )[corder]
                ne = np.sqrt((E * E).sum(axis=1))
                nc = np.sqrt((C * C).sum(axis=1))
                cos = np.round((E @ C.T) / np.outer(ne, nc), 6)
                # argmax returns the FIRST maximum; columns are id-ascending
                best = cos.argmax(axis=1)
                out_v.extend(ids.tolist())
                out_c.extend(c_ids[best].tolist())
            yield pd.DataFrame({"vec_id": out_v, "cell": out_c})

    assigned = tiles.mapInPandas(_assign, schema="vec_id BIGINT, cell BIGINT")
    return (
        assigned.withColumn("is_new", is_new.cast("long"))
        .groupBy("cell")
        .agg(
            F.sum(1 - F.col("is_new")).cast("long").alias("n_base"),
            F.sum("is_new").cast("long").alias("n_added"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
        .orderBy("cell")
    )


_SQL_IVF_MERGE = f"""
WITH {{SQL_VALID_EMB}},
-- DISTINCT rows: a byte-identical re-ingested vector is ONE index entry
-- (engine side dropDuplicates); same-id-different-payload rows stay
-- distinct, so the assignment window partitions by the full row identity
e AS (SELECT DISTINCT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS n
      FROM embeddings_valid WHERE {{SQL_NONZERO_EMB}}),
seeds AS (
  SELECT vec_id AS cell, v AS cv, n AS cn FROM e
  WHERE vec_id % {_IVF_STRIDE} = 0
    AND ((vec_id % {_IVF_MERGE_MOD}) + {_IVF_MERGE_MOD})
          % {_IVF_MERGE_MOD} <> {_IVF_MERGE_RESIDUE}
), assign AS (
  SELECT e.vec_id,
         ((e.vec_id % {_IVF_MERGE_MOD}) + {_IVF_MERGE_MOD})
           % {_IVF_MERGE_MOD} = {_IVF_MERGE_RESIDUE} AS is_new,
         s.cell,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id, e.v
           ORDER BY ROUND(list_dot_product(e.v, s.cv) / (e.n * s.cn), 6)
                      DESC,
                    s.cell ASC) AS rn
  FROM e CROSS JOIN seeds s
)
SELECT cell,
       CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM assign WHERE rn = 1
GROUP BY cell ORDER BY cell
""".replace("{SQL_VALID_EMB}", SQL_VALID_EMB).replace(
    "{SQL_NONZERO_EMB}", SQL_NONZERO_EMB
)

# Registered in r10 (r09 VERDICT item 1): staged through the r09 gate,
# registered now — enters the window at the never-checked tier.
QUERIES["similarity_ivf_merge"] = similarity_ivf_merge
ORACLE["similarity_ivf_merge"] = _SQL_IVF_MERGE


# ---------------------------------------------------------------------------
# r12-staged: multimodal asset dedup (register after the r12 gate lands)
# ---------------------------------------------------------------------------


def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-level dedup census over opaque BINARY payloads — the
    missing dedup member of the multimodal family (binary_meta counts
    distinct payloads; this reports the dedup decision): per source,
    byte-exact duplicate assets (same md5 of the raw payload) and
    canonical duplicates (same md5 after the cheap deterministic
    canonicalization — lowercase + collapse the shared WS_CLASS + trim —
    the stand-in for the perceptual-hash slot a real image/audio
    pipeline plugs in; see functions/multimodal.py for why the decode
    stage itself is stubbed in this container). NULL payloads are
    unhashable and drop out of both numerator and denominator.

    Scale: both hashes are JVM expressions riding the scan (no UDF, no
    explode); the only exchange is the final per-source rollup with
    map-side partials — count-distinct over 16-byte digests, never
    payload bytes, crosses the wire. At 100 TB the digests are the
    bucketable pairing index; the payloads never shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        F.md5(F.col("text").cast("binary")).alias("h_exact"),
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.lower("text"), "[ \\t\\n\\x0b\\f\\r]+", " "
                )
            ).cast("binary")
        ).alias("h_canon"),
    )
    return (
        b.groupBy("source")
        .agg(
            F.count("h_exact").cast("long").alias("n_assets"),
            (F.count("h_exact") - F.countDistinct("h_exact"))
            .cast("long")
            .alias("n_exact_dupes"),
            (F.count("h_canon") - F.countDistinct("h_canon"))
            .cast("long")
            .alias("n_canon_dupes"),
            F.expr(
                "(count(h_exact) - count(distinct h_exact)) * 1000000L "
                "div count(h_exact)"
            ).alias("exact_dup_ppm"),
        )
        .orderBy("source")
    )


_SQL_MULTIMODAL_DEDUP = r"""
WITH b AS (
  -- DuckDB md5(VARCHAR) hashes the UTF-8 bytes == Spark md5(binary cast)
  SELECT source,
         md5(text) AS h_exact,
         md5(trim(regexp_replace(lower(text),
                                 '[ \t\n\x0b\f\r]+', ' ', 'g')))
           AS h_canon
  FROM documents
)
SELECT source,
       CAST(COUNT(h_exact) AS BIGINT) AS n_assets,
       CAST(COUNT(h_exact) - COUNT(DISTINCT h_exact) AS BIGINT)
         AS n_exact_dupes,
       CAST(COUNT(h_canon) - COUNT(DISTINCT h_canon) AS BIGINT)
         AS n_canon_dupes,
       CAST((COUNT(h_exact) - COUNT(DISTINCT h_exact)) * 1000000
            // COUNT(h_exact) AS BIGINT) AS exact_dup_ppm
FROM b
GROUP BY source
ORDER BY source
"""

R12_QUERIES = {"multimodal_dedup": multimodal_dedup}
R12_ORACLE = {"multimodal_dedup": _SQL_MULTIMODAL_DEDUP}

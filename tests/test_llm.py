"""LLM-pipeline operator tests: dedup recall, ANN recall floor, text
heuristics, multimodal plumbing."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bytewax_iceberg_connector_spark.functions import similarity as S
from bytewax_iceberg_connector_spark.functions import text as X


def test_minhash_lsh_full_recall_on_corpus(spark, sf_dir):
    """The scale path (minhash banding) must find every exact-Jaccard pair
    on the test corpus — the property that lets it share the exact oracle."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        dedup_minhash_lsh,
        dedup_near_ngram,
    )

    exact = {(r.doc_a, r.doc_b, r.fam_a, r.fam_b)
             for r in dedup_near_ngram(spark, sf_dir).collect()}
    lsh = {(r.doc_a, r.doc_b, r.fam_a, r.fam_b)
           for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    assert exact, "corpus should contain planted near-duplicates"
    assert lsh == exact


def test_simhash_catches_planted_dups(spark, sf_dir):
    """SimHash banding must recover a large share of the high-Jaccard pairs
    (different similarity geometry → exact equality is not expected)."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        _near_ngram_pairs_exact,
        _simhash_pairs_df,
    )

    exact = {(r.doc_a, r.doc_b)
             for r in _near_ngram_pairs_exact(spark, sf_dir).collect()}
    sim = {(r.doc_a, r.doc_b) for r in _simhash_pairs_df(spark, sf_dir).collect()}
    assert len(sim & exact) >= len(exact) * 0.7


def test_simhash_audit_flags_all_green(spark, sf_dir):
    """The registered dedup_simhash contract audit (oracle-checked since
    r06) must carry both flags = 1 on every exact near-dup pair — the
    ident_found theorem (identical shingle sets ⇒ identical fingerprints
    ⇒ found) and the calibrated corpus recall floor."""
    from bytewax_iceberg_connector_spark.plans.llm import dedup_simhash

    rows = dedup_simhash(spark, sf_dir).collect()
    assert rows, "corpus should contain planted near-duplicates"
    assert all(r.ident_found == 1 for r in rows)
    assert all(r.recall_ok == 1 for r in rows)
    assert all(r.jaccard >= 0.8 for r in rows)


@pytest.mark.xfail(
    strict=True, raises=AssertionError,
    reason="known defect (ROADMAP open item 2): the four exact 16-bit "
           "bands propose 15 of the 51 exact pairs of this corpus, whose "
           "pairs sit at Hamming distance 7-8, below the 0.60 recall floor",
)
def test_simhash_recall_on_perfbench_corpus(spark, tmp_path):
    """The same audit on the perfbench corpus (seed 3, sf0.02), whose
    near-duplicate pairs sit further apart than the test corpus's: every
    exact pair must still carry ``recall_ok``. Strict, so the test fails
    once the banding reaches the floor and the marker has to go."""
    from bytewax_iceberg_connector_spark.plans.llm import dedup_simhash
    from perfbench import gen

    gen.write_corpus(3, 0.02, str(tmp_path))
    rows = dedup_simhash(spark, str(tmp_path)).collect()
    assert rows, "corpus should contain planted near-duplicates"
    assert all(r.recall_ok == 1 for r in rows)


def test_ann_recall_floor(spark, sf_dir):
    """Sign-LSH ANN top-5 must overlap the exact top-5 (recall ≥ 0.2 on
    random-ish embeddings; buckets trade recall for the pruned cross join)."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        _ann_lsh_topk,
        similarity_topk,
    )

    exact = {(r.q_id, r.neighbor_id) for r in similarity_topk(spark, sf_dir).collect()}
    ann = {(r.q_id, r.neighbor_id) for r in _ann_lsh_topk(spark, sf_dir).collect()}
    assert ann  # buckets must produce candidates
    # measured 0.72 on the round-3 corpus (deterministic); 0.4 leaves
    # headroom for generator drift while still catching quality breaks
    assert len(ann & exact) / len(exact) >= 0.4


def test_ivf_recall_floor(spark, sf_dir):
    """IVF top-5 with ceil(sqrt(K))-adaptive probes: every query
    answered, recall above the random floor (~N/61-sized cells on
    weakly-clustered vectors; N-scaling pinned in
    tests/test_audit_calibration.py)."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        _ivf_topk,
        similarity_topk,
    )

    exact_rows = similarity_topk(spark, sf_dir).collect()
    exact = {(r.q_id, r.neighbor_id) for r in exact_rows}
    ivf_rows = _ivf_topk(spark, sf_dir).collect()
    ivf = {(r.q_id, r.neighbor_id) for r in ivf_rows}
    assert {r.q_id for r in ivf_rows} == {r.q_id for r in exact_rows}
    # measured 0.50 on the round-3 corpus (deterministic); see ann note
    assert len(ivf & exact) / len(exact) >= 0.3


def test_ivf_pq_recall_tracks_ivf_ceiling(spark, sf_dir):
    """IVF-PQ shares IVF's candidate cells, so its recall ceiling IS the
    IVF recall; residual 4-bit PQ + exact re-rank of the top candidate
    quarter (floor 40) must keep ≥ ~70% of that ceiling (measured ~89%
    on this corpus). Every query must still be answered with a full
    top-k."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        _TOPK,
        _ivf_pq_topk,
        _ivf_topk,
        similarity_topk,
    )

    exact_rows = similarity_topk(spark, sf_dir).collect()
    exact = {(r.q_id, r.neighbor_id) for r in exact_rows}
    ivf = {
        (r.q_id, r.neighbor_id) for r in _ivf_topk(spark, sf_dir).collect()
    }
    pq_rows = _ivf_pq_topk(spark, sf_dir).collect()
    pq = {(r.q_id, r.neighbor_id) for r in pq_rows}
    assert {r.q_id for r in pq_rows} == {r.q_id for r in exact_rows}
    per_q = {}
    for q, _ in pq:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(n == _TOPK for n in per_q.values())
    ceiling = len(ivf & exact) / len(exact)
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.7 * ceiling, (recall, ceiling)


@pytest.mark.deep
def test_ann_audits_flags_all_green(spark, sf_dir):
    """The three registered ANN contract audits (oracle-checked form since
    r06) must produce one row per query with BOTH flags = 1 — the exact
    stats are covered by the DuckDB differential; this pins the flag
    calibration (recall floors probed at four corpus sizes in
    tests/test_audit_calibration.py) against kernel or parameter
    drift."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        similarity_ann_lsh,
        similarity_ivf,
        similarity_ivf_pq,
    )

    for fn in (similarity_ann_lsh, similarity_ivf, similarity_ivf_pq):
        rows = fn(spark, sf_dir).collect()
        assert rows, fn.__name__
        assert all(r.ann_bounded == 1 for r in rows), fn.__name__
        assert all(r.recall_ok == 1 for r in rows), fn.__name__
        assert all(1 <= r.n_exact <= 5 for r in rows), fn.__name__


def test_topk_query_chunking_is_lossless(spark, sf_dir, monkeypatch):
    """The bounded query-block broadcast (``_QCHUNK``) must not change
    results: forcing many tiny chunks — the oversized-query-set regime,
    where one collect_list row would blow past its size budget — yields
    exactly the default answer, row for row."""
    from bytewax_iceberg_connector_spark.plans import llm

    want = sorted(
        (r.q_id, r.rank, r.neighbor_id, r.score)
        for r in llm.similarity_topk(spark, sf_dir).collect()
    )
    monkeypatch.setattr(llm, "_QCHUNK", 2)  # ≥ ceil(|Q|/2) chunk rows
    got = sorted(
        (r.q_id, r.rank, r.neighbor_id, r.score)
        for r in llm.similarity_topk(spark, sf_dir).collect()
    )
    assert got == want


def test_resize_and_features_shapes(spark, sf_dir):
    """Resize emits width·height·channels bytes; features are unit-norm
    vectors of the requested dim; both deterministic across runs."""
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.functions.multimodal import (
        extract_features,
        resize_images,
    )
    from bytewax_iceberg_connector_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").cast("binary").alias("payload"))
        .limit(20)
    )
    resized = resize_images(docs, "payload", "doc_id", width=8, height=8).collect()
    assert all(len(r.resized) % (8 * 8) == 0 and r.out_width == 8 for r in resized)

    feats = extract_features(docs, "payload", "doc_id", dim=16)
    rows = feats.collect()
    assert all(len(r.embedding) == 16 for r in rows)
    norms = [sum(x * x for x in r.embedding) for r in rows]
    assert all(abs(n - 1.0) < 1e-3 for n in norms)
    # deterministic: a second run returns identical vectors
    again = {r.key: list(r.embedding) for r in feats.collect()}
    assert all(again[r.key] == list(r.embedding) for r in rows)


def test_simhash64_determinism_and_similarity(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again and again today"),
            Row(doc_id=3, text="completely different words entirely unrelated content here now"),
        ]
    )
    fp = df.select(
        "doc_id", S.simhash64(X.shingle_hashes("text", 3)).alias("s")
    ).collect()
    by_id = {r.doc_id: r.s for r in fp}
    d12 = bin((by_id[1] ^ by_id[2]) & (2**64 - 1)).count("1")
    d13 = bin((by_id[1] ^ by_id[3]) & (2**64 - 1)).count("1")
    assert d12 < d13  # near-dup closer than unrelated
    # determinism across evaluations
    fp2 = {r.doc_id: r.s for r in df.select(
        "doc_id", S.simhash64(X.shingle_hashes("text", 3)).alias("s")
    ).collect()}
    assert by_id == fp2


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([Row(v=[1.0, 2.0, 3.0])])
    got = df.select(S.cosine(F.col("v"), F.col("v")).alias("c")).first().c
    assert got == pytest.approx(1.0, abs=1e-12)


def test_lang_id_und_on_no_stopwords(spark):
    df = spark.createDataFrame([Row(text="xyzzy plugh quux")])
    assert df.select(X.lang_id("text").alias("p")).first().p == "und"


def test_quality_score_bounds(spark, sf_dir):
    from bytewax_iceberg_connector_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(X.quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).first()
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


def test_multimodal_decode_deterministic(spark):
    from bytewax_iceberg_connector_spark.functions.multimodal import decode_image_meta

    df = spark.createDataFrame([Row(k=1, b=b"payload-bytes"), Row(k=2, b=b"")])
    got = {r.key: r for r in decode_image_meta(df, "b", "k").collect()}
    assert got[1].byte_len == 13 and got[2].byte_len == 0
    assert got[1].channels in (1, 3, 4)
    # re-run: identical (content-derived, not random)
    again = {r.key: r for r in decode_image_meta(df, "b", "k").collect()}
    assert {k: (v.width, v.height) for k, v in got.items()} == {
        k: (v.width, v.height) for k, v in again.items()
    }


def test_audio_decode_deterministic_and_exact(spark):
    from bytewax_iceberg_connector_spark.functions.multimodal import decode_audio_meta

    df = spark.createDataFrame([Row(k=1, b=bytes([0, 64, 128, 192])), Row(k=2, b=b"")])
    got = {r.key: r for r in decode_audio_meta(df, "b", "k").collect()}
    assert got[1].n_samples == 4
    assert got[1].sample_rate in (8000, 16000, 44100)
    assert got[1].duration_ms == 4 * 1000 // got[1].sample_rate
    # int8 PCM stub: [0, 64, -128, -64]/128 → rms/peak in exact milli-units
    assert got[1].peak_milli == 1000
    assert got[2].n_samples == 0 and got[2].rms_milli == 0
    again = {r.key: r for r in decode_audio_meta(df, "b", "k").collect()}
    assert {k: (v.sample_rate, v.rms_milli) for k, v in got.items()} == {
        k: (v.sample_rate, v.rms_milli) for k, v in again.items()
    }


def test_frame_sampling_fanout(spark):
    from bytewax_iceberg_connector_spark.functions.multimodal import sample_frames

    df = spark.createDataFrame([Row(k=1, b=bytes(range(100)))])
    frames = sample_frames(df, "b", "k", n_frames=4).collect()
    assert len(frames) == 4
    assert [f.frame_idx for f in sorted(frames, key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
    assert len({f.frame_sha256 for f in frames}) == 4  # distinct slices


def test_dedup_clusters_are_transitive(spark, sf_dir):
    """Connected components: every near-dup pair lands in ONE cluster
    (transitivity), members partition the node set, and the cluster id is
    the component minimum."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        _near_ngram_pairs_exact,
        dedup_clusters,
    )

    pairs = [(r.doc_a, r.doc_b)
             for r in _near_ngram_pairs_exact(spark, sf_dir).collect()]
    clusters = {r.cluster_id: r.n_members for r in dedup_clusters(spark, sf_dir).collect()}
    # reference union-find over the same pairs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for node in parent:
        want.setdefault(find(node), set()).add(node)
    assert clusters == {k: len(v) for k, v in want.items()}


def test_hybrid_rank_rrf_arithmetic_consistent_with_arms(spark, sf_dir):
    """Every fused row's rrf_micro must equal the exact integer RRF of its
    arm ranks, sparse ranks must agree with bm25_rank's own output, and
    the fused order must be (rrf desc, doc_id asc)."""
    from bytewax_iceberg_connector_spark.plans.llm import (
        _RRF_K,
        bm25_rank,
        hybrid_rank,
    )

    fused = hybrid_rank(spark, sf_dir).collect()
    assert 0 < len(fused) <= 10
    sparse = {r.doc_id: r.rank for r in bm25_rank(spark, sf_dir).collect()}
    prev = None
    for r in fused:
        exp = 0
        if r.sparse_rank is not None:
            exp += 1000000 // (_RRF_K + r.sparse_rank)
            assert sparse[r.doc_id] == r.sparse_rank
        if r.dense_rank is not None:
            exp += 1000000 // (_RRF_K + r.dense_rank)
        assert r.rrf_micro == exp and exp > 0
        if prev is not None:
            assert (prev.rrf_micro, prev.doc_id) > (r.rrf_micro, -1) and (
                prev.rrf_micro > r.rrf_micro
                or (prev.rrf_micro == r.rrf_micro and prev.doc_id < r.doc_id)
            )
        prev = r


def test_dup_family_histogram_known_families(spark, tmp_path):
    """Families of size 1/2/3 (one pair differing only in whitespace and
    case — the dedup_exact normalization) produce the exact histogram
    rows, shares summing to 10^6 — hand-checked, then vs the oracle."""
    import pandas as pd

    from _diffutil import assert_df_match as _diff
    from _diffutil import duck_oracle as _oracle
    from bytewax_iceberg_connector_spark.plans.llm import (
        _SQL_DUP_FAMILY_HISTOGRAM,
        dup_family_histogram,
    )

    rows = [
        (0, "unique one", "en", "s", 10),
        (1, "pair  TEXT here", "en", "s", 15),
        (2, "pair text  HERE", "en", "s", 15),   # same after normalize
        (3, "tri same", "en", "s", 8),
        (4, "tri same", "en", "s", 8),
        (5, "TRI  SAME", "en", "s", 9),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(
        tmp_path / "documents.parquet"
    )
    sp = dup_family_histogram(spark, str(tmp_path)).toPandas()
    got = {tuple(r) for r in sp.itertuples(index=False)}
    assert got == {
        (1, 1, 1, 1_000_000 // 6),
        (2, 1, 2, 2_000_000 // 6),
        (3, 1, 3, 3_000_000 // 6),
    }
    _diff(sp, _oracle(tmp_path, _SQL_DUP_FAMILY_HISTOGRAM))


def test_dedup_clusters_giant_exact_family_collapses(spark, tmp_path):
    """The exact-family pre-collapse (r07): a B-copy boilerplate family
    must come back as ONE cluster of B members — with the pair graph
    built over one representative, never B(B−1)/2 materialized pairs
    (same-corpus live A/B: 20 000 copies finish in ~15 s collapsed while
    the pair-materializing shape grinds past minutes). Also pins the
    no-shingle guard: identical SHORT docs (<3 tokens, no shingles) must
    NOT become a cluster — the pair graph never had them, on either
    engine."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bytewax_iceberg_connector_spark.plans.llm import dedup_clusters

    src = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    base_max = max(x.as_py() for x in src.column("doc_id"))
    text = "the quick brown fox jumps over the lazy dog once more " * 4
    n = 300
    farm = pa.table({
        "doc_id": pa.array(
            [base_max + 1 + i for i in range(n + 2)], type=pa.int64()
        ),
        "text": pa.array([text] * n + ["too short", "too short"]),
        "lang": pa.array(["en"] * (n + 2)),
        "source": pa.array(["farm"] * (n + 2)),
        "n_chars": pa.array(
            [len(text)] * n + [9, 9], type=pa.int64()
        ),
    })
    pq.write_table(
        pa.concat_tables([src, farm.cast(src.schema)]),
        tmp_path / "documents.parquet",
    )

    rows = dedup_clusters(spark, str(tmp_path)).collect()
    by_id = {r.cluster_id: r.n_members for r in rows}
    # the farm family is one cluster keyed by its min doc_id
    assert by_id.get(base_max + 1) == n
    # the two identical no-shingle docs are NOT a cluster
    assert base_max + 1 + n not in by_id
    assert all(m >= 2 for m in by_id.values())


def test_near_ngram_family_rows_reconstruct_exact_pairs(spark, sf_dir):
    """The family-collapsed contract is lossless: intra rows (rep, rep,
    1.0, k, k) expand to C(k,2) jaccard-1.0 pairs among family members,
    cross rows (rep_a, rep_b, j, ka, kb) to ka*kb pairs at jaccard j —
    together exactly the pairwise-exact twin's output."""
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.plans.llm import (
        _near_ngram_pairs_exact,
        _shingle_array,
        _shingle_families,
        dedup_near_ngram,
    )

    exact = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
             for r in _near_ngram_pairs_exact(spark, sf_dir).collect()}

    # engine-side family membership (doc_id -> rep)
    sha = _shingle_array(spark, sf_dir).where(F.size("sha") > 0)
    fams = _shingle_families(sha, "sha")
    # fkey is the sorted array itself (exact set identity, r09)
    member = (
        sha.select("doc_id", F.array_sort("sha").alias("fkey"))
        .join(fams, "fkey")
        .select("doc_id", "rep", "fam_size")
    )
    fam_members: dict[int, list[int]] = {}
    for r in member.collect():
        fam_members.setdefault(r.rep, []).append(r.doc_id)

    rebuilt = set()
    rows = dedup_near_ngram(spark, sf_dir).collect()
    assert rows, "corpus should contain planted near-duplicates"
    for r in rows:
        if r.doc_a == r.doc_b:  # intra-family row
            ms = sorted(fam_members[r.doc_a])
            assert len(ms) == r.fam_a == r.fam_b >= 2
            for i, a in enumerate(ms):
                for b in ms[i + 1:]:
                    rebuilt.add((a, b, 1.0))
        else:  # cross-family row
            ma, mb = fam_members[r.doc_a], fam_members[r.doc_b]
            assert len(ma) == r.fam_a and len(mb) == r.fam_b
            for a in ma:
                for b in mb:
                    rebuilt.add((min(a, b), max(a, b), round(r.jaccard, 9)))
    assert rebuilt == exact


# ---------------------------------------------------------------------------
# r10-staged: IVF index maintenance (registered after CORRECTNESS_r09)
# ---------------------------------------------------------------------------


@pytest.mark.deep
def test_similarity_ivf_merge_matches_oracle(spark, sf_dir):
    """Staged B18e: batch vectors merge into the FROZEN cell grid; the
    oracle restates the exact argmax-cosine assignment (rounded 6 dp,
    ties to the smaller seed id) with a cross join. Conservation: every
    valid nonzero vector lands in exactly one cell."""
    from pathlib import Path

    from _diffutil import assert_df_match, duck_oracle
    from bytewax_iceberg_connector_spark.plans.llm import (
        _SQL_IVF_MERGE,
        similarity_ivf_merge,
    )
    from bytewax_iceberg_connector_spark.sources.tables import load_vectors

    sp = similarity_ivf_merge(spark, sf_dir).toPandas()
    op = duck_oracle(Path(sf_dir), _SQL_IVF_MERGE)
    assert_df_match(sp, op)
    assert sp["n_added"].sum() > 0, "batch must be non-vacuous"
    n_valid = load_vectors(spark, sf_dir, nonzero=True).count()
    assert int(sp["n_total"].sum()) == n_valid  # conservation


def test_similarity_ivf_merge_empty_index(spark, tmp_path):
    """A corpus smaller than the seed stride has NO cells — the merge
    reports an empty census on both engines instead of crashing the GEMM
    kernel on a zero-column cosine matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bytewax_iceberg_connector_spark.plans.llm import similarity_ivf_merge

    dim = 8
    pq.write_table(
        pa.table({
            "vec_id": pa.array([1, 2, 3], pa.int64()),  # no id % 61 == 0
            "embedding": pa.array(
                [[float(i + j) for j in range(dim)] for i in range(3)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 1, 0], pa.int32()),
        }),
        tmp_path / "embeddings.parquet",
    )
    assert similarity_ivf_merge(spark, str(tmp_path)).count() == 0

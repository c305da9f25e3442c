"""Behavioral tests for dedup + similarity operators: known duplicates are
found, near-dups rank close, disjoint docs don't pair."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.operators import dedup as DD
from polars_w_inverted_index_spark.operators import similarity as SIM

_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the fence and the birds sing in the tall green trees near the "
    "old stone bridge by the quiet river where children play every day"
)
DOCS = [
    # 0/1: identical; 2: near-dup of 0 (one word changed → high Jaccard);
    # 3: disjoint
    (0, _BASE),
    (1, _BASE),
    (2, _BASE.replace("jumps", "leaps")),
    (3, "completely different content about spark partitions and shuffles"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS], "doc_id long, text string"
    )


def test_exact_dedup(spark, docs):
    groups = DD.exact_dedup_groups(docs).collect()
    assert len(groups) == 3  # 0/1 collapse
    by_canon = {r["canonical_doc_id"]: r["n_docs"] for r in groups}
    assert by_canon[0] == 2 and by_canon[2] == 1 and by_canon[3] == 1
    kept = sorted(r["doc_id"] for r in DD.exact_dedup(docs).collect())
    assert kept == [0, 2, 3]


def test_minhash_identical_docs_share_all_bands(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in DD.minhash_lsh_pairs(docs).collect()
    }
    assert pairs[(0, 1)] == DD.NUM_BANDS  # identical → all bands agree
    assert (0, 3) not in pairs and (1, 3) not in pairs  # disjoint never pair
    # near-dup 2 shares at least one band with 0 (probabilistic but
    # deterministic given the fixed hash family — pinned by construction)
    assert (0, 2) in pairs


def test_minhash_lsh_against_corpus(spark, docs):
    from pyspark.sql import Row as R

    batch = spark.createDataFrame(
        [
            R(doc_id=100, text=_BASE),  # exact dup of corpus 0/1
            R(doc_id=101, text=_BASE.replace("jumps", "leaps")),  # near
            R(doc_id=102, text="totally novel text about arrow buffers"),
        ],
        "doc_id long, text string",
    )
    hits = {
        (r["batch_doc_id"], r["corpus_doc_id"]): r["n_shared_bands"]
        for r in DD.minhash_lsh_pairs_against(docs, batch).collect()
    }
    assert hits[(100, 0)] == DD.NUM_BANDS  # identical → all bands
    assert hits[(100, 1)] == DD.NUM_BANDS
    assert (102, 0) not in hits and (102, 3) not in hits  # novel: no hit
    # near-dup batch doc hits its corpus twin (same fixed hash family as
    # the self-join test, so the (0,2)-style collision carries over)
    assert any(b == 101 for (b, c) in hits)
    # cross-form consistency: batch 101 vs corpus 2 are the SAME text, so
    # their pairing mirrors the self-join's identical-doc behavior
    assert hits[(101, 2)] == DD.NUM_BANDS


def test_dedup_clusters_transitive(spark):
    """Pairs (1,2),(2,3) and (5,6) + a long chain: components resolve
    transitively to min-id labels, independent of pair direction."""
    pairs = spark.createDataFrame(
        # component {1,2,3} given indirectly; component {5,6};
        # chain 10-11-12-13-14 exercises multi-round propagation;
        # duplicate, reversed and self pairs change nothing, and a node
        # paired only with itself is a cluster of one
        [(2, 1), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13), (13, 14),
         (2, 1), (1, 2), (6, 5), (14, 13), (3, 3), (20, 20)],
        "doc_a long, doc_b long",
    )
    want = {
        1: 1, 2: 1, 3: 1,
        5: 5, 6: 5,
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
        20: 20,
    }
    # driver_threshold=0 forces the distributed propagation loop; the
    # default takes the driver union-find fast path — same contract
    for threshold in (1_000_000, 0):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in DD.dedup_clusters(
                pairs, driver_threshold=threshold
            ).collect()
        }
        assert got == want, f"driver_threshold={threshold}"


def test_drop_near_duplicates_keeps_canonical_and_singletons(spark, docs):
    pairs = DD.minhash_lsh_pairs(docs)
    clusters = DD.dedup_clusters(pairs)
    kept = sorted(
        r["doc_id"]
        for r in DD.drop_near_duplicates(docs, clusters).collect()
    )
    # 0/1/2 cluster together (identical + near-dup) → canonical 0 survives;
    # 3 never paired → singleton passes through untouched
    assert kept == [0, 3]


def test_simhash_near_dup_hamming(spark, docs):
    h = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    assert h[0] == h[1]
    near = bin(h[0] ^ h[2]).count("1")
    far = bin(h[0] ^ h[3]).count("1")
    assert near < far  # one-word change flips far fewer bits


def test_jaccard_pairs(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.1 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.99, 0.1, 0.0]),   # near 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),    # orthogonal to 0
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),   # opposite of 0
        Row(vec_id=4, embedding=[0.0, 0.0, 0.0]),    # zero vector
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_brute_force_topk(spark, vectors):
    out = SIM.brute_force_topk(
        vectors, vectors.where(F.col("vec_id") == 0), k=4
    ).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1          # closest
    assert ranked[-1] == 3         # opposite direction ranks last
    sims = {r["neighbor_id"]: r["cos_sim"] for r in out}
    assert sims[4] == 0.0          # zero vector → 0 by convention
    assert sims[2] == 0.0


def test_brute_force_large_corpus_requires_explicit_opt_in(spark):
    """A corpus past the broadcast-size heuristic must RAISE without
    allow_full_scan=True — a misjudged 'small' corpus becomes a shuffled
    cartesian silently otherwise (the interval_join raise-loudly
    discipline).  Threshold pinned low so a modest local frame is
    'large' — the same relative-size regime a real corpus imposes."""
    import pytest

    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 2)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        with pytest.raises(ValueError, match="allow_full_scan"):
            SIM.brute_force_topk(emb, q, k=3)
        # the acknowledged path still computes the exact answer
        out = SIM.brute_force_topk(emb, q, k=3, allow_full_scan=True)
        assert out.count() == 2 * 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_unknown_stats_corpus_probed_not_assumed_small(spark):
    """An RDD-backed frame carries the Long.Max defaultSizeInBytes
    sentinel and no input files — the pre-r8 guard treated that as
    'driver-materialized, bounded' and failed OPEN.  The guard now runs
    a bounded limit(N+1) row probe instead: a >10k-row unknown-stats
    corpus must RAISE without allow_full_scan=True."""
    import pytest

    big = spark.createDataFrame(
        spark.range(10_001).withColumnRenamed("id", "vec_id").rdd
    )
    q = big.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="allow_full_scan"):
        SIM.brute_force_topk(big, q, k=3)
    # a genuinely small unknown-stats frame still counts as small
    small = spark.createDataFrame(spark.range(50).rdd)
    from polars_w_inverted_index_spark.operators.similarity import _is_small

    assert _is_small(small)


def test_gemm_topk_matches_expression_path(spark):
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    want = sorted(map(tuple, SIM.brute_force_topk(emb, q, k=5).collect()))
    got = sorted(map(tuple, SIM.brute_force_topk_gemm(emb, q, k=5).collect()))
    assert got == want


def _canon_nan_rows(df):
    """NaN-aware row canon: tuple equality calls NaN != NaN a mismatch,
    and the inf-element edge rows legitimately score NaN identically in
    both twins."""
    rows = [
        tuple("NaN" if isinstance(x, float) and x != x else x for x in r)
        for r in df.collect()
    ]
    return sorted(rows, key=lambda t: tuple(repr(x) for x in t))


def test_gemm_topk_undefined_norm_edges_match_expression(spark):
    """r12 (the _ivf_assign_gemm ADVICE class, applied to the brute
    twins — then CORRECTED by the bad-element fuzz): Spark branches
    undefined norms in two ways the decoded matrix can't distinguish.
    A NULL-ELEMENT vector poisons the expression norm to NULL → the
    `when(norm > 0)` guard falls to its otherwise-0 branch → 0.0.  A
    NaN-ELEMENT (or ±inf-element) vector has a NaN (or inf) norm and
    Spark's `NaN > 0` is TRUE (NaN is its largest double, unlike
    numpy) → the guard PASSES → the score is NaN → ranked FIRST under
    DESC.  The GEMM twin therefore needs the Arrow-validity
    null-element mask for the zero branch and a NaN-first tier in its
    local top-k.  One width everywhere: ragged-vs-query-width rows are
    the documented out-of-contract shape for the brute pair."""
    base = [float((i * 7) % 11 - 5) or 1.0 for i in range(8)]
    corpus = spark.createDataFrame(
        [
            (0, base),
            (1, [-v for v in base]),
            (2, base[:3] + [None] + base[4:]),          # NULL element
            (3, base[:5] + [float("nan")] + base[6:]),  # NaN element
            (4, base[:2] + [float("inf")] + base[3:]),  # inf element
            (5, [0.0] * 8),                              # zero vector
            (6, None),                                   # NULL vector
            (7, [v * 2 for v in base]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [
            (100, base),
            (101, base[:4] + [float("-inf")] + base[5:]),  # inf query
            (102, base[:6] + [None] + base[7:]),           # NULL elem
            (103, [0.0] * 8),                              # zero query
        ],
        "vec_id long, embedding array<double>",
    )
    want = _canon_nan_rows(SIM.brute_force_topk(corpus, queries, k=7))
    got = _canon_nan_rows(SIM.brute_force_topk_gemm(corpus, queries, k=7))
    assert got == want and got
    # the NaN tier is exercised, not vacuously green: BOTH the
    # NaN-element (3) and inf-element (4) corpus rows score NaN for
    # the clean query and rank first, ties by id
    top2 = sorted(
        [t for t in got if t[0] == 100 and t[3] in (1, 2)],
        key=lambda t: t[3],
    )
    assert top2 == [(100, 3, "NaN", 1), (100, 4, "NaN", 2)], got[:8]
    # and the NULL-element corpus row scores 0.0 (the OTHER branch),
    # never NaN, for the clean query
    r2 = [t for t in got if t[0] == 100 and t[1] == 2]
    assert r2 and r2[0][2] == 0.0, r2


def test_jaccard_release_frees_cache_with_dfcut(spark, docs):
    """release_intermediates must unpersist the frame that was actually
    persisted — with max_shingle_freq the shingle frame is rebound after
    persist, and releasing the rebound frame would leak the cache."""
    out = DD.ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_freq=50)
    out.collect()
    cached = out.persisted_intermediates
    assert cached and cached[0].storageLevel.useMemory
    DD.release_intermediates(out)
    assert not cached[0].storageLevel.useMemory


def test_embedding_cosine_gemm_matches_expression_path(spark):
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    want = sorted(
        map(tuple, DD.embedding_cosine_pairs(emb, threshold=0.2).collect())
    )
    got = sorted(
        map(
            tuple,
            DD.embedding_cosine_pairs_gemm(emb, threshold=0.2).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_embedding_cosine_gemm_tiled_scoring_identical(spark):
    """Forcing a tiny score block (3 rows per GEMM slab) must reproduce
    the default (one-slab-per-bucket at this size) output EXACTLY —
    same FP ops per element, just computed in row blocks."""
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    want = sorted(
        map(
            tuple,
            DD.embedding_cosine_pairs_gemm(emb, threshold=0.2).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            DD.embedding_cosine_pairs_gemm(
                emb, threshold=0.2, score_block_rows=3
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_embedding_cosine_gemm_null_vectors_never_emitted(spark):
    """r10 ADVICE: a NULL embedding used to sail through _bucketize
    (zero signature, vec passed through) and blow up deep in _pairs
    (np.asarray(None)).  The expression twin's NULL signature yields a
    NULL bucket that SQL join equality never matches — so the GEMM
    path must likewise drop NULL vectors: no crash, no pair involving
    the null id, and identical output to the twin on the same frame."""
    emb = spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") % 4 != 3,
            F.array(
                (F.col("id") % 3).cast("double") + 1.0,
                (F.col("id") % 5).cast("double"),
            ),
        ).alias("embedding"),  # ids 3, 7, 11 are NULL
    )
    got = DD.embedding_cosine_pairs_gemm(emb, threshold=0.2).collect()
    null_ids = {3, 7, 11}
    assert got, "non-null near-identical vectors must still pair"
    assert all(
        r["doc_a"] not in null_ids and r["doc_b"] not in null_ids
        for r in got
    )
    want = sorted(
        map(tuple, DD.embedding_cosine_pairs(emb, threshold=0.2).collect())
    )
    assert sorted(map(tuple, got)) == want


def test_embedding_cosine_gemm_hot_bucket_raises(spark):
    """A bucket over max_bucket_rows = one task absorbing an O(m^2)
    score pass nothing sized for.  Identical vectors all land in the
    same LSH-prefix bucket — the guard must raise loudly, naming the
    prefix_bits dial."""
    import pytest
    from pyspark.errors import PythonException

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.5)).alias("embedding"),
    )
    with pytest.raises(PythonException, match="prefix_bits"):
        DD.embedding_cosine_pairs_gemm(
            emb, threshold=0.9, max_bucket_rows=10
        ).collect()


def test_ivf_topk_recall(spark):
    # real-ish fixture: the driver embeddings at sf0.001
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, q, k=5).collect()
    }
    got = SIM.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=8).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in got}
    # every query answered with k well-formed rows
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    # drift-proof bounds (no fixed recall threshold on regenerated
    # embeddings): recall is monotone in nprobe (candidate supersets),
    # and probing EVERY cell makes IVF exactly brute force (same
    # rounding, same tie order)
    half = len(exact & approx) / len(exact)
    fewer = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=2).collect()
    }
    assert len(exact & fewer) / len(exact) <= half
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_topk(
            emb, q, k=5, n_centroids=16, nprobe=16
        ).collect()
    }
    assert full == exact


def test_lsh_topk_agrees_on_identicalish(spark, vectors):
    out = SIM.lsh_bucketed_topk(
        vectors, vectors.where(F.col("vec_id") == 0), k=4, prefix_bits=2
    ).collect()
    # LSH is approximate: assert the near-identical vector is found when
    # any candidates share the bucket, and results are well-formed
    for r in out:
        assert r["query_id"] == 0 and r["neighbor_id"] != 0
    if out:
        best = min(out, key=lambda r: r["rank"])
        assert best["neighbor_id"] in (1, 2, 4)


def test_dedup_clusters_random_graphs_match_bfs(spark):
    """Property check: on random edge sets, both execution paths agree
    with an independent BFS connected-components reference."""
    import random

    rng = random.Random(20240813)
    for trial in range(4):
        n_nodes = rng.randint(2, 40)
        n_edges = rng.randint(1, 60)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        # BFS reference
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for start in adj:
            if start in want:
                continue
            comp, queue = {start}, [start]
            while queue:
                for nb in adj[queue.pop()]:
                    if nb not in comp:
                        comp.add(nb)
                        queue.append(nb)
            label = min(comp)
            for node in comp:
                want[node] = label
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        for threshold in (1_000_000, 0):
            got = {
                r["doc_id"]: r["cluster_id"]
                for r in DD.dedup_clusters(
                    pairs, driver_threshold=threshold
                ).collect()
            }
            assert got == want, f"trial={trial} threshold={threshold}"


def test_recall_at_k_measures_ann_paths(spark):
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(emb, q, k=10)
    # exact vs itself: perfect recall
    [perfect] = SIM.recall_at_k(exact, exact).collect()
    assert perfect["n_queries"] == 5
    assert perfect["mean_recall"] == 1.0 and perfect["min_recall"] == 1.0
    # IVF against brute force: recall in (0, 1], measured not guessed
    approx = SIM.ivf_topk(emb, q, k=10)
    [r] = SIM.recall_at_k(approx, exact).collect()
    assert r["n_queries"] == 5
    assert 0.0 < r["mean_recall"] <= 1.0
    # an empty approximate result scores 0, not a crash
    [zero] = SIM.recall_at_k(approx.where(F.lit(False)), exact).collect()
    assert zero["mean_recall"] == 0.0


def test_simhash_pairs_banded(spark, docs):
    """Banded SimHash pairing: identical docs pair at hamming 0,
    near-dups at small hamming, disjoint docs never pair; pigeonhole
    precondition enforced."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in DD.simhash_pairs(docs, max_hamming=10, n_bands=12).collect()
    }
    assert pairs[(0, 1)] == 0                       # identical
    assert (0, 2) in pairs and pairs[(0, 2)] > 0    # near-dup, few bits
    assert (0, 3) not in pairs and (1, 3) not in pairs
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_pairs(docs, n_bands=4, max_hamming=4)


def test_simhash_pairs_pigeonhole_complete(spark, docs):
    """Within the guarantee (hamming < n_bands), banding must find
    EVERY pair that a brute-force hamming scan finds."""
    h = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    ids = sorted(h)
    n_bands, max_h = 12, 11
    want = {
        (a, b): bin(h[a] ^ h[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(h[a] ^ h[b]).count("1") <= max_h
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in DD.simhash_pairs(
            docs, n_bands=n_bands, max_hamming=max_h
        ).collect()
    }
    assert got == want


def test_exact_dedup_against_corpus(spark, docs):
    from pyspark.sql import Row as R

    batch = spark.createDataFrame(
        [
            R(doc_id=100, text=_BASE),          # exact dup of corpus 0/1
            R(doc_id=101, text="brand new content never seen before"),
        ],
        "doc_id long, text string",
    )
    kept = [
        r["doc_id"]
        for r in DD.exact_dedup_against(docs, batch).collect()
    ]
    assert kept == [101]


def test_jaccard_pairs_against_corpus(spark, docs):
    from pyspark.sql import Row as R

    batch = spark.createDataFrame(
        [
            R(doc_id=200, text=_BASE),                       # dup of 0/1
            R(doc_id=201, text=_BASE.replace("dog", "wolf")),  # near-dup
            R(doc_id=202, text="unrelated words entirely here today"),
        ],
        "doc_id long, text string",
    )
    hits = {
        (r["batch_doc_id"], r["corpus_doc_id"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs_against(
            docs, batch, threshold=0.1
        ).collect()
    }
    assert hits[(200, 0)] == 1.0 and hits[(200, 1)] == 1.0
    assert 0.1 <= hits[(201, 0)] < 1.0
    assert not any(b == 202 for (b, c) in hits)
    # against-form agrees with the self-join form on the same logical
    # pair set: batch 200 ≡ corpus 0, so its (200, 2) jaccard equals the
    # self-join's (0, 2) jaccard
    self_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert hits[(200, 2)] == self_pairs[(0, 2)]


def test_embedding_cosine_pairs_against_corpus(spark):
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    got = {
        (r["batch_vec_id"], r["corpus_vec_id"]): r["cos_sim"]
        for r in DD.embedding_cosine_pairs_against(
            corpus, batch, threshold=0.2
        ).collect()
    }
    # consistency with the self-join form restricted to cross pairs
    want = {}
    for r in DD.embedding_cosine_pairs(emb, threshold=0.2).collect():
        a, b = r["doc_a"], r["doc_b"]
        if a % 2 == 0 and b % 2 == 1:
            want[(b, a)] = r["cos_sim"]
        elif a % 2 == 1 and b % 2 == 0:
            want[(a, b)] = r["cos_sim"]
    assert got == want and len(got) > 0


def test_hyperplane_signature_prefix_semantics(spark):
    """A vector LONGER than n_dims signs on its first n_dims entries —
    not a null-poisoned signature (zip_with pads the shorter side with
    nulls; both sides must be sliced).  Matches the GEMM path's
    truncation and the DuckDB twin's least(length, n_dims)."""
    from polars_w_inverted_index_spark.operators.similarity import (
        hyperplane_signature,
    )

    vals = [float((i * 7) % 11 - 5) for i in range(100)]
    wide = spark.createDataFrame(
        [(1, vals)], "vec_id long, embedding array<double>"
    )
    prefix = spark.createDataFrame(
        [(1, vals[:64])], "vec_id long, embedding array<double>"
    )
    s_wide = hyperplane_signature(wide, n_dims=64).first()["sig"]
    s_prefix = hyperplane_signature(prefix, n_dims=64).first()["sig"]
    assert s_wide is not None
    assert s_wide == s_prefix


def test_hyperplane_signature_gemm_twin(spark):
    """The GEMM signature pass (lsh_bucketed_topk's serving path since
    r11) must equal the expression form SIG-FOR-SIG — on the real
    embeddings table AND on the edge shapes the expression form defines
    semantics for: NULL vec → sig 0 (row KEPT — unlike dedup's
    _bucketize, which drops), empty / all-zero → 0, short vec ==
    zero-pad == the prefix-slice rule, wide vec truncates at n_dims.
    The mixed-width frame also forces the per-row ragged scatter branch
    (a uniform frame takes the one-reshape fast path)."""
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    want = {
        r["vec_id"]: r["sig"]
        for r in SIM.hyperplane_signature(emb).collect()
    }
    got = {
        r["vec_id"]: r["sig"]
        for r in SIM.hyperplane_signature_gemm(emb).collect()
    }
    assert got == want and len(got) == emb.count()

    vals = [float((i * 7) % 11 - 5) for i in range(100)]
    edge = spark.createDataFrame(
        [
            (1, vals[:64]),
            (2, None),
            (3, []),
            (4, vals[:10]),
            (5, [0.0] * 64),
            (6, vals),  # wide: truncates at n_dims
            (7, vals[:30] + [None] + vals[31:64]),  # NULL ELEMENT → sig 0
            (8, vals[:20] + [float("nan")] + vals[21:64]),  # NaN ELEMENT
            # → every plane's fold is NaN and Spark's NaN > 0 is TRUE
            # (r12) → ALL bits set, the opposite branch from NULL
            (9, vals[:20] + [float("inf")] + vals[21:64]),  # inf elem
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)  # one batch → NULL+ragged exercise one scatter pass

    def _sig_emb(df):
        out = {}
        for r in df.collect():
            emb = r["embedding"]
            canon = (
                None
                if emb is None
                else tuple("NaN" if x != x else x for x in emb)
            )
            out[r["vec_id"]] = (r["sig"], canon)
        return out

    w = _sig_emb(SIM.hyperplane_signature(edge))
    g = _sig_emb(SIM.hyperplane_signature_gemm(edge))
    assert g == w  # sigs AND the passed-through embeddings
    assert g[2][0] == 0 and g[2][1] is None  # NULL row kept, sig 0
    assert g[6][0] == g[1][0]  # wide == prefix
    assert g[7][0] == 0  # NULL element poisons the fold → sig 0
    assert g[8][0] == (1 << 16) - 1  # NaN element → every bit set


def test_ivf_assign_gemm_twin(spark):
    """ivf_topk's GEMM cell assignment (default since r11) must produce
    the SAME final result frame as the pure-expression assign — on the
    real embeddings table and on an edge corpus exercising every branch
    the expression form defines: a ragged centroid (width mismatch →
    NULL ccos, ranks last), a zero-norm centroid and a zero-norm row
    (→ ccos 0.0 via the otherwise-branch), a ragged and a wide row, and
    a NULL query vector (scores 0.0 everywhere, probes the lowest
    cids)."""
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    want = sorted(
        map(tuple, SIM.ivf_topk(emb, q, k=5, assign="expr").collect())
    )
    got = sorted(
        map(tuple, SIM.ivf_topk(emb, q, k=5, assign="gemm").collect())
    )
    assert got == want and got

    vals = [float((i * 7) % 11 - 5) or 1.0 for i in range(100)]
    rows = [
        (0, vals[:64]),            # centroid 0
        (1, [-v for v in vals[:64]]),  # centroid 1
        (2, vals[:32]),            # centroid 2: RAGGED width
        (3, [0.0] * 64),           # centroid 3: zero norm
        (4, vals[16:80]),
        (5, [v * 0.5 for v in vals[:64]]),
        (6, vals[:10]),            # ragged row
        (7, vals),                 # wide row (100)
        (8, [0.0] * 64),           # zero-norm row
        (9, [-v * 2 for v in vals[8:72]]),
        (10, vals[:20] + [None] + vals[21:64]),  # NULL ELEMENT row:
        # the expression guard's NULL norm → ccos 0.0 everywhere; the
        # GEMM zero branch is null_elem | (norm == 0), the null flag
        # from the Arrow validity bitmap (r12 — NULL and NaN elements
        # both decode to NaN but Spark branches them apart)
        (11, vals[:40] + [float("inf")] + vals[41:64]),  # INF element:
        # norm inf passes the >0 guard in BOTH twins, cosines are NaN
        # (inf/inf) — Spark ranks NaN ABOVE every double under DESC, so
        # the GEMM sort key is tiered NaN < value < NULL (r11 ADVICE)
        (12, [float("-inf")] * 64),
        (13, vals[:7] + [float("nan")] + vals[8:64]),  # NaN ELEMENT:
        # unlike a NULL element, Spark's guard PASSES (NaN > 0 is TRUE
        # there) and the ccos is NaN — the NaN tier again, NOT the
        # zero branch (r12 bad-element fuzz finding)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [
            (100, vals[:64]),
            (101, None),
            (102, vals[:20]),
            (103, [0.0] * 64),
            (104, vals[:40] + [None] + vals[41:64]),  # NULL element
            (105, vals[:30] + [float("inf")] + vals[31:64]),  # INF:
            # ccos NaN vs every centroid → NaN tier ranks first in
            # both twins, ties by cid asc → probes the lowest cids
            (106, [float("inf")] * 64),
            (107, vals[:15] + [float("nan")] + vals[16:64]),  # NaN
            # element: guard passes in Spark (NaN > 0 TRUE) → NaN
            # ccos → NaN tier, NOT the NULL-element zero branch
        ],
        "vec_id long, embedding array<double>",
    )
    kw = dict(k=3, n_centroids=4, nprobe=2)

    def canon(df):
        # NaN-aware row comparison: the inf-element rows legitimately
        # produce NaN cos_sim (identically in both twins), and tuple
        # equality would call NaN != NaN a mismatch
        rows = [
            tuple(
                "NaN" if isinstance(x, float) and x != x else x
                for x in r
            )
            for r in df.collect()
        ]
        return sorted(rows, key=lambda t: tuple(repr(x) for x in t))

    w2 = canon(SIM.ivf_topk(corpus, queries, assign="expr", **kw))
    g2 = canon(SIM.ivf_topk(corpus, queries, assign="gemm", **kw))
    assert g2 == w2
    # the inf-element query's NaN cosines rank FIRST in both twins
    # (Spark: NaN above every double under DESC) — presence proves the
    # NaN tier is exercised, not vacuously green
    assert any(t[0] == 105 and t[2] == "NaN" for t in g2), g2[-8:]


def test_embedding_cosine_gemm_null_element_vectors_never_pair(spark):
    """r11.5/r12: a vector with a NULL, NaN or ±inf ELEMENT has an
    undefined cosine — the GEMM path drops it in the signature pass
    (one isfinite sweep), and the expression form agrees observably:
    NULL elements score 0.0 through the when(norm > 0) guard (below
    the validated positive threshold), while NaN/inf elements — whose
    NaN cosine Spark's `>=` would EMIT, NaN being its largest double —
    are dropped up front by _drop_nonfinite_element_vectors."""
    base = [float((i * 3) % 7 - 3) or 1.0 for i in range(8)]
    rows = [
        (0, base),
        (1, list(base)),                 # exact dup of 0 → must pair
        (2, base[:3] + [None] + base[4:]),   # NULL element
        (3, base[:5] + [float("nan")] + base[6:]),  # NaN element
        # NaN PAST the n_dims signature prefix (r11.5 review): the
        # sweep must see the full width — the pairwise cosine is
        # full-width, so this row's cosine is undefined even though
        # its 8-dim signature prefix is clean
        (4, base + [float("nan")]),
        # r12: ±INF elements are the same undefined-cosine class, but
        # they PASS the when(norm > 0) guard (norm inf) and score NaN,
        # which Spark's `>=` treats as larger than any threshold — the
        # expression twin now drops them explicitly
        # (_drop_nonfinite_element_vectors) and the GEMM sweep is isfinite
        (5, base[:2] + [float("inf")] + base[3:]),
        (6, base + [float("-inf")]),  # inf past the signature prefix
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for fn in (DD.embedding_cosine_pairs_gemm, DD.embedding_cosine_pairs):
        got = fn(emb, threshold=0.5, n_dims=8).collect()
        ids = {i for r in got for i in (r["doc_a"], r["doc_b"])}
        assert ids == {0, 1}, (fn.__name__, got)


def test_embedding_cosine_threshold_must_be_positive(spark):
    """r11 ADVICE: the undefined-cosine no-pair rule only coincides
    across the twins for threshold > 0 (the expression form scores
    NULL/NaN-element rows 0.0 and would EMIT them at threshold <= 0;
    the GEMM form drops them in the signature pass).  All three forms
    must refuse a non-positive threshold LOUDLY at plan-build time —
    before any job runs."""
    import pytest

    emb = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    for bad in (0.0, -0.5, float("nan")):
        with pytest.raises(ValueError, match="threshold must be > 0"):
            DD.embedding_cosine_pairs(emb, threshold=bad)
        with pytest.raises(ValueError, match="threshold must be > 0"):
            DD.embedding_cosine_pairs_gemm(emb, threshold=bad)
        with pytest.raises(ValueError, match="threshold must be > 0"):
            DD.embedding_cosine_pairs_against(emb, emb, threshold=bad)


def test_ivf_gemm_centroid_seed_guard(spark):
    """gemm-mode ivf_topk collects the centroid seed to the driver;
    with a NEGATIVE id space `id < n_centroids` matches far more than
    n_centroids rows, and the collect must raise loudly instead of
    pulling an arbitrary corpus slice (r11 review finding)."""
    import pytest

    vals = [float(i % 7 - 3) or 1.0 for i in range(64)]
    corpus = spark.createDataFrame(
        [(-i, vals) for i in range(1, 20)],
        "vec_id long, embedding array<double>",
    )
    q = corpus.limit(2)
    with pytest.raises(ValueError, match="dense non-negative"):
        SIM.ivf_topk(corpus, q, k=2, n_centroids=4, assign="gemm")

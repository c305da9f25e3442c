"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all shuffle-aware and expressed as DataFrame plans (no
driver-side loops, no Python hot paths):

- :func:`exact_dedup_groups` — hash-groupBy on md5(text).  One shuffle on
  the 128-bit content hash; at 100 TB hash keys are uniformly distributed
  so no skew.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: shingle → k min-hashes → b bands → bucket join.  The candidate
  join is on (band_idx, band_hash) — only documents sharing a band bucket
  ever meet, which is what bounds the pair explosion at scale.
- :func:`simhash` — 60-bit sign-aggregate fingerprint; near-dups differ in
  few bits.
- :func:`ngram_jaccard_pairs` — exact Jaccard over word-shingle sets via a
  shingle co-occurrence join (never a cross join: pairs are generated only
  for docs sharing ≥1 shingle, then filtered by threshold).
- :func:`embedding_cosine_pairs` — near-dup by embedding cosine over
  candidate pairs from the same co-occurrence pattern or brute force for
  small dims (see operators/similarity.py for the ANN path).

All hashes are the cross-engine 60-bit md5 prefix (functions/hashing.py) so
the DuckDB oracle can reproduce every pipeline bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    UH_PRIME,
    md5_long,
    uh_base,
    uh_params,
)
from ..functions.pickling import guard_import_caches
from ..functions.text import tokens, word_shingles
from ..functions.vectors import cosine_with_norms, norm

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups by exact content hash.

    Returns ``[text_hash, canonical_doc_id, n_docs]`` — canonical = min id.
    ``dropDuplicates`` on the hash would pick an arbitrary survivor; min-id
    is deterministic, which the oracle (and reproducible pipelines) need.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def exact_dedup_against(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Drop batch rows whose exact content already exists in the corpus —
    the ingest-time twin of :func:`exact_dedup` (cf.
    :func:`minhash_lsh_pairs_against` for the near-dup form).  One
    left-anti join on the uniform 128-bit content hash; with a
    materialized corpus-hash table this is the constant-cost per-batch
    membership check production ingest pipelines run."""
    ch = F.md5(F.col(text_col)).alias("_ch")
    seen = corpus.select(ch).distinct()
    b = batch.withColumn("_ch", F.md5(F.col(text_col)))
    return b.join(seen, "_ch", "left_anti").drop("_ch")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly the canonical (min-id) row per distinct text."""
    # Left-semi against the canonical-id set; at scale this is a shuffle
    # join on doc_id (the survivor set is O(rows), never broadcastable).
    w = exact_dedup_groups(df, text_col, id_col).select("canonical_doc_id")
    return df.join(w, df[id_col] == w["canonical_doc_id"], "leftsemi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

NUM_HASHES = 16  # k
NUM_BANDS = 4    # b; rows per band r = k/b = 4


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    shingle_k: int = 3,
) -> DataFrame:
    """``[doc_id, sig: array<long>]`` — sig[j] = min over shingles of
    h_j(shingle), h_j from the universal family (a_j·md5(s) + b_j) mod p.

    Plan shape: explode shingles → ONE md5 per shingle row → groupBy(doc_id)
    with ``num_hashes`` integer min-aggregates.  One shuffle on doc_id with
    map-side partial mins, so per-shingle work is a single hash plus k
    multiply-adds — not k md5 pipelines.  (Higher-order-function transforms
    can't CSE the shared md5 across k expressions, which made the purely
    narrow formulation ~16× slower; the shuffle is the cheaper trade.)

    r14 (guide §2.5 input skew): the shingle+hash stage is CPU-bound and
    runs in the SCAN stage — a small single-file corpus arrives as one
    partition and serializes it onto one core no matter the cluster
    width.  ``ensure_parallelism`` fans the projected (id, text) rows
    out first; it is a no-op whenever the scan already supplies at least
    cluster-parallelism partitions (the 100 TB case).
    """
    from ..plans.distribution import ensure_parallelism

    hs = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    ).select(
        "doc_id",
        F.explode(word_shingles("_t", shingle_k)).alias("s"),
    ).select("doc_id", uh_base(F.col("s")).alias("h"))
    # r15 (guide §4): the k min-aggregates in ONE parsed SQL string —
    # the Column-API loop was ~150 py4j round trips of pure plan
    # construction per call; the parsed tree (k min states, same
    # universal-hash arithmetic via pmod) is identical.
    sig = F.expr(
        "array(" + ", ".join(
            "min(pmod(h * {a}L + {b}L, {p}))".format(
                a=uh_params(j)[0], b=uh_params(j)[1], p=UH_PRIME
            )
            for j in range(num_hashes)
        ) + ")"
    )
    return hs.groupBy("doc_id").agg(sig.alias("sig"))


def _lsh_bands(sigs: DataFrame, num_bands: int, r: int) -> DataFrame:
    """``[doc_id, band_idx, band_hash]`` — each signature exploded into
    its banded hashes (band_hash = md5 of that band's r signature mins)."""
    # r15 (guide §4): one parsed SQL string instead of ~60 py4j calls
    # of Column construction; identical tree (struct aliases included).
    bands = ", ".join(
        "struct({b} AS band_idx, md5(concat_ws(',', {parts}))"
        " AS band_hash)".format(
            b=b,
            parts=", ".join(
                f"cast(element_at(sig, {b * r + i + 1}) as string)"
                for i in range(r)
            ),
        )
        for b in range(num_bands)
    )
    return sigs.select(
        "doc_id",
        F.explode(F.expr(f"array({bands})")).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs_against(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup candidates of a NEW batch AGAINST an existing corpus:
    ``[batch_doc_id, corpus_doc_id, n_shared_bands]`` — the incremental-
    ingest dedup shape (drop batch docs that near-duplicate anything
    already ingested) as opposed to :func:`minhash_lsh_pairs`' within-
    corpus self-join.

    Scale shape: both sides band independently (narrow + one shuffle
    each); the bucket join is batch-bands against corpus-bands on
    (band_idx, band_hash) — with a small batch, AQE converts it to a
    broadcast of the batch side, so the corpus is never reshuffled per
    ingest.  Corpus signatures are a pure function of content, so at
    fleet scale you materialize the corpus band table once and reuse it
    per batch (same contract as the postings IndexCatalog)."""
    r = num_hashes // num_bands
    cb = _lsh_bands(
        minhash_signatures(corpus, text_col, id_col, num_hashes, shingle_k),
        num_bands, r,
    ).alias("c")
    bb = _lsh_bands(
        minhash_signatures(batch, text_col, id_col, num_hashes, shingle_k),
        num_bands, r,
    ).alias("n")
    return (
        bb.join(
            cb,
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .groupBy(
            F.col("n.doc_id").alias("batch_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs ``[doc_a, doc_b, n_shared_bands]``.

    Scale shape: signatures (narrow) → explode to (band_idx, band_hash,
    doc_id) (×b rows) → self-join per bucket.  The join key (band_idx,
    band_hash) is high-cardinality, so the shuffle is uniform; a bucket
    holding m docs yields m·(m-1)/2 pairs, which is the algorithm's
    intrinsic output, not a plan artifact."""
    r = num_hashes // num_bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    bands = _lsh_bands(sigs, num_bands, r)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


# ---------------------------------------------------------------------------
# Pair resolution: connected components → duplicate clusters
# ---------------------------------------------------------------------------

def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Resolve duplicate PAIRS into duplicate CLUSTERS:
    ``[doc_id, cluster_id]`` where ``cluster_id`` is the minimum doc_id of
    the connected component — the deterministic canonical survivor.

    Every pair-producing dedup operator in this module (MinHash-LSH,
    n-gram Jaccard, embedding cosine) emits edges; an actual pipeline must
    then keep ONE document per transitively-connected group, which is
    connected components.  Implementation is iterative min-label
    propagation (the join form of hash-to-min): each round every node
    takes the min label over itself and its neighbors — one shuffle join
    (labels ⋈ edges) plus one groupBy-min per round, converging in
    O(component diameter) rounds.  Near-dup components are star/clique
    shaped (a template and its variants), so 2-4 rounds in practice;
    ``max_iter`` bounds pathological chains.

    Scale notes: edges and labels shuffle on uniform id keys — no hot
    key beyond what the pair generator already bounded (its bucketing is
    the skew control).  ``localCheckpoint`` truncates lineage each round
    so the plan doesn't double per iteration — the standard Spark
    iterative-graph pattern (GraphFrames connected components does the
    same); convergence detection costs one count() action per round.
    Only nodes appearing in some pair are returned — singletons are
    "clusters of one" and never needed rows to begin with.

    Hybrid execution: the duplicate-edge set is orders of magnitude
    smaller than the corpus (it is the pair generator's OUTPUT, already
    bounded by its bucketing), so when it fits comfortably on the driver
    (≤ ``driver_threshold`` edges) the components are solved with a
    single Arrow collect + path-compressed union-find — O(E·α) with no
    per-round job scheduling.  ``driver_threshold`` counts the pairs as
    given (duplicates and both orientations included).  Beyond it the
    distributed propagation loop runs over the symmetric, distinct edge
    set.  Same contract either way; the production
    pattern for dedup graphs, where a 100 TB corpus commonly yields
    merely millions of near-dup edges.
    """
    src = F.col(a_col).cast("long").alias("src")
    dst = F.col(b_col).cast("long").alias("dst")
    spark = pairs.sparkSession
    # r15 (guide §1.2/§5, r14 VERDICT task 5): ONE action decides the
    # path AND fetches the edges — the bounded limit+collect replaces
    # the old checkpoint→count→collect triple (three driver round
    # trips), and the common case (dedup edge sets are orders of
    # magnitude smaller than the corpus) never materializes a
    # checkpoint it immediately re-reads.  The limited table is used
    # ONLY when it is provably the complete edge set.  Union-find is
    # blind to edge order and duplicates, so the pairs go as given.
    tbl = pairs.select(src, dst).limit(driver_threshold + 1).toArrow()
    if tbl.num_rows <= driver_threshold:
        return _union_find_on_driver(spark, tbl)
    # label propagation follows edges src → dst: make them symmetric
    edges = (
        pairs.select(src, dst)
        .union(pairs.select(dst.alias("src"), src.alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(
        F.col("src").alias("node"), F.col("src").alias("label")
    ).distinct()
    for _ in range(max_iter):
        nbr = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), F.col("label"))
        new_labels = (
            labels.union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # labels are monotone non-increasing: any strict decrease means
        # another round may still propagate further
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") < F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _union_find_on_driver(spark, tbl) -> DataFrame:
    """Path-compressed union-find over an Arrow-collected edge table;
    the root of every set is its minimum id, so root == cluster_id."""
    srcs = tbl.column("src").to_pylist()
    dsts = tbl.column("dst").to_pylist()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(srcs, dsts):
        ra, rb = find(a), find(b)
        if ra != rb:  # min-id wins the root, keeping root == cluster_id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, "doc_id long, cluster_id long")


def drop_near_duplicates(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one document per duplicate cluster: rows absent from
    ``clusters`` (singletons) pass through; clustered rows survive only
    if they ARE the canonical (min-id) member.  One shuffle join on the
    uniform id key."""
    losers = clusters.where(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias("_loser"))
    return df.join(
        losers, df[id_col] == losers["_loser"], "left_anti"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``[doc_id, simhash: long]`` — per-bit majority vote over token
    hashes (token multiplicity counts).  Computed via explode + groupBy
    with ``bits`` conditional sums: one shuffle on doc_id, partial
    aggregation map-side, so cost is O(tokens) regardless of doc size.

    r14 (guide §2.5): tokenize+hash fans out of a single-partition scan
    first (no-op at scale) — see :func:`minhash_signatures`.

    r15 (guide §4, r14 VERDICT task 6): the ``bits`` vote aggregates +
    the packing projection are built as ONE SQL string parsed in a
    single JVM call — the Column-API form was ~480 py4j round trips at
    ~1 ms each, ~1.5 s of driver-side PLAN CONSTRUCTION per call (the
    row's floor was 1.8 s: the tax, not the tokens, was the cost).
    Identical expression tree after parsing — same one-Exchange plan,
    same 60 sum states, same values."""
    from ..plans.distribution import ensure_parallelism

    tok = (
        ensure_parallelism(
            df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
            )
        )
        .select("doc_id", F.explode(tokens("_t")).alias("tok"))
        .withColumn("h", md5_long(F.col("tok")))
    )
    vote = (
        "sum(case when (shiftright(h, {j}) & 1) = 1 then 1 else -1 end)"
    )
    packed = " + ".join(
        f"(case when {vote.format(j=j)} > 0"
        f" then cast({1 << j} as bigint) else cast(0 as bigint) end)"
        for j in range(bits)
    )
    return tok.groupBy("doc_id").agg(F.expr(packed).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs ``[doc_a, doc_b, hamming]`` by SimHash distance,
    with banded candidate generation (the Charikar/Google web-dedup
    construction): split each ``bits``-bit fingerprint into ``n_bands``
    contiguous slices — two fingerprints within hamming distance
    ``d < n_bands`` must agree EXACTLY on at least one slice
    (pigeonhole), so sharing a (band_idx, band_value) bucket is a
    complete candidate generator, never a guess.  Exact
    ``bit_count(a XOR b) <= max_hamming`` then filters candidates.

    Requires ``max_hamming < n_bands`` (the pigeonhole condition) —
    raising ``max_hamming`` therefore means more bands → shorter band
    slices → more candidates: the usual recall/cost dial, but here it
    trades COST, not recall (the guarantee is exact at any setting).

    Scale shape mirrors :func:`minhash_lsh_pairs`: fingerprints are one
    doc_id shuffle, banding is a narrow ×n_bands explode, candidates a
    bucket equi-join on (band_idx, band_value) — a band bucket of m
    docs yields m²/2 candidate checks, bounded by band width (add bits
    or bands for finer buckets at larger corpora)."""
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"need 0 <= max_hamming < n_bands for the pigeonhole "
            f"guarantee, got max_hamming={max_hamming} n_bands={n_bands}"
        )
    sh = simhash(df, text_col, id_col, bits)
    w = bits // n_bands
    widths = [w + (1 if i < bits % n_bands else 0) for i in range(n_bands)]
    offs = [sum(widths[:i]) for i in range(n_bands)]
    # r15 (guide §4): single parsed SQL string (see _lsh_bands)
    band_arr = ", ".join(
        f"struct({i} AS band_idx,"
        f" (shiftright(simhash, {offs[i]}) & {(1 << widths[i]) - 1})"
        f" AS band_val)"
        for i in range(n_bands)
    )
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"array({band_arr})")).alias("b"),
    ).select("doc_id", "simhash", "b.band_idx", "b.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(ham <= max_hamming)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.min(ham).alias("hamming"))
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    persist_intermediate: bool = True,
) -> DataFrame:
    """Exact Jaccard similarity pairs ``[doc_a, doc_b, jaccard]`` over
    distinct word-shingle sets, threshold-filtered.

    The persisted shingle frame is exposed on the result as
    ``result.persisted_intermediates``; call :func:`release_intermediates`
    (or ``.unpersist()`` each) once the result is materialized — otherwise
    the cached blocks live for the session (bounded by LRU eviction, but a
    leak across repeated calls).

    Never a cross join: docs are paired through a shingle co-occurrence
    join (shingle → docs holding it), so disjoint documents cost nothing.
    At 100 TB the one watch-out is ultra-common shingles (stop phrases)
    creating hot shingle keys — ``max_shingle_freq`` drops shingles that
    occur in more than that many docs (standard df-cut in near-dup
    pipelines), bounding every co-occurrence bucket."""
    # 60-bit integer shingle keys: an 8-byte join/shuffle key instead of a
    # 32-char md5 string (collision odds ~n²/2^61 — nil at any corpus size
    # where exact jaccard is still the right tool).
    # r14 (guide §2.5): shingle+hash fans out of a single-partition scan
    # first (no-op at scale) — see minhash_signatures.
    from ..plans.distribution import ensure_parallelism

    sh = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    ).select(
        "doc_id",
        F.explode(word_shingles("_t", shingle_k)).alias("shingle"),
    ).select("doc_id", md5_long(F.col("shingle")).alias("sh"))
    persisted: list[DataFrame] = []
    if persist_intermediate:
        # the shingle frame feeds three plan branches (both self-join sides
        # + the sizes agg); without persistence the tokenize→shingle→hash
        # pipeline — interpreted higher-order exprs — runs three times.
        # MEMORY_AND_DISK: spills instead of OOM at scale.
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
        # keep the handle NOW: `sh` is rebound below when the df-cut is on,
        # and unpersisting the rebound (never-persisted) frame is a no-op
        # that leaks the cache
        persisted.append(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if max_shingle_freq is not None:
        # df-cut: shingles in more than max_shingle_freq docs carry no
        # near-dup signal but dominate the co-occurrence join (a shingle in
        # m docs emits m²/2 candidate pairs).  NOTE sizes are computed
        # BEFORE the cut, so the jaccard denominator stays exact; the cut
        # only prunes which pairs can be discovered — standard recall
        # trade of df-cut near-dup pipelines.
        rare = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_shingle_freq)
            .select("sh")
        )
        sh = sh.join(rare, "sh")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    result = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    result.persisted_intermediates = persisted
    return result


def release_intermediates(df: DataFrame) -> None:
    """Unpersist intermediates attached by :func:`ngram_jaccard_pairs`
    (no-op for frames without any)."""
    for cached in getattr(df, "persisted_intermediates", []):
        cached.unpersist()


def ngram_jaccard_pairs_against(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact-Jaccard near-dups of a NEW batch AGAINST a corpus:
    ``[batch_doc_id, corpus_doc_id, jaccard]`` — the incremental-ingest
    twin of :func:`ngram_jaccard_pairs` (cf. the exact/minhash
    ``_against`` forms).  Candidates come from a batch-shingles ⋈
    corpus-shingles co-occurrence join (never a cross join; with a small
    batch AQE broadcasts the batch side, so the corpus is not
    reshuffled); the optional df-cut drops stop-phrase shingles on the
    CORPUS side, where the hot keys are, while denominators stay exact
    because sizes are counted before the cut."""
    from ..plans.distribution import ensure_parallelism

    def _sh(df):
        # r14 (guide §2.5): fan shingle+hash out of a single-partition
        # scan (no-op at scale / on already-wide micro-batch frames)
        return ensure_parallelism(
            df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
            )
        ).select(
            "doc_id",
            F.explode(word_shingles("_t", shingle_k)).alias("shingle"),
        ).select("doc_id", md5_long(F.col("shingle")).alias("sh"))

    cs, bs = _sh(corpus), _sh(batch)
    c_sizes = cs.groupBy("doc_id").agg(F.count("*").alias("nc"))
    b_sizes = bs.groupBy("doc_id").agg(F.count("*").alias("nb"))
    if max_shingle_freq is not None:
        rare = (
            cs.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_shingle_freq)
            .select("sh")
        )
        cs = cs.join(rare, "sh")
    inter = (
        bs.alias("b")
        .join(cs.alias("c"), F.col("b.sh") == F.col("c.sh"))
        .groupBy(
            F.col("b.doc_id").alias("batch_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            b_sizes.select(
                F.col("doc_id").alias("batch_doc_id"), "nb"
            ),
            "batch_doc_id",
        )
        .join(
            c_sizes.select(
                F.col("doc_id").alias("corpus_doc_id"), "nc"
            ),
            "corpus_doc_id",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("nb") + F.col("nc") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("batch_doc_id", "corpus_doc_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _drop_nonfinite_element_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """The expression side of the undefined-cosine no-pair rule for
    NaN/±INF elements (r12, the similarity NaN-ordering class): an
    inf-element vector has norm inf and a NaN-element vector has norm
    NaN — BOTH pass the ``when(norm > 0)`` guard (Spark's ``NaN > 0``
    is TRUE: NaN is the largest double in its total order, unlike
    IEEE/numpy) — and their cosines come out NaN, which Spark's ``>=``
    also treats as larger than any threshold, so the expression twin
    would EMIT every same-bucket pair for such rows while the GEMM
    twin's finite sweep drops them.  NULL elements need no filter:
    they poison the norm to NULL, genuinely fail the guard, score 0.0,
    and the validated ``threshold > 0`` excludes them.  The ``~`` of a
    NULL ``array_contains`` is NULL, so NULL vectors are dropped here
    too — identical pair output, but ONLY because of that threshold
    validation: a NULL vector signs to sig 0 and lands in bucket 0,
    which DOES join, and its cosines come out 0.0 — excluded solely by
    the validated ``threshold > 0`` (r12 ADVICE: there is no "NULL
    bucket"; weaken `_check_cosine_threshold` and this equivalence
    breaks).  ``array_contains(c, NaN)`` finds NaN because Spark
    defines NaN = NaN as TRUE (the lifecycle gate's trick)."""
    c = F.col(vec_col)
    return df.where(
        ~(
            F.array_contains(c, F.lit(float("nan")))
            | F.array_contains(c, F.lit(float("inf")))
            | F.array_contains(c, F.lit(float("-inf")))
        )
    )


def _check_cosine_threshold(threshold: float) -> None:
    """All three cosine-pair forms require ``threshold > 0`` (r11
    ADVICE): the undefined-cosine no-pair rule only coincides across
    the twins for a positive threshold.  NULL vectors and NULL-ELEMENT
    rows score 0.0 in the expression form (the ``when(norm > 0)``
    guard's otherwise branch — a NULL element poisons the norm to
    NULL) and would be EMITTED at ``threshold <= 0``, while the GEMM
    form drops them in the signature pass and can never produce those
    pairs.  (NaN/±inf-element rows are dropped explicitly on BOTH
    sides — ``_drop_nonfinite_element_vectors`` — because Spark's
    ``NaN >= t`` is TRUE at ANY threshold; r12.)  A non-positive
    threshold also makes every same-bucket pair a result (the filter
    is vacuous), which is never the near-dup question — raise loudly,
    the interval-join dial discipline."""
    if not threshold > 0:  # catches NaN too
        raise ValueError(
            f"embedding cosine pair threshold must be > 0, got "
            f"{threshold!r}: at a non-positive threshold the "
            "undefined-cosine no-pair rule diverges between the "
            "expression and GEMM twins (expression scores NULL/NaN "
            "vectors 0.0; GEMM drops them), and the filter stops "
            "meaning near-duplicate at all"
        )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    prefix_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    n_dims: int = 64,
) -> DataFrame:
    """Near-dup pairs ``[doc_a, doc_b, cos_sim]`` by embedding cosine.

    Scale shape mirrors MinHash-LSH: a random-hyperplane signature buckets
    vectors (narrow map), candidates are generated by a bucket self-join
    (never a cross join), and exact cosine filters within buckets.  Bucket
    count is 2^prefix_bits — raise it with corpus size so per-bucket
    candidate pair counts stay bounded.  Pairs whose vectors land in
    different buckets are missed: that is the LSH recall trade-off, same as
    banding in :func:`minhash_lsh_pairs`.
    """
    _check_cosine_threshold(threshold)
    from .similarity import hyperplane_signature

    mask = (1 << prefix_bits) - 1
    df = _drop_nonfinite_element_vectors(df, vec_col)
    sig = hyperplane_signature(df, n_planes, id_col, vec_col, n_dims).select(
        F.col("vec_id"),
        F.col("sig").bitwiseAND(mask).alias("bucket"),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("nrm"),  # once per vector, not per pair
    )
    a, b = sig.alias("a"), sig.alias("b")
    cos = F.round(
        cosine_with_norms(
            F.col(f"a.{vec_col}"),
            F.col(f"b.{vec_col}"),
            F.col("a.nrm"),
            F.col("b.nrm"),
        ),
        round_digits,
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_cosine_pairs_against(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    prefix_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    n_dims: int = 64,
) -> DataFrame:
    """Embedding near-dups of a NEW batch AGAINST a corpus:
    ``[batch_vec_id, corpus_vec_id, cos_sim]`` — the incremental-ingest
    twin of :func:`embedding_cosine_pairs`.  Both sides bucket by the
    same hyperplane signature prefix (a pure function of the vector, so
    the corpus-side signatures are materializable once and reused per
    batch); candidates are a batch⋈corpus bucket equi-join — with a
    small batch AQE broadcasts it, the corpus is never reshuffled.
    Same LSH recall trade as the self-join form, same dials."""
    _check_cosine_threshold(threshold)
    from .similarity import hyperplane_signature

    mask = (1 << prefix_bits) - 1

    def _sig(df):
        df = _drop_nonfinite_element_vectors(df, vec_col)
        return hyperplane_signature(
            df, n_planes, id_col, vec_col, n_dims
        ).select(
            F.col("vec_id"),
            F.col("sig").bitwiseAND(mask).alias("bucket"),
            F.col(vec_col),
            norm(F.col(vec_col)).alias("nrm"),
        )

    c, b = _sig(corpus).alias("c"), _sig(batch).alias("b")
    cos = F.round(
        cosine_with_norms(
            F.col(f"b.{vec_col}"),
            F.col(f"c.{vec_col}"),
            F.col("b.nrm"),
            F.col("c.nrm"),
        ),
        round_digits,
    )
    return (
        b.join(c, F.col("b.bucket") == F.col("c.bucket"))
        .select(
            F.col("b.vec_id").alias("batch_vec_id"),
            F.col("c.vec_id").alias("corpus_vec_id"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_cosine_pairs_gemm(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    prefix_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 5,
    n_dims: int = 64,
    max_bucket_rows: int = 1 << 17,
    score_block_rows: int = 2048,
) -> DataFrame:
    """GEMM engine path for :func:`embedding_cosine_pairs` — same bucketed
    candidate generation and identical result contract, different
    within-bucket scorer.

    The expression form evaluates interpreted higher-order folds twice
    over — ``n_planes`` signature projections per VECTOR, then a dot
    product per candidate PAIR (Catalyst does not codegen ``aggregate``/
    ``zip_with``).  Here both stages are Arrow-batched numpy: signatures
    are one M·Wᵀ GEMM per input batch (``mapInArrow``, narrow — the
    pandas bridge's per-row vector objects cost ~2 s/M rows, r10), and each
    LSH bucket's pairwise cosines are one symmetric M·Mᵀ BLAS call
    (``applyInPandas`` after the one shuffle on bucket) — the same
    justified-Python trade as ``similarity.brute_force_topk_gemm``.

    Scale shape is unchanged: signature work is per-row, pair work is
    per-bucket, so ``prefix_bits`` remains the dial that bounds per-task
    cost as the corpus grows — identical contract to the expression
    form, which stays available as the pure-JVM verifier.  Two
    hot-bucket defenses (a skewed corpus — near-identical embeddings,
    all-zero rows — lands disproportionately in ONE bucket = ONE task):

    - scoring is ROW-BLOCK TILED (``score_block_rows`` × m per GEMM
      call), so peak task memory is O(block·m + m·d), never the m×m
      triangle the naive call materializes (m = 100k would be an 80 GB
      array inside one Python worker);
    - a bucket larger than ``max_bucket_rows`` raises loudly with the
      fix spelled out (raise ``prefix_bits``; each extra bit halves the
      expected bucket) instead of letting one straggler task absorb an
      O(m²) score pass nothing sized — the interval-join
      ``max_buckets_per_interval`` discipline.

    Contract note: both paths bucket on the PREFIX ``min(len, n_dims)``
    of each vector (the expression path slices both zip sides, this path
    truncates/zero-pads — algebraically the same projection), so an
    embedding-width drift degrades both identically; the shared oracle
    pins the on-contract behavior.
    """
    _check_cosine_threshold(threshold)
    import numpy as np

    from .similarity import plane_weights

    mask = (1 << prefix_bits) - 1
    # (n_planes, n_dims) ±1 weights — same literals the JVM form embeds.
    w_mat = np.array(
        [plane_weights(p, n_dims) for p in range(n_planes)],
        dtype=np.float64,
    )
    bits_vec = (1 << np.arange(n_planes, dtype=np.int64)) & mask

    from ..functions.arrow_batches import decode_list_matrix
    from ..functions.pickling import by_value
    from ..functions.topk import arrow_schema, half_up

    dec = by_value(decode_list_matrix)
    hup = by_value(half_up)  # one rounding implementation (r12)
    sig_ddl = f"vec_id long, bucket long, {vec_col} array<double>"
    sig_pa_schema = arrow_schema(sig_ddl)

    def _bucketize(batches):
        # Arrow-native (r10): this is the corpus-wide signature pass —
        # the pandas bridge's per-row vector objects measured ~2 s per
        # million rows (see ann_index._assign_cells); the Arrow list
        # column decodes with one flatten+reshape (the shared
        # functions/arrow_batches decode since r11) and the id/vector
        # columns pass through untouched
        guard_import_caches()
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            col = rb.column(1)
            # decode at NATURAL width (min n_dims): the signature GEMM
            # uses the n_dims prefix (== the JVM form's weight-slice),
            # but the NaN sweep below must see the WHOLE vector — the
            # pairwise cosine downstream is full-width, so a NaN past
            # n_dims still makes the row's cosine undefined (r11.5
            # review: the width=n_dims decode hid exactly those)
            full, live, _lens = dec(col, n, min_width=n_dims)
            mat = full[:, :n_dims]
            proj = mat @ w_mat.T
            bucket = (proj > 0) @ bits_vec
            # NULL vectors are never emitted (r10 ADVICE): the
            # expression twin's NULL signature yields a NULL bucket,
            # which SQL join equality never matches — so a NULL vector
            # produces no pairs there; dropping the row here keeps the
            # twins identical and spares _pairs an unattributable
            # np.asarray(None) failure deep in the pairwise stage.
            # r11.5/r12 — same rule for NULL/NaN/±inf ELEMENTS inside
            # a vector: cosine is undefined, so the row never pairs.
            # Expression-side mechanics differ per class (NULL element
            # → NULL norm fails the guard → 0.0 < the validated
            # positive threshold; NaN/inf element → NaN cosine, which
            # Spark's `>=` would EMIT — NaN is its largest double — so
            # those rows are dropped up front by
            # _drop_nonfinite_element_vectors, whose NULL-propagating
            # where() drops NULL-element rows too); here ONE isfinite
            # sweep covers all three classes.  The sweep runs over the
            # FULL decoded width, not the n_dims signature prefix (see
            # the decode comment above).
            live = live & np.isfinite(full).all(axis=1)
            live_mask = pa.array(live)  # don't shadow the prefix mask
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0).filter(live_mask).cast(
                        sig_pa_schema.field(0).type
                    ),
                    pa.array(
                        bucket[live], type=sig_pa_schema.field(1).type
                    ),
                    rb.column(1).filter(live_mask).cast(
                        sig_pa_schema.field(2).type
                    ),
                ],
                schema=sig_pa_schema,
            )

    # r14: a scan fan-out was tried here and REVERTED — the signature
    # GEMM is microseconds per 64-dim row, so 32-way Arrow task fan-out
    # overhead dominated (the similarity/pq/multimodal A/B, commit
    # 2693179); at scale the scan arrives wide anyway
    sig = df.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _bucketize, sig_ddl
    )

    def _pairs(pdf):
        guard_import_caches()
        import numpy as np
        import pandas as pd

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    "doc_a": pd.Series(dtype="int64"),
                    "doc_b": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                }
            )
        if m > max_bucket_rows:
            raise ValueError(
                f"embedding LSH bucket {int(pdf['bucket'].iloc[0])} "
                f"holds {m} vectors (> max_bucket_rows="
                f"{max_bucket_rows}): its pairwise scoring is O(m^2) "
                "inside ONE task — a skewed corpus (near-identical or "
                "all-zero embeddings) is collapsing into one bucket. "
                "Raise prefix_bits to split buckets (each extra bit "
                "halves the expected bucket), or pass a larger "
                "max_bucket_rows to acknowledge the cost explicitly."
            )
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        vecs = [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        width = max(len(v) for v in vecs)
        # zero-pad ragged vectors (np.array would raise on mixed lengths);
        # zero dims contribute nothing to dot or norm
        mat = np.zeros((len(vecs), width), dtype=np.float64)
        for i, v in enumerate(vecs):
            mat[i, : len(v)] = v
        norms = np.linalg.norm(mat, axis=1)
        safe = np.where(norms > 0, norms, 1.0)
        # row-block tiling: each GEMM emits a block×m slab of the score
        # matrix — identical per-element FP ops to the one-shot m×m call
        # (same dot, same divide, same round), O(block·m) peak instead
        blk = max(int(score_block_rows), 1)
        out_a, out_b, out_s = [], [], []
        for i0 in range(0, m, blk):
            i1 = min(i0 + blk, m)
            sims = (mat[i0:i1] @ mat.T) / np.outer(safe[i0:i1], safe)
            # ~(norm > 0) for uniformity with the family (r12): after
            # the signature pass's isfinite sweep the norms here are
            # finite, so this only ever catches genuine zero vectors
            sims[~(norms[i0:i1] > 0), :] = 0.0
            sims[:, ~(norms > 0)] = 0.0
            sims = hup(sims, round_digits)
            ia, ib = np.nonzero(sims >= threshold)
            keep = ids[i0:i1][ia] < ids[ib]  # strict order = triangle
            out_a.append(ids[i0:i1][ia][keep])
            out_b.append(ids[ib][keep])
            out_s.append(sims[ia, ib][keep])
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_s),
            }
        )

    return sig.groupBy("bucket").applyInPandas(
        _pairs, "doc_a long, doc_b long, cos_sim double"
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    prefix_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_gemm: bool = True,
) -> DataFrame:
    """Semantic (embedding-space) near-dup removal, end-to-end: cosine
    pair generation → connected components → keep the canonical (min-id)
    member of every cluster.  Returns the SURVIVING rows of ``df``.

    The composition the dedup family exists for: pairs alone are not a
    dedup — transitively-connected groups must collapse to one survivor
    or A≈B≈C keeps B and C when only (A,B), (B,C) crossed the threshold.
    Each stage's scale bounds are its own (bucketed pair generation,
    hybrid union-find/label-propagation components, one anti-join) — no
    new shuffle shape is introduced here.
    """
    gen = embedding_cosine_pairs_gemm if use_gemm else embedding_cosine_pairs
    pairs = gen(
        df,
        threshold=threshold,
        n_planes=n_planes,
        prefix_bits=prefix_bits,
        id_col=id_col,
        vec_col=vec_col,
    )
    clusters = dedup_clusters(pairs)
    return drop_near_duplicates(df, clusters, id_col=id_col)

"""Extension-operator registry: dedup, similarity, text analysis, SQL
breadth (joins/windows/set-ops/JSON), each with a DuckDB oracle twin.

Design rule: every oracle reproduces the Spark pipeline's EXACT logic with
the shared 60-bit md5 hash family (functions/hashing.py), so hash-compare
passes bit-for-bit — not just "similar results".
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as TX
from .functions.canon import csv_array, csv_array_sql
from .functions.hashing import md5_long_sql, uh_apply_sql, uh_base_sql
from .functions.pickling import guard_import_caches
from .functions.timeutil import epoch_us
from .functions.vectors import cosine_sql
from .operators import dedup as DD
from .operators import multimodal as MM
from .operators import similarity as SIM
from .operators.inverted_index import postings
from .sources.tables import load_table

from .registry_slot import DRIVER_EVIDENCE, Slot

CANDIDATES: list[Slot] = []


def _register(
    name: str,
    fn: Callable,
    sql: str | None,
    registered: bool = True,
    evidence: str = DRIVER_EVIDENCE,
) -> None:
    CANDIDATES.append(Slot(name, fn, sql, registered, evidence))


# ---------------------------------------------------------------------------
# Dedup family (documents table)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


_register(
    "dedup_exact_groups",
    q_exact_dedup,
    """
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sig order is positional (permutation j) — CSV-rendered unsorted
    return csv_array(
        DD.minhash_signatures(load_table(spark, sf_dir, "documents")),
        "sig",
        sort=False,
    )


def _minhash_sig_ctes() -> str:
    """Shingle-explode + universal-hash min-aggregation, mirroring
    operators/dedup.minhash_signatures exactly (one md5 per shingle,
    (a_j·h + b_j) mod p per permutation)."""
    sh = TX.word_shingles_sql("text")
    mins = ", ".join(
        f"MIN({uh_apply_sql('h', j)}) AS s{j}" for j in range(DD.NUM_HASHES)
    )
    return f"""
    sh AS (SELECT doc_id, unnest({sh}) AS s FROM documents),
    hs AS (SELECT doc_id, {uh_base_sql('s')} AS h FROM sh),
    sigs AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id)
    """


_register(
    "dedup_minhash_signatures",
    q_minhash_sigs,
    f"""
    WITH {_minhash_sig_ctes()}
    SELECT doc_id,
           {csv_array_sql(
               '[' + ', '.join(f's{j}' for j in range(DD.NUM_HASHES)) + ']',
               sort=False,
           )} AS sig
    FROM sigs
    """,
)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def _minhash_lsh_sql() -> str:
    r = DD.NUM_HASHES // DD.NUM_BANDS
    band_selects = []
    for b in range(DD.NUM_BANDS):
        cat = "||','||".join(
            f"s{b * r + i}::VARCHAR" for i in range(r)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cat}) AS band_hash FROM sigs"
        )
    bands = " UNION ALL ".join(band_selects)
    return f"""
    WITH {_minhash_sig_ctes()},
    bands AS ({bands})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


_register("dedup_minhash_lsh_pairs", q_minhash_lsh, _minhash_lsh_sql())


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pairs resolved to duplicate clusters (connected components;
    cluster_id = min doc_id = the canonical survivor)."""
    return DD.dedup_clusters(
        DD.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))
    )


def _minhash_clusters_sql() -> str:
    """Transitive closure over the SAME banded pairs, as a recursive CTE:
    reach(src, dst) enumerates every node reachable from src across
    symmetric duplicate edges; the component label is the min reachable
    id (LEAST with src itself covers components where src is the min)."""
    r = DD.NUM_HASHES // DD.NUM_BANDS
    band_selects = []
    for b in range(DD.NUM_BANDS):
        cat = "||','||".join(f"s{b * r + i}::VARCHAR" for i in range(r))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cat}) AS band_hash FROM sigs"
        )
    bands = " UNION ALL ".join(band_selects)
    return f"""
    WITH RECURSIVE {_minhash_sig_ctes()},
    bands AS ({bands}),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
    """


_register(
    "dedup_minhash_clusters", q_minhash_clusters, _minhash_clusters_sql()
)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash(load_table(spark, sf_dir, "documents"))


def _simhash_sql() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(DD.SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(DD.SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({TX.tokens_sql('text')}) AS tok FROM documents
    ),
    hashed AS (SELECT doc_id, {md5_long_sql('tok')} AS h FROM tok),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM votes
    """


_register("dedup_simhash", q_simhash, _simhash_sql())


JACCARD_MAX_DF = 50  # df-cut: shingles in more docs carry no dedup signal


def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.2,
        max_shingle_freq=JACCARD_MAX_DF,
    )


def _jaccard_sql(threshold: float = 0.2, max_df: int = JACCARD_MAX_DF) -> str:
    sh = TX.word_shingles_sql("text")
    return f"""
    WITH sh AS (
      SELECT doc_id, {md5_long_sql("unnest(" + sh + ")")} AS sh
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    rare AS (
      SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= {max_df}
    ),
    cut AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM cut a JOIN cut b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter / (sa.n_sh + sb.n_sh - inter) >= {threshold}
    """


_register("dedup_ngram_jaccard_pairs", q_jaccard, _jaccard_sql())


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------

N_QUERY_VECS = 10
TOPK = 5


def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # the documented exact baseline: the full scan is its purpose, so
    # acknowledge the O(|Q|x|corpus|) guard explicitly — at a large
    # sf or with broadcasts disabled it must stay the baseline, not
    # become a ValueError
    return SIM.brute_force_topk(
        emb, emb.where(F.col("vec_id") < N_QUERY_VECS), k=TOPK,
        allow_full_scan=True,
    )


def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k served THROUGH the PQ path: train codebooks on the
    corpus (deterministic, no RNG), encode, ADC-rank, exact-rerank with
    the candidate width covering the whole corpus — by construction the
    result EQUALS the brute-force contract (operators/pq.py docstring),
    so the brute SQL is this row's oracle while the driver gate drives
    the full train→encode→ADC→rerank machinery every round."""
    from .operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    cb = PQ.pq_train(emb, m_subspaces=8, n_codes=16, n_iters=4)
    enc = PQ.pq_encode(emb, cb)
    return PQ.pq_topk_rerank(
        emb,
        enc,
        emb.where(F.col("vec_id") < N_QUERY_VECS),
        cb,
        k=TOPK,
        # k*factor = 1M >> any sweep corpus: full coverage = exactness
        rerank_factor=200_000,
    )


_BRUTE_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND({cosine_sql('qv', 'cv')}, 5) AS cos_sim
      FROM q, c WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOPK}
    """

# r8 rotation: the exact-top-k contract keeps ONE driver row, and it
# moved to the PQ full-coverage path — same oracle, strictly more
# machinery under the driver gate (pq_train/pq_encode/ADC/rerank).
# brute_force_topk itself stays the pytest truth anchor: it is the
# comparison side of the gemm-equivalence, ANN full-probe, and PQ
# full-coverage tests, so a regression in it still fails four suites.
_register(
    "similarity_bruteforce_topk",
    q_ann_brute,
    _BRUTE_SQL,
    registered=False,
    evidence=(
        "rotated out r8 (slot went to similarity_pq_rerank_topk, whose "
        "oracle it shares): brute_force_topk is the truth side of "
        "tests/test_dedup_similarity.py (gemm equivalence), "
        "tests/test_ann_index.py (full-probe + PQ-sidecar equality) and "
        "tests/test_pq.py (full-coverage rerank equality)"
    ),
)
_register("similarity_pq_rerank_topk", q_ann_pq_rerank, _BRUTE_SQL)


def q_ann_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k served THROUGH the materialized ANN index family —
    since r12 the FULL INCREMENTAL LIFECYCLE (r11 VERDICT task 1), BOTH
    serving paths, in one row: ``build_ann_index`` on HALF the
    embeddings (Lloyd train + GEMM assign + cell-partitioned parquet),
    ``ann_index_add_batch`` ingesting the other half against the frozen
    centroids (committed through the root's snapshot manifest),
    ``ann_index_compact`` folding the ingest delta back into
    the base layout, ``pq_augment_ann_index`` (codes sidecar over the
    compacted cells), then

    - ``served_path='float'``: ``ann_search_auto`` at FULL SWEEP
      (nprobe = n_centroids) — the policy's measured rule resolves a
      full sweep to the float path from ``_ann_meta.json`` alone (no
      file-size probe — deterministic on any machine), and a full
      sweep is exact by construction (same rounding, same tie order as
      brute force — the ann_index equivalence tests);
    - ``served_path='pq_rerank'``: ``ann_search_pq`` at full sweep
      with the rerank candidate width covering the corpus — ADC ranks
      from the codes sidecar, the float re-rank restores exactness
      (the pq fuzz pin), so the SAME brute contract holds.

    One oracle (the brute SQL × the two path literals) therefore pins
    the index build, the incremental ingest, the compaction fold, the
    sidecar write + fingerprint gate, the policy dispatch, the GEMM
    float serve, AND the ADC + rerank serve, every round — the same
    r10→r11 pattern that took the LSM composite row from pytest-only
    to hash-pinned (``q_index_composite_streaming_lookup`` runs ITS
    maintenance mutations in-path).  Before r12, ``ann_index_add_batch``
    / ``ann_index_compact`` — the most-mutated production path of the
    repo's largest module — carried pytest evidence only.

    r13 (r12 VERDICT task 2): the ingest legs run through the
    PRODUCTION streaming wrapper ``ann_ingest_batch`` — marker commit,
    a deliberately REPLAYED batch (must no-op, or the corpus would
    double and the hash would catch it), and the autocompaction dial
    in-path (the r14 snapshot fold: fresh generation + one manifest
    swap, codes re-encoded inside the same commit).

    r14 (r13 VERDICT task 2): the DRIFT-REBUILD stage — the last ANN
    lifecycle stage without a hash pin — runs in-path too:
    ``mark_rebuilt`` baselines the drift monitor, the real
    ``drift_monitor_batch`` ingests a vocabulary-disjoint batch (toy
    scale, production wiring), ``should_rebuild`` must flip True, the
    retrain runs, ``should_rebuild`` must flip back False, and a
    further guarded batch ingests against the NEW tree under the same
    monotone marker.  The whole build→ingest→fold→rebuild→ingest
    cycle therefore serves into one brute-force oracle every round.

    r14.2: the retrain goes through the ZERO-DOWNTIME deployment layer
    (``operators/ann_deploy.py``): the row owns a deployment directory
    (root-pointer indirection), ``ann_deployment_rebuild`` trains into
    a FRESH root from the old root's LIVE rows (read via its manifest
    — no corpus re-read), re-augments PQ with the dials recorded in
    ``_pq_meta.json``, carries the committed ingest batch id into the
    new root's manifest (a replay of the
    pre-flip batch 1 must still no-op on the new root — loud assert
    AND the hash would double), re-baselines the drift monitor, and
    flips the pointer atomically; serves resolve the pointer in-path.
    The pointer flip, batch-id carry, dial carry-over, and
    live-corpus rebuild are thereby all under this oracle's hash.

    The row's corpus is the ``vec_id % 12 == 0`` TWELFTH of the table
    (oracle sliced identically — r13 VERDICT task 3 directs the
    lifecycle slice smaller and n_centroids 8→4 so the rebuild stage
    lands while the committed row returns under its budget; exactness
    is by construction, not corpus size, and r14's deployment-rebuild
    stage added a second full build+augment cycle, so the slice
    shrank again ⅓→¹⁄₁₂ to hold the budget).  Sub-slices: %48==0
    builds, %48∈{12,24} arrive as guarded batches 0/1 (batch 1
    crosses the dial), the rebuild retrains over %48∈{0,12,24}, and
    %48==36 ingests as batch 2 against the new tree.  Full-table
    serving stays pinned by the sibling rows
    (``similarity_pq_rerank_topk`` / ``similarity_ivf_topk`` /
    ``similarity_lsh_topk``).

    **Budget (r14, measured): this row is ACTION-count-bound, not
    data-bound — re-budgeted at the measured ~14–16 s after the
    optimization round's trims (one-file centroids, one-action drift
    commit; the tiny-input static-planning gate was tried on every leg
    and removed after both A/B orders ran slower — see
    OPTIMIZATION_r14.md).**  Instrumented
    at sf0.1 on local[32]: the full lifecycle launches 118 Spark jobs
    (88 with AQE off — same wall time, so AQE's extra jobs are cheap
    and the constant is per-ACTION scheduling + Python↔JVM latency at
    ~0.11–0.16 s each; statusTracker deltas, per-leg: build+augment
    19, guarded ingest 10–14 each, drift monitor 22, deployment
    rebuild 22, serves 7+13).  The embeddings table is 2 000 rows at
    sf0.1, so virtually NONE of the cost is data: shrinking the slice
    4× (⅓→¹⁄₁₂) moved the standalone row only ~−3.5 s and the
    in-bench floor not at all, and forcing shuffle.partitions=4 /
    AQE off moved it <15% — every r13 task-3 lever is measured
    exhausted.  The cost is the CONTRACT (two full build+augment
    cycles since the rebuild stage landed, three guarded ingests, two
    dial folds with selective re-encode, a replay, the real drift
    monitor, a pointer-flip rebuild, and two full-sweep serves with
    corpus-covering rerank ≈ 40+ queries), not a bad plan: a
    production stream pays ONE leg per micro-batch, and at real batch
    sizes the per-action constant amortizes into data.  Reaching the
    old ≤6 s figure would mean unpinning lifecycle legs — the wrong
    trade; ``row_budget`` flags the row every round by design."""
    import os

    from .functions.text import unigram_lm
    from .operators import ann_deploy as AD
    from .operators import ann_index as AI
    from .registry import scratch_dir
    from .streaming import ann_ingest_batch
    from .streaming.ann_ingest import mark_rebuilt, should_rebuild
    from .streaming.drift import drift_monitor_batch

    emb = load_table(spark, sf_dir, "embeddings")
    dep = scratch_dir("ann_auto_idx", sf_dir, wipe=True)
    report = os.path.join(dep, "_drift_reports")
    state = os.path.join(dep, "_drift_state")
    # one Lloyd iteration / one codebook iteration: every train loop
    # still executes (≥1 full iteration each), and full-sweep serving
    # is exact REGARDLESS of centroid quality, so extra iterations only
    # add lifecycle jobs to the row without widening what the hash pins.
    root = AD.ann_deployment_build(
        emb.where(F.col("vec_id") % 48 == 0).select("vec_id", "embedding"),
        dep, n_centroids=4, n_iters=1,
        # n_codes=8: the ¹⁄₄₈ build slice holds only ~10 vectors at
        # sf0.01 and pq_train needs >= n_codes samples; ADC quality is
        # irrelevant here (the rerank covers the corpus, exactness is
        # by construction) — the dials only need to EXERCISE the path
        pq={"m_subspaces": 8, "n_codes": 8, "n_iters": 1},
    )
    mark_rebuilt(spark, root, report)  # baseline: no reports yet -> 0
    b0 = emb.where(F.col("vec_id") % 48 == 12)
    b1 = emb.where(F.col("vec_id") % 48 == 24)
    ann_ingest_batch(b0, root, batch_id=0, max_batch_dirs_per_cell=1)
    if ann_ingest_batch(b0, root, batch_id=0) != 0:
        # at-least-once replay of a COMMITTED batch must no-op — a
        # re-append would double the slice and break the oracle,
        # but fail loudly here rather than rely on the hash alone
        raise AssertionError("ann lifecycle row: replayed batch re-ran")
    ann_ingest_batch(b1, root, batch_id=1, max_batch_dirs_per_cell=1)
    m = AI._load_manifest(root)
    if not any(
        len(tags) == 1 and tags[0] < -1 for tags in m["cells"].values()
    ):
        # the dial's selective fold must prove it ran: a folded cell's
        # live set is a single fresh generation tag — the hash can't
        # see WHERE rows live, only what serves
        raise AssertionError("ann lifecycle row: dial folded nothing")
    # drift-rebuild (r14): the real monitor path at toy scale — a
    # vocabulary-disjoint batch pushes cumulative JS far past the dial
    ref_lm = unigram_lm(
        spark.createDataFrame([("alpha beta gamma delta",)], "text string"),
        "text",
    )
    rep = drift_monitor_batch(
        spark.createDataFrame(
            [("zeta eta theta iota kappa",)], "text string"
        ),
        state,
        ref_lm,
        batch_id=0,
    )
    rep.write.mode("append").parquet(report)
    if not should_rebuild(spark, root, report):
        raise AssertionError("ann lifecycle row: drift did not trigger")
    # r14.2: zero-downtime retrain — a fresh root trained from the OLD
    # root's live rows (its manifest names exactly the build slice +
    # batches 0/1), PQ re-augmented with the recorded dials, marker
    # seeded, drift re-baselined, pointer flipped atomically; the old
    # root stays serveable behind the grace window
    root = AD.ann_deployment_rebuild(spark, dep, report_path=report)
    if AD.resolve_ann_root(dep) != root:
        raise AssertionError("ann lifecycle row: pointer did not flip")
    if should_rebuild(spark, root, report):
        raise AssertionError("ann lifecycle row: rebuild did not rebase")
    if ann_ingest_batch(b1, root, batch_id=1) != 0:
        # the seeded marker must carry replay semantics across the flip
        raise AssertionError("ann lifecycle row: pre-flip replay re-ran")
    # continued ingest against the NEW tree (marker ids stay monotone);
    # dial disabled: batches 0/1 already pin the fold + selective
    # re-encode in-path, and a third fold is pure job-count (the row is
    # job-bound, not data-bound — see the budget note below)
    b2 = emb.where(F.col("vec_id") % 48 == 36)
    ann_ingest_batch(b2, root, batch_id=2, max_batch_dirs_per_cell=None)
    q = emb.where(F.col("vec_id") < N_QUERY_VECS)
    auto = AI.ann_search_auto(spark, root, q, k=TOPK, nprobe=4)
    # rerank covers the corpus BY CONSTRUCTION: rerank_factor × k ≥
    # corpus rows + k at any SF (r11 VERDICT task 6 — computed from the
    # data, not a 200 000 literal), so the pq fuzz pin's exactness
    # precondition holds without an oversized dial.  The UNFILTERED
    # table count is the covering bound on purpose: count(*) on bare
    # parquet resolves from footer statistics while the % 12 slice would
    # force a scan job.
    n_rows = emb.count()
    pq = AI.ann_search_pq(
        spark, root, q, k=TOPK, nprobe=4,
        rerank_factor=-(-n_rows // TOPK) + 1,
    )
    return auto.withColumn("served_path", F.lit("float")).unionByName(
        pq.withColumn("served_path", F.lit("pq_rerank"))
    )


# the lifecycle row's oracle: brute force over the SAME % 12 == 0 corpus
# slice the row builds+ingests+rebuilds over (queries unsliced), × the
# path literals
_ANN_AUTO_SQL = f"""
    WITH paths(served_path) AS (VALUES ('float'), ('pq_rerank')),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv
          FROM embeddings WHERE vec_id % 12 = 0),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND({cosine_sql('qv', 'cv')}, 5) AS cos_sim
      FROM q, c WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    ),
    base AS (
      SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= {TOPK}
    )
    SELECT base.*, served_path FROM base, paths
    """

_register("similarity_ann_auto_topk", q_ann_auto, _ANN_AUTO_SQL)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_bucketed_topk(
        emb, emb.where(F.col("vec_id") < N_QUERY_VECS), k=TOPK
    )


def _hyperplane_sig_sql(vec: str, n_planes: int = 16, n_dims: int = 64) -> str:
    """sig as a sum of per-plane sign bits (mirrors hyperplane_signature):
    the same literal ±1 weights SIM.plane_weights embeds in the Spark plan.

    Contract edge (same class as cosine_sql's ragged note): a vector
    containing a NULL ELEMENT signs to 0 in BOTH Spark forms (the
    expression fold poisons to NULL → otherwise-0 per plane; the GEMM
    NaN never compares > 0) but DuckDB's ``list_sum`` SKIPS the null
    product and signs the PARTIAL sum — a different bucket.  The twins
    agree on every NULL-element-free corpus (all testdata; the r11
    fuzz classes); callers feeding vectors with NULL elements are out
    of the oracle contract here, exactly as cosine_sql documents."""
    terms = []
    for p in range(n_planes):
        w = "[" + ",".join(
            f"{x}.0" for x in SIM.plane_weights(p, n_dims)
        ) + "]"
        proj = (
            f"list_sum(list_transform(range(1, least(length({vec}),"
            f" {n_dims}) + 1), i -> {vec}[i]::DOUBLE * ({w})[i]))"
        )
        terms.append(
            f"(CASE WHEN {proj} > 0 THEN (1::BIGINT << {p}) ELSE 0::BIGINT END)"
        )
    return " + ".join(terms)


def _ann_lsh_sql(n_planes: int = 16, prefix_bits: int = 8) -> str:
    mask = (1 << prefix_bits) - 1
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id,
             ({_hyperplane_sig_sql('embedding', n_planes)}) & {mask} AS bucket,
             embedding AS cv
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id,
             ({_hyperplane_sig_sql('embedding', n_planes)}) & {mask} AS bucket,
             embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND({cosine_sql('qv', 'cv')}, 5) AS cos_sim
      FROM q JOIN c USING (bucket)
      WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOPK}
    """


_register("similarity_lsh_topk", q_ann_lsh, _ann_lsh_sql())


IVF_CENTROIDS = 16
IVF_NPROBE = 4


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(
        emb,
        emb.where(F.col("vec_id") < N_QUERY_VECS),
        k=TOPK,
        n_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


def _ann_ivf_sql() -> str:
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS centv FROM embeddings
      WHERE vec_id < {IVF_CENTROIDS}
    ),
    corpus_cos AS (
      SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.cid,
             ROUND({cosine_sql('e.embedding', 'c.centv')}, 5) AS ccos
      FROM embeddings e, cent c
    ),
    inv AS (
      SELECT neighbor_id, cv, cid FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY neighbor_id ORDER BY ccos DESC, cid
        ) AS rn FROM corpus_cos
      ) WHERE rn = 1
    ),
    query_cos AS (
      SELECT e.vec_id AS query_id, e.embedding AS qv, c.cid,
             ROUND({cosine_sql('e.embedding', 'c.centv')}, 5) AS ccos
      FROM embeddings e, cent c WHERE e.vec_id < {N_QUERY_VECS}
    ),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY ccos DESC, cid
        ) AS rn FROM query_cos
      ) WHERE rn <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND({cosine_sql('qv', 'cv')}, 5) AS cos_sim
      FROM probes JOIN inv USING (cid)
      WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rank FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOPK}
    """


_register("similarity_ivf_topk", q_ann_ivf, _ann_ivf_sql())


def q_ann_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEMM (mapInArrow/BLAS) engine path for exact top-k.  Rows-only
    driver check: same contract as similarity_bruteforce_topk, whose
    oracle pins the values; tests assert both paths agree exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk_gemm(
        emb, emb.where(F.col("vec_id") < N_QUERY_VECS), k=TOPK
    )


# ROTATED OUT of the 50-row driver registry (round 6, VERDICT r5 task 1):
# the GEMM path answers the same query as similarity_bruteforce_topk by
# construction, so its driver row duplicated evidence.  The freed row
# registers the span-dedup family (q_span_dedup below), which previously
# had pytest-only evidence.
_register(
    "similarity_bruteforce_topk_gemm",
    q_ann_gemm,
    None,
    registered=False,
    evidence=(
        "rotated out r6 (slot went to span_dedup_spans): pinned exactly "
        "equal to similarity.brute_force_topk in "
        "tests/test_dedup_similarity.py (whose contract the registered "
        "similarity_pq_rerank_topk row drives through the PQ path since "
        "r8); MapInPandas plan pinned in tests/test_plan_quality.py"
    ),
)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection (ExactSubstr-style,
    operators/span_dedup.py): maximal merged token intervals covered by
    8-token windows occurring >= 2 times corpus-wide.  The oracle
    replays the full pipeline in SQL — tokenize, tile k-gram windows,
    corpus-wide hot count, then gaps-and-islands interval merge (new
    island when pos > prev_pos + k, the exact twin of the engine's
    fold merge condition p <= last.e with e monotone at fixed k)."""
    from .operators.span_dedup import repeated_spans

    return repeated_spans(
        load_table(spark, sf_dir, "documents"), k=8, min_count=2
    )


def _span_dedup_sql(k: int = 8, min_count: int = 2) -> str:
    t = TX.tokens_sql("text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {t} AS tk FROM documents
    ),
    w AS (
      SELECT doc_id, s.pos AS pos, s.g AS g FROM (
        SELECT doc_id, unnest(list_transform(
          range(1, greatest(length(tk) - {k - 1}, 0) + 1),
          i -> struct_pack(pos := i - 1,
                           g := array_to_string(
                             list_slice(tk, i, i + {k - 1}), chr(31))))) AS s
        FROM toks)
    ),
    hot AS (SELECT g FROM w GROUP BY g HAVING COUNT(*) >= {min_count}),
    marked AS (SELECT doc_id, pos FROM w JOIN hot USING (g)),
    lagged AS (
      SELECT doc_id, pos,
             LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM marked
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos > prev + {k} THEN 1 ELSE 0
                 END) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged
    )
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {k} AS BIGINT) AS span_end
    FROM isl GROUP BY doc_id, island
    """


_register("span_dedup_spans", q_span_dedup, _span_dedup_sql())


# Embedding-cosine near-dup (dedup family, but reuses the hyperplane SQL).
EMB_NEARDUP_THRESHOLD = 0.2  # test embeddings are near-random (max cos ~0.4)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEMM (applyInPandas-per-bucket) engine path.  The pure-expression
    twin (``operators.dedup.embedding_cosine_pairs``) is equivalence-
    checked against the GEMM operator in pytest
    (tests/test_dedup_similarity.py) rather than holding its own driver
    row — the driver's correctness sweep records at most 50 rows
    (CORRECTNESS_r02 had exactly 50 of 51 registered), so registry slots
    go to distinct operators, not engine-path twins."""
    return DD.embedding_cosine_pairs_gemm(
        load_table(spark, sf_dir, "embeddings"),
        threshold=EMB_NEARDUP_THRESHOLD,
    )


def _embedding_neardup_sql(
    threshold: float, n_planes: int = 16, prefix_bits: int = 4
) -> str:
    mask = (1 << prefix_bits) - 1
    return f"""
    WITH sig AS (
      SELECT vec_id,
             ({_hyperplane_sig_sql('embedding', n_planes)}) & {mask} AS bucket,
             embedding
      FROM embeddings
    )
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           ROUND({cosine_sql('a.embedding', 'b.embedding')}, 5) AS cos_sim
    FROM sig a JOIN sig b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ROUND({cosine_sql('a.embedding', 'b.embedding')}, 5) >= {threshold}
    """


_register(
    "dedup_embedding_cosine_pairs",
    q_embedding_neardup,
    _embedding_neardup_sql(EMB_NEARDUP_THRESHOLD),
)

# ---------------------------------------------------------------------------
# Text analysis (documents table)
# ---------------------------------------------------------------------------

def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    # one tokenize shared by every token-consuming signal (materialized
    # column behind a kept Project boundary; see corpus_report)
    tok = F.col("_toks")
    return doc.withColumn("_toks", TX.tokens("text")).select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tok"),
        TX.bpe_token_count("text").alias("n_bpe_tok"),
        TX.lang_id("text", tok=tok).alias("pred_lang"),
        *TX.quality_metrics("text", tok=tok),
    )


_register(
    "text_profile",
    q_text_profile,
    f"""
    SELECT doc_id,
           {TX.token_count_sql('text')} AS n_tok,
           {TX.bpe_token_count_sql('text')} AS n_bpe_tok,
           {TX.lang_id_sql('text')} AS pred_lang,
           {', '.join(TX.quality_metrics_sql('text'))}
    FROM documents
    """,
)


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.distribution import ensure_parallelism

    doc = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.5 input skew): hashing every character 5-gram is the
    # repo's most CPU-dense per-row expression, and a small single-file
    # scan arrives as ONE partition — fan out first (no-op at scale).
    # Measured at sf0.1: 4.68 s floored → see OPTIMIZATION_r14.md.
    # min-k sketch is already sorted ascending by construction
    return csv_array(
        ensure_parallelism(doc.select("doc_id", "text")).select(
            "doc_id", TX.fingerprint("text").alias("fingerprint")
        ),
        "fingerprint",
        sort=False,
    )


_register(
    "text_fingerprint",
    q_text_fingerprint,
    f"SELECT doc_id,"
    f" {csv_array_sql(TX.fingerprint_sql('text'), sort=False)} AS fingerprint"
    " FROM documents",
)


def q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's inverted-index semantic applied to text terms:
    term → sorted list of docs containing it (SURVEY.md §7 Phase 5)."""
    doc = load_table(spark, sf_dir, "documents")
    exploded = doc.select(
        "doc_id",
        F.explode(F.array_distinct(TX.tokens("text"))).alias("term"),
    )
    return csv_array(
        postings(exploded, "term").withColumnRenamed("value", "term"),
        "doc_ids",
    )


_register(
    "text_term_postings",
    q_term_postings,
    f"""
    SELECT term, {csv_array_sql('list(doc_id)')} AS doc_ids
    FROM (
      SELECT doc_id, unnest(list_distinct({TX.tokens_sql('text')})) AS term
      FROM documents
    )
    WHERE term IS NOT NULL AND doc_id IS NOT NULL
    GROUP BY term
    """,
)


# ---------------------------------------------------------------------------
# Multimodal (binary media columns; documents table stands in as the source)
# ---------------------------------------------------------------------------

def _media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table: text bytes as the opaque binary payload."""
    doc = load_table(spark, sf_dir, "documents")
    return doc.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("data"),
    )


def q_media_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.media_fingerprint(_media_from_documents(spark, sf_dir))


_register(
    "multimodal_fingerprint",
    q_media_fingerprint,
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAKE-container decode + per-item pixel stats through mapInPandas.

    The 16×16 payload is a deterministic function of media_id
    (``pix[i] = (media_id·31 + i·7) mod 256``), so the full decode path —
    header parse, payload reduction — is oracle-checkable: DuckDB recomputes
    the same pixels arithmetically and the per-item mean/min/max must match
    bit-for-bit (mean = integer sum ÷ 256, exact in binary floating point).
    The Spark side still round-trips real container bytes through
    ``encode_fake`` → ``extract_features`` (mapInPandas, Arrow batches).
    """
    import pandas as pd

    media = _media_from_documents(spark, sf_dir)

    def _to_fake(it):
        guard_import_caches()
        for pdf in it:
            rows = []
            for mid in pdf["media_id"]:
                payload = bytes(
                    (int(mid) * 31 + i * 7) % 256 for i in range(256)
                )
                rows.append((mid, MM.encode_fake("I", 16, 16, payload)))
            yield pd.DataFrame(rows, columns=["media_id", "data"])

    fake = media.select("media_id").mapInPandas(
        _to_fake, "media_id long, data binary"
    )
    return MM.extract_features(fake)


_MEDIA_FEATURES_SQL = f"""
SELECT doc_id AS media_id,
       'I' AS kind,
       CAST({MM.HEADER_SIZE} + 256 AS BIGINT) AS n_bytes,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_frames,
       list_sum(pix) / 256.0 AS mean_value,
       CAST(list_min(pix) AS INTEGER) AS min_value,
       CAST(list_max(pix) AS INTEGER) AS max_value
FROM (
  SELECT doc_id,
         list_transform(range(0, 256), i -> (doc_id * 31 + i * 7) % 256)
           AS pix
  FROM documents
)
"""

_register("multimodal_image_features", q_media_features, _MEDIA_FEATURES_SQL)


# ---------------------------------------------------------------------------
# SQL breadth: aggregation / join / window / set / JSON (TPC-H-ish + events)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (grouped agg with derived exprs)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


_register(
    "sql_pricing_summary",
    q_pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem GROUP BY 1, 2
    """,
)


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact ⋈ 3 dims — dims broadcast (they're tiny at any SF:
    region=5, nation=25 rows; customer scales but stays ≪ orders)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


_register(
    "sql_region_revenue",
    q_region_revenue,
    """
    SELECT r_name, ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1
    """,
)


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 orders per customer, deterministic tie-break."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_register(
    "sql_window_topk_orders",
    q_topk_orders,
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)


def q_open_only_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: customers with open orders EXCEPT customers with 'F' orders."""
    o = load_table(spark, sf_dir, "orders")
    open_c = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    f_c = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.subtract(f_c)


_register(
    "sql_set_except",
    q_open_only_customers,
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)


def q_agg_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation breadth beyond the reference's min/max/avg (SURVEY.md
    §2.4 'absent' row): count, distinct count, sum, sample stddev — all
    built-in with map-side partial aggregation (fixed-width state, no
    per-group sort).  Exact median lives in its own query
    (``sql_median_exact``): its full per-group sort is the one aggregate
    here that would NOT scale 100×, so it must not ride along in the
    headline agg plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
    )


_register(
    "sql_agg_breadth",
    q_agg_breadth,
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           COUNT(DISTINCT l_partkey) AS n_parts,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty
    FROM lineitem GROUP BY 1
    """,
)


def q_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median, deliberately isolated: exact ``percentile``
    buffers and sorts every group member, which is exact-by-contract for
    reporting-scale groups but a scale hazard in wide agg plans.  The
    100 TB substitute is ``approx_percentile`` (t-digest sketch, mergeable
    map-side) — not oracle-hashable cross-engine, so the exact form is
    what the driver verifies."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
            "median_price"
        ),
    )


_register(
    "sql_median_exact",
    q_median_exact,
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
    FROM lineitem GROUP BY 1
    """,
)


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via rollup (flag → flag+status → grand total)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


SQL_ROLLUP = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

# ROTATED OUT r11 (slot went to similarity_ann_auto_topk): of the three
# A5 agg-breadth rows this one exercised the LEAST engine code — the
# plan is pure Catalyst GROUPING SETS over a plain scan (no engine
# operator, no index path, no UDF), so its driver hash re-proved
# upstream Spark, not this repo.  The same Spark-vs-DuckDB hash check
# moved to tests/test_pytest_oracles.py::test_rollup_matches_duckdb;
# sql_agg_breadth + sql_median_exact keep A5's driver evidence.
_register(
    "sql_rollup",
    q_rollup,
    SQL_ROLLUP,
    registered=False,
    evidence=(
        "rotated out r11 (slot went to similarity_ann_auto_topk — "
        "ann_index.py's first driver row): ROLLUP is pure Catalyst "
        "grouping-sets with no engine code in the path; the identical "
        "oracle hash check runs in tests/test_pytest_oracles.py::"
        "test_rollup_matches_duckdb every pytest run"
    ),
)


def q_both_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: customers holding both open ('O') and finished ('F') orders."""
    o = load_table(spark, sf_dir, "orders")
    open_c = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    f_c = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.intersect(f_c)


# NOT registered: the driver sweep caps at 50 rows and the INTERSECT
# evidence is redundant with sql_set_except (§2.6 set ops); its slot went
# to dedup_minhash_clusters.
SET_INTERSECT_SQL = """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """

_register(
    "sql_set_intersect",
    q_both_status_customers,
    SET_INTERSECT_SQL,
    registered=False,
    evidence=(
        "INTERSECT redundant with sql_set_except's driver row; "
        "oracle-checked by tests/test_property_oracle.py"
        "::test_set_intersect_oracle"
    ),
)


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events stream table."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_register(
    "sql_events_hourly",
    q_events_hourly,
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag window: a session starts after a >30 min gap.

    Gap arithmetic is in microseconds (``epoch_us``, NTZ-safe): event
    timestamps
    carry sub-second parts, and truncating to whole seconds misclassifies
    a gap that straddles the 1800 s boundary within a fractional second
    (round-1 hash mismatch).  The oracle mirrors with ``epoch_us``.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = epoch_us("ts")
    gap = us - F.lag(us).over(w)
    starts = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (
        e.withColumn("is_start", starts)
        .groupBy("user_id")
        .agg(F.sum("is_start").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


_register(
    "sql_events_sessionize",
    q_events_sessions,
    """
    SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  )) > 1800000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ) GROUP BY user_id
    """,
)


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: extract props.k, aggregate per event type."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.count("*").alias("n"),
        )
    )


def q_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming/windows.windowed_event_counts on the batch events table —
    the unified-API twin of the streaming path (same code both modes);
    window struct formatted to string for cross-engine hashing."""
    from .streaming.windows import windowed_event_counts

    out = windowed_event_counts(load_table(spark, sf_dir, "events"))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental-merge logic, oracle-gated: two half-table
    merges into a fresh versioned index must equal the one-shot postings
    build (streaming/index_maintenance.py)."""
    from .registry import scratch_dir
    from .streaming.index_maintenance import merge_postings_batch, read_index

    li = load_table(spark, sf_dir, "lineitem")
    # wipe: the two-merge sequence must start from an EMPTY index — a
    # leftover _LATEST from a prior run would merge on top and duplicate
    d = scratch_dir("inc_idx", sf_dir, wipe=True)
    # n_buckets is the per-index scale dial (grows with corpus); 4 suits
    # a 3-value test index — the default 16 just multiplies file count
    merge_postings_batch(
        li.where(F.col("l_orderkey") % 2 == 0), "l_returnflag", d,
        doc_id_col="l_orderkey", n_buckets=4,
    )
    merge_postings_batch(
        li.where(F.col("l_orderkey") % 2 == 1), "l_returnflag", d,
        doc_id_col="l_orderkey", n_buckets=4,
    )
    return csv_array(read_index(spark, d), "doc_ids")


_register(
    "streaming_incremental_index",
    q_incremental_index,
    f"""
    SELECT CAST(l_returnflag AS VARCHAR) AS value,
           {csv_array_sql('list(l_orderkey)')} AS doc_ids
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_orderkey IS NOT NULL
    GROUP BY 1
    """,
)


_register(
    "streaming_windowed_counts",
    q_stream_windowed,
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (batch mode) — gap-based sessions per user."""
    from .streaming.windows import session_event_counts

    out = session_event_counts(load_table(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
    )


_register(
    "streaming_session_windows",
    q_stream_sessions,
    # Session reconstruction: new session when the gap >= 30 min (Spark
    # session windows are [start, last_ts + gap), so an event landing
    # exactly at the previous end starts a new session); end = last + gap.
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
             ) AS sess_id
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """,
)


_register(
    "sql_events_json_extract",
    q_events_json,
    """
    SELECT event_type,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
             AS avg_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)

"""Property fuzz for the ANN family (r10 VERDICT task 7).

The family now carries three generations of NULL encodings (pre-r9,
r9 zero-norm, r10 NaN-vnorm) plus half-up rounding and tie ordering —
each unit-pinned, but fuzz is what caught the twin divergences in r8
(test_property_oracle's text twins).  This file drives
hypothesis-generated corpora mixing NULL / zero / dyadic-.5 vectors
through the numpy serve paths and asserts EXACT agreement with the
pure-expression twins:

- ``ann_search`` (full probe) vs ``similarity.brute_force_topk``;
- ``ann_search_pq`` (full probe + corpus-covering rerank) vs the same;
- ``_assign_cells`` vs an expression crossJoin + round + window twin;
- ragged (mixed-width) corpora REFUSED loudly at the index lifecycle.

Contract notes (pinned semantics, not fudges):
- NULL corpus vectors are never emitted as neighbors (r9 ADVICE) →
  dropped from the twin's corpus;
- a materialized index is defined over ONE width: the first fuzz run
  of this file produced the counterexample (a w3 row in a w2 index
  served cos 0.8165 — 2-dim dot over a 3-dim norm — where every
  consistent projection gives 1.0), and the fix is the
  ``_uniform_width`` lifecycle guard, pinned here by the ragged test.

Dyadic component values (±0.25/±0.5/±0.75/±1) make dot products and
norms exactly representable, so rounded sims repeatedly land ON the
half-up boundary — the class where np.round (half-to-even) diverged
from F.round in r9.
"""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.functions.vectors import cosine
from polars_w_inverted_index_spark.operators.ann_index import (
    _assign_cells,
    ann_search,
    build_ann_index,
    kmeans_centroids,
)
from polars_w_inverted_index_spark.operators.similarity import (
    brute_force_topk,
)
from polars_w_inverted_index_spark.session import get_session

DYADIC = [-1.0, -0.75, -0.5, -0.25, 0.0, 0.25, 0.5, 0.75, 1.0]
K = 3

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

SCHEMA = "vec_id long, embedding array<double>"


def _corpus_and_queries(min_corpus=5, max_corpus=10, max_q=3):
    """One strategy so every example shares ONE width: (width,
    corpus list with NULLs, non-null query list)."""
    return st.integers(2, 5).flatmap(
        lambda w: st.tuples(
            st.lists(
                st.one_of(
                    st.none(),
                    st.lists(
                        st.sampled_from(DYADIC), min_size=w, max_size=w
                    ),
                ),
                min_size=min_corpus,
                max_size=max_corpus,
            ),
            st.lists(
                st.lists(st.sampled_from(DYADIC), min_size=w, max_size=w),
                min_size=1,
                max_size=max_q,
            ),
        )
    )


def _key(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in df.collect()
    )


def _frames(spark, corpus_vecs, query_vecs):
    """Corpus ids are 0..n-1; query ids 0..m-1 so self-match exclusion
    is exercised whenever a query id collides with a corpus id.  The
    twin corpus drops NULL vectors (the never-emitted contract)."""
    corpus = spark.createDataFrame(list(enumerate(corpus_vecs)), SCHEMA)
    queries = spark.createDataFrame(list(enumerate(query_vecs)), SCHEMA)
    twin_corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(corpus_vecs) if v is not None],
        SCHEMA,
    )
    return corpus, queries, twin_corpus


@_SETTINGS
@given(cq=_corpus_and_queries())
def test_fuzz_ann_search_full_probe_equals_brute_force(cq):
    corpus_vecs, query_vecs = cq
    assume(sum(v is not None for v in corpus_vecs) >= K + 1)
    spark = get_session("property_tests")
    corpus, queries, twin_c = _frames(spark, corpus_vecs, query_vecs)
    with tempfile.TemporaryDirectory(prefix="ann_fuzz_") as root:
        build_ann_index(corpus, root, n_centroids=2, n_iters=1)
        got = _key(ann_search(spark, root, queries, k=K, nprobe=2))
    want = _key(brute_force_topk(twin_c, queries, k=K))
    assert got == want


@_SETTINGS
@given(cq=_corpus_and_queries(max_q=2))
def test_fuzz_ann_search_pq_full_rerank_equals_brute_force(cq):
    """PQ quantizes only the CANDIDATE recall; with every cell probed
    and the rerank covering the corpus the exact rescore must equal
    brute force on any NULL/zero/dyadic corpus."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )

    corpus_vecs, query_vecs = cq
    assume(sum(v is not None for v in corpus_vecs) >= K + 1)
    spark = get_session("property_tests")
    corpus, queries, twin_c = _frames(spark, corpus_vecs, query_vecs)
    with tempfile.TemporaryDirectory(prefix="annpq_fuzz_") as root:
        build_ann_index(corpus, root, n_centroids=2, n_iters=1)
        pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=4)
        got = _key(
            ann_search_pq(
                spark, root, queries, k=K, nprobe=2, rerank_factor=1000
            )
        )
    want = _key(brute_force_topk(twin_c, queries, k=K))
    assert got == want


@_SETTINGS
@given(cq=_corpus_and_queries(min_corpus=4))
def test_fuzz_assign_cells_matches_expression_twin(cq):
    """_assign_cells (numpy GEMM, half-up round, ties → lowest cid) vs
    the pure-expression twin it replaced: crossJoin against the
    centroid frame, functions.vectors.cosine (zero-norm → 0.0), F.round
    (HALF_UP), row_number ordered (sim desc, cid asc)."""
    corpus_vecs, _ = cq
    assume(sum(v is not None for v in corpus_vecs) >= 2)
    spark = get_session("property_tests")
    corpus = spark.createDataFrame(list(enumerate(corpus_vecs)), SCHEMA)
    cent = kmeans_centroids(corpus, n_centroids=2, n_iters=1)

    live = corpus.where(F.col("embedding").isNotNull())
    got = {
        (r["_id"], r["cell"])
        for r in _assign_cells(
            live, cent, "vec_id", "embedding", keep_n=1
        ).collect()
    }

    from pyspark.sql import Window

    scored = (
        live.crossJoin(
            F.broadcast(cent.select("cid", F.col("centv").alias("cv")))
        )
        .select(
            "vec_id",
            "cid",
            F.round(cosine("embedding", "cv"), 5).alias("sim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("sim").desc(), F.col("cid").asc()
                )
            ),
        )
        .where(F.col("rk") == 1)
    )
    want = {(r["vec_id"], r["cid"]) for r in scored.collect()}
    assert got == want


def test_null_element_corpus_refused_at_lifecycle(spark, tmp_path):
    """A vector containing a NULL ELEMENT (not a NULL vector) decodes
    to NaN in every GEMM kernel — cosine is undefined and the serve
    would rank the row arbitrarily where the expression twins score
    0.0.  The lifecycle guard must refuse it loudly at build AND at
    ingest (r11.5; the array_compact check rides the existing
    width-guard aggregate)."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_index_add_batch,
    )

    good = [(i, [1.0, 0.5]) for i in range(4)]
    bad = spark.createDataFrame(good + [(9, [1.0, None])], SCHEMA)
    with pytest.raises(ValueError, match="NULL, NaN or infinite"):
        build_ann_index(bad, str(tmp_path / "idx"), n_centroids=2)
    # NaN elements too: array_compact does NOT strip NaN, and an
    # unguarded NaN-element row serves at rank 1 from the float path
    # (Spark sorts NaN above every double) while the PQ path drops it
    # — the review-verified two-path divergence this gate closes
    nan_bad = spark.createDataFrame(
        good + [(9, [1.0, float("nan")])], SCHEMA
    )
    with pytest.raises(ValueError, match="NULL, NaN or infinite"):
        build_ann_index(nan_bad, str(tmp_path / "idx_nan"), n_centroids=2)
    # clean build, then a poisoned ingest batch must be refused too
    clean = spark.createDataFrame(good, SCHEMA)
    root = str(tmp_path / "idx2")
    build_ann_index(clean, root, n_centroids=2, n_iters=1)
    batch = spark.createDataFrame([(10, [None, 2.0])], SCHEMA)
    with pytest.raises(ValueError, match="NULL, NaN or infinite"):
        ann_index_add_batch(spark, root, batch)
    nan_batch = spark.createDataFrame([(10, [float("nan"), 2.0])], SCHEMA)
    with pytest.raises(ValueError, match="NULL, NaN or infinite"):
        ann_index_add_batch(spark, root, nan_batch)
    # ±inf elements are the same failure class (r12): norm inf makes
    # every cosine NaN (inf/inf), so the float serve would rank the
    # row FIRST (Spark sorts NaN above every double) while the PQ
    # ADC's sims go NaN — refuse at build AND ingest like NULL/NaN
    for inf_val in (float("inf"), float("-inf")):
        inf_bad = spark.createDataFrame(good + [(9, [1.0, inf_val])], SCHEMA)
        with pytest.raises(ValueError, match="NULL, NaN or infinite"):
            build_ann_index(
                inf_bad, str(tmp_path / f"idx_inf_{inf_val > 0}"),
                n_centroids=2,
            )
        inf_batch = spark.createDataFrame([(10, [inf_val, 2.0])], SCHEMA)
        with pytest.raises(ValueError, match="NULL, NaN or infinite"):
            ann_index_add_batch(spark, root, inf_batch)


def test_ragged_corpus_refused_at_lifecycle(spark, tmp_path):
    """The fuzz counterexample, pinned as the lifecycle contract: a
    mixed-width corpus must raise loudly at build (and a mismatched
    batch at ingest) instead of serving two different projections of
    the same row (w3 row in a 'w2' index scored a 2-dim dot over a
    3-dim norm: cos 0.8165 where every consistent projection is 1.0)."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_index_add_batch,
    )

    ragged = spark.createDataFrame(
        [(0, [-1.0, -1.0]), (1, None), (2, [-1.0, -1.0, -1.0]),
         (3, [-1.0, -1.0])],
        SCHEMA,
    )
    with pytest.raises(ValueError, match="mixed widths"):
        build_ann_index(ragged, str(tmp_path / "ann_ragged"))

    uniform = ragged.where(F.size("embedding") == 2)
    root = str(tmp_path / "ann_uniform")
    build_ann_index(uniform, root, n_centroids=1, n_iters=0)
    wide_batch = spark.createDataFrame([(9, [1.0, 1.0, 1.0])], SCHEMA)
    with pytest.raises(ValueError, match="dims=2"):
        ann_index_add_batch(spark, root, wide_batch)
    # NULL-only batches carry no width and still ingest
    assert ann_index_add_batch(
        spark, root, spark.createDataFrame([(10, None)], SCHEMA)
    ) == 1


def test_serving_policy_encodes_measured_rule(spark, tmp_path, monkeypatch):
    """ann_serving_policy is the SCALE.md crossover rule as code: float
    under the tie, pq past it on selective probes, float on full
    sweeps, pq when the tree is unlistable, float without a sidecar —
    and ann_search_auto dispatches to the path the policy names."""
    import polars_w_inverted_index_spark.operators.ann_index as ai

    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(
            ((F.col("id") % 7) / 3.0 - 1.0),
            ((F.col("id") % 5) / 2.0 - 1.0),
            ((F.col("id") % 3) / 1.0 - 1.0),
            ((F.col("id") % 11) / 5.0 - 1.0),
        ).alias("embedding"),
    )
    root = str(tmp_path / "ann_auto")
    ai.build_ann_index(emb, root, n_centroids=4, n_iters=1)

    # no sidecar yet -> float, whatever the bytes
    assert ai.ann_serving_policy(root, 2)["path"] == "float"

    ai.pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=4)
    q = emb.where(F.col("vec_id") < 3)

    # tiny local index -> under the tie -> float
    pol = ai.ann_serving_policy(root, 2)
    assert pol["path"] == "float" and pol["probed_bytes_est"] < pol[
        "tie_bytes"
    ]
    # the PQ-only dial must be tolerated when the policy picks float
    got = ai.ann_search_auto(spark, root, q, k=3, nprobe=2,
                             rerank_factor=7)
    want = ai.ann_search(spark, root, q, k=3, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # past the tie on a selective probe -> pq (force via bandwidth=0)
    pol = ai.ann_serving_policy(root, 2, bandwidth_mbps=0.001)
    assert pol["path"] == "pq"
    got_pq = ai.ann_search_auto(
        spark, root, q, k=3, nprobe=2, bandwidth_mbps=0.001,
        rerank_factor=1000,
    )
    want_pq = ai.ann_search_pq(
        spark, root, q, k=3, nprobe=2, rerank_factor=1000
    )
    assert sorted(map(tuple, got_pq.collect())) == sorted(
        map(tuple, want_pq.collect())
    )

    # full sweep stays float even past the tie (measured r11)
    assert (
        ai.ann_serving_policy(root, 4, bandwidth_mbps=0.001)["path"]
        == "float"
    )

    # unlistable tree -> assume large -> pq (the gate's fail direction)
    monkeypatch.setattr(
        ai, "_tree_bytes", lambda d: (_ for _ in ()).throw(OSError(5, "x"))
    )
    pol = ai.ann_serving_policy(root, 2)
    assert pol["path"] == "pq" and "listable" in pol["reason"]

    # a NON-LOCAL root must not fall through to the (local) sidecar
    # stat and misreport "no PQ sidecar" — it assumes large up front
    pol = ai.ann_serving_policy("s3a://bucket/index", 2)
    assert pol["path"] == "pq" and "not locally listable" in pol["reason"]


def test_serving_policy_prefers_index_bandwidth_stamp(spark, tmp_path):
    """r11 VERDICT Missing #3: a deployment that never passes
    ``bandwidth_mbps`` must resolve the float-vs-PQ tie from the
    measured stamp in ``_ann_meta.json``, not the dev box's 344 MB/s
    literal.  Plant a stamp and observe the tie (and the chosen path)
    move; an explicit argument still outranks the stamp."""
    import json as _json

    import polars_w_inverted_index_spark.operators.ann_index as ai

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            ((F.col("id") % 7) / 3.0 - 1.0),
            ((F.col("id") % 5) / 2.0 - 1.0),
        ).alias("embedding"),
    )
    root = str(tmp_path / "ann_bw")
    ai.build_ann_index(emb, root, n_centroids=4, n_iters=1)
    ai.pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=4)
    meta_path = tmp_path / "ann_bw" / "_ann_meta.json"
    meta = _json.loads(meta_path.read_text())
    # this test index is a few KB — the bounded probe refuses to stamp
    # (min_bytes gate: a tiny read times syscall overhead, not the
    # disk) and the policy stays on its documented default
    assert "bandwidth_mbps" not in meta
    pol = ai.ann_serving_policy(root, 2)
    assert pol["bandwidth_source"] == "default"
    assert pol["bandwidth_mbps"] == 344.0 and pol["path"] == "float"

    # plant a near-zero stamp: the tie collapses and the same probe
    # now resolves to pq — from index metadata alone, no argument
    meta["bandwidth_mbps"] = 0.001
    meta_path.write_text(_json.dumps(meta))
    pol = ai.ann_serving_policy(root, 2)
    assert pol["bandwidth_source"] == "index_stamp"
    assert pol["tie_bytes"] == int(0.001 * 1e6 * 6.0)
    assert pol["path"] == "pq"

    # a huge stamp moves the tie the other way
    meta["bandwidth_mbps"] = 1e9
    meta_path.write_text(_json.dumps(meta))
    pol = ai.ann_serving_policy(root, 2)
    assert pol["bandwidth_source"] == "index_stamp"
    assert pol["path"] == "float"

    # an explicit argument outranks the stamp
    pol = ai.ann_serving_policy(root, 2, bandwidth_mbps=0.001)
    assert pol["bandwidth_source"] == "argument" and pol["path"] == "pq"


def test_measure_cold_bandwidth_bounded_probe(tmp_path):
    """The build-time probe: refuses tiny trees (min_bytes), skips
    hidden marker files, measures a plausible positive rate on a real
    multi-MB tree, and never reads more than ~budget_bytes."""
    import polars_w_inverted_index_spark.operators.ann_index as ai

    cells = tmp_path / "cells" / "cell=0" / "ingest_batch=-1"
    cells.mkdir(parents=True)
    (cells / "part-0.parquet").write_bytes(b"x" * (1 << 20))
    (cells / "_SUCCESS").write_bytes(b"")
    # 1 MB visible < min_bytes=4 MB -> unmeasurable, no stamp
    assert ai._measure_cold_bandwidth_mbps(str(tmp_path / "cells")) is None

    (cells / "part-1.parquet").write_bytes(b"y" * (8 << 20))
    got = ai._measure_cold_bandwidth_mbps(str(tmp_path / "cells"))
    assert got is not None
    mbps, probed = got
    assert mbps > 0
    # both visible files fit the budget; the hidden marker is skipped
    assert probed == (1 << 20) + (8 << 20)
    # budget bound: with a tiny budget only the largest file is probed
    got2 = ai._measure_cold_bandwidth_mbps(
        str(tmp_path / "cells"), budget_bytes=5 << 20, min_bytes=1 << 20
    )
    assert got2 is not None and got2[1] == (8 << 20)
    # missing tree -> None, never a raise (best-effort stamping)
    assert ai._measure_cold_bandwidth_mbps(str(tmp_path / "nope")) is None


@_SETTINGS
@given(cq=_corpus_and_queries())
def test_fuzz_brute_force_gemm_matches_expression(cq):
    """The similarity ground-truth twins themselves: the mapInArrow
    GEMM engine vs the pure-expression form on NULL/zero/dyadic
    corpora.  First run of this fuzz (by inspection) found the
    expression form fabricating cos 0.0 for NULL corpus vectors (the
    zero-norm `otherwise` catches NULL) while the GEMM form live-masks
    them — the same fabricated-0.0 rank bug r9 fixed in ann_search;
    the expression corpus now filters NULL vectors, pinned here."""
    from polars_w_inverted_index_spark.operators.similarity import (
        brute_force_topk_gemm,
    )

    corpus_vecs, query_vecs = cq
    assume(sum(v is not None for v in corpus_vecs) >= 2)
    spark = get_session("property_tests")
    corpus, queries, _twin = _frames(spark, corpus_vecs, query_vecs)
    got = _key(brute_force_topk_gemm(corpus, queries, k=K))
    want = _key(brute_force_topk(corpus, queries, k=K))
    assert got == want
    # and no NULL-vector id ever surfaces as a neighbor
    null_ids = {i for i, v in enumerate(corpus_vecs) if v is None}
    assert all(n not in null_ids for (_q, n, _s, _r) in got)


@_SETTINGS
@given(cq=_corpus_and_queries(min_corpus=5, max_corpus=10, max_q=2))
def test_fuzz_ivf_topk_gemm_assign_matches_expression(cq):
    """r11: ivf_topk's default GEMM cell assignment vs its
    ``assign="expr"`` twin under the same NULL/zero/dyadic fuzz — the
    whole result frame (ids, half-up-rounded sims, ranks) must match,
    which pins the argmax/lexsort tie rule (rounded ccos desc, cid
    asc) and the ~(norm > 0) zero/NaN mask against the expression
    semantics (NULL/ragged QUERY shapes are the deterministic twin
    test's job — this fuzz varies the corpus).  nprobe=1 <
    n_centroids=2 is LOAD-BEARING: at full probe every query searches
    every cell and the result is invariant to the assignment, so a
    broken tie rule would pass unnoticed (r11.5 review finding) —
    a selective probe makes the cell choice observable."""
    from polars_w_inverted_index_spark.operators.similarity import ivf_topk

    corpus_vecs, query_vecs = cq
    assume(sum(v is not None for v in corpus_vecs) >= 2)
    spark = get_session("property_tests")
    corpus, queries, _twin = _frames(spark, corpus_vecs, query_vecs)
    kw = dict(k=K, n_centroids=2, nprobe=1)
    got = _key(ivf_topk(corpus, queries, assign="gemm", **kw))
    want = _key(ivf_topk(corpus, queries, assign="expr", **kw))
    assert got == want


@_SETTINGS
@given(cq=_corpus_and_queries(min_corpus=4, max_corpus=10))
def test_fuzz_hyperplane_signature_gemm_matches_expression(cq):
    """r11: the LSH signature GEMM pass vs the expression form,
    sig-for-sig, under NULL/zero/dyadic fuzz.  Dyadic components make
    every ±1-weighted projection exactly representable, so sign
    decisions land ON the 0 boundary repeatedly — the class where an
    engine disagreement would show (both engines must call proj == 0
    'not positive')."""
    from polars_w_inverted_index_spark.operators.similarity import (
        hyperplane_signature,
        hyperplane_signature_gemm,
    )

    corpus_vecs, _ = cq
    spark = get_session("property_tests")
    corpus = spark.createDataFrame(list(enumerate(corpus_vecs)), SCHEMA)
    got = {
        r["vec_id"]: r["sig"]
        for r in hyperplane_signature_gemm(corpus).collect()
    }
    want = {
        r["vec_id"]: r["sig"]
        for r in hyperplane_signature(corpus).collect()
    }
    assert got == want and len(got) == len(corpus_vecs)


@_SETTINGS
@given(cq=_corpus_and_queries(min_corpus=6, max_corpus=12))
def test_fuzz_embedding_cosine_pairs_gemm_matches_expression(cq):
    """The dedup family's GEMM/expression twins under the same fuzz:
    identical pair sets (ids AND half-up-rounded sims) on NULL/zero/
    dyadic corpora — extends the fixed-fixture equality test to the
    boundary classes."""
    import polars_w_inverted_index_spark.operators.dedup as DD

    corpus_vecs, _ = cq
    spark = get_session("property_tests")
    corpus = spark.createDataFrame(list(enumerate(corpus_vecs)), SCHEMA)
    got = sorted(
        map(
            tuple,
            DD.embedding_cosine_pairs_gemm(
                corpus, threshold=0.25
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            DD.embedding_cosine_pairs(corpus, threshold=0.25).collect(),
        )
    )
    assert got == want


def _corpus_with_bad_elements(min_corpus=5, max_corpus=10, max_q=3):
    """Like _corpus_and_queries, but corpus AND query vectors may carry
    NULL / NaN / ±inf ELEMENTS, and queries may be NULL vectors (one
    shared width, the brute contract — a NULL query zero-pads → norm 0
    → the guard's 0.0 in both twins, r12).  Separate strategy on
    purpose: the lifecycle fuzzes must stay on gate-clean corpora (the
    index gate REFUSES these elements)."""
    elem = st.one_of(
        st.sampled_from(DYADIC),
        st.sampled_from(
            [None, float("nan"), float("inf"), float("-inf")]
        ),
    )
    return st.integers(2, 4).flatmap(
        lambda w: st.tuples(
            st.lists(
                st.one_of(
                    st.none(),
                    st.lists(elem, min_size=w, max_size=w),
                ),
                min_size=min_corpus,
                max_size=max_corpus,
            ),
            st.lists(
                st.one_of(
                    st.none(),
                    st.lists(elem, min_size=w, max_size=w),
                ),
                min_size=1,
                max_size=max_q,
            ),
        )
    )


def _nan_key(df):
    return sorted(
        (
            (
                r["query_id"],
                r["neighbor_id"],
                "NaN" if r["cos_sim"] != r["cos_sim"] else r["cos_sim"],
                r["rank"],
            )
            for r in df.collect()
        ),
        key=lambda t: tuple(repr(x) for x in t),
    )


@_SETTINGS
@given(cq=_corpus_with_bad_elements())
def test_fuzz_brute_twins_agree_on_undefined_norm_vectors(cq):
    """r12: the brute twins under NULL/NaN/±inf ELEMENT fuzz.  The
    dyadic generator intentionally avoided these shapes, which is how
    the `norm == 0` mask (NaN slipped past into inconsistent NaN
    ranks) and lexsort's NaN-last order (Spark ranks NaN FIRST under
    DESC) survived to r12 — this generator makes both permanent."""
    from polars_w_inverted_index_spark.operators.similarity import (
        brute_force_topk_gemm,
    )

    corpus_vecs, query_vecs = cq
    assume(sum(v is not None for v in corpus_vecs) >= 2)
    spark = get_session("property_tests")
    corpus, queries, _twin = _frames(spark, corpus_vecs, query_vecs)
    got = _nan_key(brute_force_topk_gemm(corpus, queries, k=K))
    want = _nan_key(brute_force_topk(corpus, queries, k=K))
    assert got == want


def test_ann_serves_match_brute_on_undefined_norm_queries(spark, tmp_path):
    """r12: the serve paths' QUERY side is not lifecycle-gated, so a
    NULL-element / NaN-element / ±inf-element / zero query must serve
    exactly like the brute expression twin at full coverage: NULL
    element → the guard's NULL norm → 0.0 everywhere (q_zero, wired
    from the collected rows through _score/_adc/_probe_rank); NaN/inf
    element → NaN scores, ranked FIRST (Spark's NaN-largest order);
    zero → 0.0.  Pins ann_search AND ann_search_pq (corpus-covering
    rerank) against brute_force_topk."""
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )

    base = [float((i * 5) % 9 - 4) or 2.0 for i in range(4)]
    corpus = spark.createDataFrame(
        [
            (0, base),
            (1, [-v for v in base]),
            (2, [v * 0.5 for v in base]),
            (3, [0.0] * 4),
            (4, None),  # NULL vector rides through the build unscored
            (5, [v * 3 for v in base]),
        ],
        SCHEMA,
    )
    queries = spark.createDataFrame(
        [
            (100, base),
            (101, base[:1] + [None] + base[2:]),           # NULL elem
            (102, base[:2] + [float("nan")] + base[3:]),   # NaN elem
            (103, base[:3] + [float("-inf")]),             # inf elem
            (104, [0.0] * 4),                              # zero query
        ],
        SCHEMA,
    )

    def nan_key(df):
        return sorted(
            (
                (
                    r["query_id"],
                    r["neighbor_id"],
                    "NaN" if r["cos_sim"] != r["cos_sim"] else r["cos_sim"],
                    r["rank"],
                )
                for r in df.collect()
            ),
            key=lambda t: tuple(repr(x) for x in t),
        )

    twin = corpus.where(F.col("embedding").isNotNull())
    want = nan_key(brute_force_topk(twin, queries, k=K))
    root = str(tmp_path / "ann_badq")
    build_ann_index(corpus, root, n_centroids=2, n_iters=1)
    got = nan_key(ann_search(spark, root, queries, k=K, nprobe=2))
    assert got == want
    pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=4)
    got_pq = nan_key(
        ann_search_pq(
            spark, root, queries, k=K, nprobe=2, rerank_factor=1000
        )
    )
    assert got_pq == want
    # observability: the NaN-element and inf-element queries really do
    # emit NaN-scored neighbors at rank 1 in every path
    for rows in (want, got, got_pq):
        for qid in (102, 103):
            r1 = [t for t in rows if t[0] == qid and t[3] == 1]
            assert r1 and r1[0][2] == "NaN", (qid, rows)


@_SETTINGS
@given(cq=_corpus_with_bad_elements(min_corpus=5, max_corpus=10, max_q=2))
def test_fuzz_ivf_gemm_assign_matches_expression_on_bad_elements(cq):
    """The ivf twins under the same NULL/NaN/±inf ELEMENT fuzz that
    corrected the brute twins (r12): centroids seed from the corpus, so
    bad elements reach BOTH sides of the assign GEMM — NULL elements
    must take the guard's zero branch (from the Arrow validity mask /
    the collected centroid rows), NaN/inf elements must score NaN and
    rank in the NaN tier, exactly like the expression form.  nprobe=1
    < n_centroids=2 keeps the assignment observable (full probe is
    invariant to it)."""
    from polars_w_inverted_index_spark.operators.similarity import ivf_topk

    corpus_vecs, query_vecs = cq
    assume(sum(v is not None for v in corpus_vecs) >= 2)
    spark = get_session("property_tests")
    corpus, queries, _twin = _frames(spark, corpus_vecs, query_vecs)
    kw = dict(k=K, n_centroids=2, nprobe=1)
    want = _nan_key(ivf_topk(corpus, queries, assign="expr", **kw))
    got = _nan_key(ivf_topk(corpus, queries, assign="gemm", **kw))
    assert got == want


ANN_CRASH_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("ingest"), st.integers(0, 3)),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("fold_cells"), st.none()),
        st.tuples(st.just("crash_fold_orphan"), st.none()),
        st.tuples(st.just("crash_ingest_pre_swap"), st.none()),
        st.tuples(st.just("crash_prune_window"), st.none()),
    ),
    min_size=2,
    max_size=5,
)

_ANN_CRASH_SETTINGS = settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@_ANN_CRASH_SETTINGS
@given(ops=ANN_CRASH_OPS)
def test_fuzz_ann_maintenance_crash_states_heal(ops, tmp_path_factory):
    """The ANN-index analog of the LSM crash fuzz, rewritten for the
    r14 snapshot manifest (renames are gone, so the pre-r14 swap-window
    states cannot arise; the manifest design's own crash states are):

    - ``crash_fold_orphan``: a fold allocated its generation (manifest
      gen bumped) and wrote data directories but crashed before the
      swap — the dirs are referenced by NO manifest, invisible to every
      reader, and must be collected by a later fold's orphan sweep,
      never resurrected;
    - ``crash_ingest_pre_swap``: an ingest wrote its commit directory
      but crashed before its manifest swap and was ABANDONED (no
      replay) — same invariant: invisible, swept by a later fold;
    - ``crash_prune_window``: a prune deleted a retired directory but
      crashed before the swap that drops its entry — the manifest
      names a missing path, which later prunes must tolerate
      (ignore_errors) and eventually clear;

    interleaved with REAL ingest / full compact / selective folds.
    Serving must equal brute force over exactly the ingested rows at
    every point (crash states are invisible by construction — that IS
    the snapshot-isolation property), and a final grace-0 compact
    leaves the physical trees exactly equal to the manifest's live
    sets (every orphan and retired dir gone)."""
    import glob as _glob
    import os
    import shutil

    import polars_w_inverted_index_spark.operators.ann_index as ai
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_index_add_batch,
        ann_index_compact,
        ann_index_compact_cells,
    )

    spark = get_session("property_tests")
    root = str(tmp_path_factory.mktemp("ann_crash") / "idx")
    W = 3

    def vec(i):
        return [float((i * 3 + j) % 7 - 3) or 1.0 for j in range(W)]

    base_rows = [(i, vec(i)) for i in range(6)]
    build_ann_index(
        spark.createDataFrame(base_rows, SCHEMA), root,
        n_centroids=2, n_iters=1,
    )
    ingested = list(base_rows)
    next_id = 100
    cells = os.path.join(root, "cells")
    queries = spark.createDataFrame(
        [(1000, vec(0)), (1001, vec(3))], SCHEMA
    )

    def any_live_base_dir():
        m = ai._load_manifest(root)
        for c, tags in sorted(m["cells"].items()):
            for t in tags:
                d = ai._tag_dir(root, c, t)
                if t < 0 and os.path.isdir(d):
                    return c, d
        return None, None

    def truth():
        return _key(
            brute_force_topk(
                spark.createDataFrame(ingested, SCHEMA), queries, k=K
            )
        )

    for op, arg in ops:
        if op == "ingest":
            rows = [(next_id + j, vec(next_id + j)) for j in range(arg)]
            batch = (
                spark.createDataFrame(rows, SCHEMA)
                if rows
                else spark.createDataFrame([], SCHEMA)
            )
            assert ann_index_add_batch(
                spark, root, batch, batch_tag=next_id
            ) == len(rows)
            ingested.extend(rows)
            next_id += arg + 1
        elif op == "compact":
            ann_index_compact(spark, root)
        elif op == "fold_cells":
            m = ai._load_manifest(root)
            ann_index_compact_cells(spark, root, sorted(m["cells"]))
        elif op == "crash_fold_orphan":
            c, d = any_live_base_dir()
            if d is None:
                continue
            m = ai._load_manifest(root)
            g = m["gen"] + 1
            m["gen"] = g
            ai._write_manifest(root, m)
            shutil.copytree(
                d, os.path.join(cells, f"cell={c}", f"ingest_batch={-g}")
            )
        elif op == "crash_ingest_pre_swap":
            # the commit write of a real attempt, without its swap
            rows = [(next_id, vec(next_id))]
            assigned, _touched, _n = ai._assign_batch_checkpoint(
                spark, root, spark.createDataFrame(rows, SCHEMA),
                "vec_id", "embedding",
            )
            ai._append_assigned(root, assigned, 999555)
            next_id += 2
        elif op == "crash_prune_window":
            m = ai._load_manifest(root)
            m["retired"].append(
                ["cells/cell=999/ingest_batch=-77", 0.0]
            )
            ai._write_manifest(root, m)
        # the crash state is INVISIBLE: serving equals brute force over
        # exactly the ingested rows at every interleaving point
        assert _key(
            ann_search(spark, root, queries, k=K, nprobe=2)
        ) == truth()

    # a final grace-0 full fold collects every orphan and retired dir:
    # the physical trees equal the manifest's live sets exactly
    ann_index_compact(spark, root, retire_grace_seconds=0)
    m = ai._load_manifest(root)
    assert m["retired"] == []
    live = {
        ai._tag_dir(root, c, t)
        for c, tags in m["cells"].items()
        for t in tags
    }
    physical = set(
        _glob.glob(os.path.join(cells, "cell=*", "ingest_batch=*"))
        + _glob.glob(os.path.join(root, "deltas", "ingest_batch=*"))
    )
    assert physical == live, (physical - live, live - physical)
    assert _key(ann_search(spark, root, queries, k=K, nprobe=2)) == truth()


class _Crash(RuntimeError):
    """Injected crash — distinguishable from any real failure."""


INGEST_CRASH_OPS = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.sampled_from(
            [
                "ok",
                "crash_codes",
                "crash_commit",
                "crash_fold",
                "crash_manifest",
                "crash_post_swap",
            ]
        ),
    ),
    min_size=2,
    max_size=5,
)


def _crash_after(real):
    """``real`` that raises :class:`_Crash` once it has returned, on its
    first call only."""
    calls = []

    def _boom(*a, **k):
        out = real(*a, **k)
        if not calls:
            calls.append(1)
            raise _Crash()
        return out

    return _boom


def _crash_before(real):
    def _boom(*a, **k):
        raise _Crash()

    return _boom


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=INGEST_CRASH_OPS)
def test_fuzz_ann_ingest_wrapper_crash_windows(ops, tmp_path_factory):
    """Crash-inject ``ann_ingest_batch`` at every window of its
    write-once commit and replay each crashed batch the way
    foreachBatch's at-least-once contract does —

    - AT the guarded codes encode (``crash_codes``), right AFTER the
      commit directory write (``crash_commit``), right AFTER the folded
      cells' generation write (``crash_fold``: between the
      fold-generation write and the swap), and AT the manifest swap
      itself (``crash_manifest``): files landed, nothing is visible —
      the replay sweeps the attempt's directories and re-runs, and
      nothing double-inserts in either tree.  A batch mixing folded and
      committed cells passes through both the commit and the fold
      windows;
    - right AFTER the swap (``crash_post_swap``): the one visibility
      point carries the batch id, so the replay must NO-OP (return 0);

    with the autocompact dial at 1 throughout (real selective folds
    with inline codes re-encode), a live PQ sidecar, and a final serve
    asserting BOTH paths equal brute force over exactly the ingested
    rows.  A window a batch never reaches (no commit cells, no fold,
    an empty batch) leaves that attempt uncrashed, and its replay
    no-ops."""
    import glob
    import os

    import polars_w_inverted_index_spark.streaming.ann_ingest as si
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
        pq_reencode_stale_cells,
    )

    spark = get_session("property_tests")
    root = str(tmp_path_factory.mktemp("ann_wrap_crash") / "idx")
    W = 4

    def vec(i):
        return [float((i * 5 + j) % 9 - 4) or 2.0 for j in range(W)]

    base_rows = [(i, vec(i)) for i in range(8)]
    build_ann_index(
        spark.createDataFrame(base_rows, SCHEMA), root,
        n_centroids=2, n_iters=1,
    )
    pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=4)
    ingested = list(base_rows)
    next_id, batch_id = 100, 0

    for n_rows, mode in ops:
        rows = [(next_id + j, vec(next_id + j)) for j in range(n_rows)]
        batch = (
            spark.createDataFrame(rows, SCHEMA)
            if rows
            else spark.createDataFrame([], SCHEMA)
        )
        crashed = post_swap = False
        if mode != "ok":
            # the wrapper reaches each target through the ann_index
            # module (si.AI)
            name, wrap = {
                "crash_codes": ("_encode_batch_codes", _crash_before),
                "crash_commit": ("_append_assigned", _crash_after),
                "crash_fold": ("_fold_cells", _crash_after),
                "crash_manifest": ("_write_manifest", _crash_before),
                "crash_post_swap": ("_write_manifest", _crash_after),
            }[mode]
            real = getattr(si.AI, name)
            setattr(si.AI, name, wrap(real))
            try:
                si.ann_ingest_batch(
                    batch, root, batch_id=batch_id,
                    max_batch_dirs_per_cell=1,
                )
            except _Crash:
                crashed = True
                post_swap = mode == "crash_post_swap"
            finally:
                setattr(si.AI, name, real)
        # the (re)play — for "ok" the only attempt
        got = si.ann_ingest_batch(
            batch, root, batch_id=batch_id, max_batch_dirs_per_cell=1
        )
        if crashed and not post_swap:
            assert got == len(rows)  # nothing visible: replay re-runs
        elif mode != "ok":
            assert got == 0  # the swap landed: committed replay no-ops
        ingested.extend(rows)
        next_id += n_rows + 1
        batch_id += 1

    # the manifest holds the last committed batch through every crash,
    # and no separate ingest marker exists
    m = si.AI._load_manifest(root)
    assert m["batch_id"] == batch_id - 1
    assert not glob.glob(os.path.join(root, "**", "_ANN_INGEST*"),
                         recursive=True)

    queries = spark.createDataFrame([(1000, vec(1)), (1001, vec(5))], SCHEMA)
    truth = _key(
        brute_force_topk(
            spark.createDataFrame(ingested, SCHEMA), queries, k=K
        )
    )
    assert _key(ann_search(spark, root, queries, k=K, nprobe=2)) == truth
    pq_reencode_stale_cells(spark, root)
    assert _key(
        ann_search_pq(
            spark, root, queries, k=K, nprobe=2, rerank_factor=1000
        )
    ) == truth


def test_mixed_batch_crash_windows_replay_once(tmp_path):
    """A batch whose touched cells partly fold and partly commit, with
    a crash injected after its commit directory write, after its fold
    generation write, at its guarded codes encode and at its manifest
    swap, one window per batch: each replay writes the batch exactly
    once, the replay of the committed batch no-ops, and both serve
    paths equal brute force over the ingested rows after every batch."""
    import polars_w_inverted_index_spark.operators.ann_index as ai
    import polars_w_inverted_index_spark.streaming.ann_ingest as si
    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        pq_augment_ann_index,
    )

    spark = get_session("property_tests")
    root = str(tmp_path / "idx")
    base_rows = [
        (i, [float((i * 5 + j) % 9 - 4) or 2.0 for j in range(4)])
        for i in range(16)
    ]
    build_ann_index(
        spark.createDataFrame(base_rows, SCHEMA), root,
        n_centroids=2, n_iters=1,
    )
    pq_augment_ann_index(spark, root, m_subspaces=2, n_codes=4)
    # a copy of a stored vector assigns to that vector's own cell
    by_cell: dict = {}
    for r in ai._read_cells(spark, root, ai._load_manifest(root)).collect():
        by_cell.setdefault(str(r["cell"]), [float(x) for x in r["cv"]])
    assert len(by_cell) == 2, by_cell
    (cell_a, vec_a), (cell_b, vec_b) = sorted(by_cell.items())
    ingested = list(base_rows)
    queries = spark.createDataFrame([(900, vec_a), (901, vec_b)], SCHEMA)

    def ingest(bid, rows, name=None, wrap=None):
        batch = spark.createDataFrame(rows, SCHEMA)
        if name is not None:
            real = getattr(si.AI, name)
            setattr(si.AI, name, wrap(real))
            try:
                with pytest.raises(_Crash):
                    si.ann_ingest_batch(
                        batch, root, batch_id=bid, max_batch_dirs_per_cell=1
                    )
            finally:
                setattr(si.AI, name, real)
        assert si.ann_ingest_batch(
            batch, root, batch_id=bid, max_batch_dirs_per_cell=1
        ) == len(rows)
        assert si.ann_ingest_batch(
            batch, root, batch_id=bid, max_batch_dirs_per_cell=1
        ) == 0
        ingested.extend(rows)
        truth = _key(brute_force_topk(
            spark.createDataFrame(ingested, SCHEMA), queries, k=K
        ))
        assert _key(ann_search(spark, root, queries, k=K, nprobe=2)) == truth
        assert _key(ann_search_pq(
            spark, root, queries, k=K, nprobe=2, rerank_factor=1000
        )) == truth

    def rows(bid, cells):
        return [
            (1000 * (bid + 1) + j, vec)
            for j, vec in enumerate(v for v in cells for _ in range(2))
        ]

    ingest(0, rows(0, [vec_a]))  # cell A holds one live commit
    windows = [
        ("_append_assigned", _crash_after),
        ("_fold_cells", _crash_after),
        ("_encode_batch_codes", _crash_before),
        ("_write_manifest", _crash_before),
    ]
    for bid, (name, wrap) in enumerate(windows, start=1):
        m = ai._load_manifest(root)
        held = {c for c, tags in m["cells"].items() if any(t >= 0 for t in tags)}
        assert len(held) == 1, m["cells"]  # the batch will be mixed
        ingest(bid, rows(bid, [vec_a, vec_b]), name, wrap)
        m = ai._load_manifest(root)
        # the cell that held a commit folded; the other committed
        assert all(t < 0 for t in m["cells"][held.pop()])
        stored = ai._read_cells(spark, root, m).select("vec_id").collect()
        assert sorted(r[0] for r in stored) == sorted(
            v for v, _ in ingested
        )

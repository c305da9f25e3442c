"""Benchmark harness — one JSON line for the driver.

Headline metric: the reference's canonical six-query workload
(main.rs:729-833 / README.md:17-24) re-expressed on the driver tables —
two id-set field-values queries, one full-table field-values, two id-set
numeric-stats, one full-table numeric-stats — so ``value`` is directly
comparable to BASELINE.md's per-query table (~5.9 s total at 10 M rows).

Every other registered query (dedup / similarity / text / multimodal /
SQL-breadth / streaming twins) is also timed and reported under
``queries`` so per-operator regressions are visible, but extension
operators are not summed into the baseline-comparable headline.

Timing is plan-build + execute + driver materialization (the reference
ends every query in .collect(), main.rs:321/579).  Materialization uses
``toArrow()`` — one buffer copy, the analog of the reference collecting
into Vec<i64> — never the py4j/pickle row path, which alone cost ~20 s
on the 10 M-id postings result in round 2.  A warm-up pass runs first so
JVM/codegen/page-cache one-time costs aren't billed (the reference's
parquet is likewise page-hot: it wrote the file moments earlier,
main.rs:712 vs 729), and an explicit JVM System.gc() runs between timed
queries so one query's garbage (e.g. 10 M-element aggregation states)
can't land in the next query's timing window — round 2 measured a 6-row
query at 16.8 s from exactly that bleed.

Output discipline: the driver captures a 2,000-byte tail of stdout and
parses the LAST JSON line; round 2's single line outgrew the capture
and the headline was lost.  Emission is therefore layered back-to-front
by importance (the tail truncates from the HEAD): full per-query detail
first (human-facing; may straddle the boundary harmlessly), then the
registry timings in bounded chunks, then the tracked ``ext_*`` timings
in bounded chunks (r8 lost five ext entries to an unbounded line; r9's
registry line lost its head the same way — every stream is chunked now
so a cut costs at most one chunk), then the compact headline line,
which always fits whole.  The complete record cannot fit the tail at
all (~3.5 kB of names vs 2 kB of capture — see render_output_lines),
so it is ALSO written to ``BENCH_DETAIL.json`` beside this script; the
driver commits stray repo files at round end, making the sidecar the
round's full per-entry record.  tests/test_bench_tail.py pins the
layering budgets.

Machine-drift calibration (r8 VERDICT task 1): two rounds of judging
were burned classifying uniform bench drift as environment noise vs
regression.  ``_calibration`` times a FIXED synthetic probe (no
testdata, no repo operators) at bench start and end;
``calibration_s`` rides the final line so any cross-round headline
move can be read against the machine's same-round speed, and
``logs10m_total_norm`` pre-divides the headline by the probe ratio.
r10 adds single-rep probe STAMPS at each phase boundary
(``calib_phase``): r9's brackets alone measured the machine 3× apart
within one run, so which phase the drift hit was inference — now each
entry's timing reads against the probe of its own phase.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _reference_workload():
    """The six canonical queries, shaped like main.rs:729-833."""
    from polars_w_inverted_index_spark.engine import Engine
    from polars_w_inverted_index_spark.registry import DOC_IDS
    from polars_w_inverted_index_spark.sources.tables import load_table

    def _eng(spark, sf_dir):
        return Engine(
            spark,
            df=load_table(spark, sf_dir, "lineitem"),
            doc_id_col="l_orderkey",
        )

    return {
        "ref_field_values_by_ids_returnflag": lambda s, d: _eng(s, d)
        .get_field_values_by_doc_ids("l_returnflag", DOC_IDS),
        "ref_field_values_by_ids_linestatus": lambda s, d: _eng(s, d)
        .get_field_values_by_doc_ids("l_linestatus", DOC_IDS),
        "ref_field_values_full_returnflag": lambda s, d: _eng(s, d)
        .get_field_values("l_returnflag"),
        "ref_numeric_stats_by_ids_quantity": lambda s, d: _eng(s, d)
        .get_numeric_stats_by_doc_ids("l_quantity", DOC_IDS),
        "ref_numeric_stats_by_ids_extprice": lambda s, d: _eng(s, d)
        .get_numeric_stats_by_doc_ids("l_extendedprice", DOC_IDS),
        "ref_numeric_stats_full_discount": lambda s, d: _eng(s, d)
        .get_numeric_stats("l_discount"),
    }


LOGS_N = 10_000_000
_HERE = os.path.dirname(os.path.abspath(__file__))
LOGS_DIR = os.path.join(_HERE, ".bench_data", "logs_10m")
LOGS_IDX_ROOT = os.path.join(_HERE, ".bench_data", "logs_index")


def _logs_workload(spark):
    """The reference's EXACT canonical workload (main.rs:729-833) on the
    reference's own data shape: 10 M generated log records, sorted zstd
    parquet, ``query_doc_ids = [i * 100_000 for i in 0..100]``
    (main.rs:731).  This is the apples-to-apples number against
    BASELINE.md's ~5.9 s total — the sf0.1 lineitem headline is ~16×
    smaller than the reference's table.  The fixture is generated once
    (Spark-native, seeded) and cached under .bench_data/.

    Returns ``(canonical, extra)``: the six baseline-comparable queries,
    and extra non-baseline variants (the IndexCatalog-served full-table
    postings — same answer as the base-table plan, served from the
    materialized index; its build cost is one-time, like any database
    index, and excluded from the per-query timing).
    """
    from polars_w_inverted_index_spark.engine import Engine
    from polars_w_inverted_index_spark.plans.catalog import IndexCatalog
    from polars_w_inverted_index_spark.sources.generator import generate_logs
    from polars_w_inverted_index_spark.sources.parquet import (
        write_sorted_parquet,
    )

    if not os.path.exists(os.path.join(LOGS_DIR, "_SUCCESS")):
        write_sorted_parquet(generate_logs(spark, LOGS_N), LOGS_DIR)
    logs = spark.read.parquet(LOGS_DIR)
    ids = list(range(0, LOGS_N, LOGS_N // 100))

    cat = IndexCatalog(spark, LOGS_IDX_ROOT)
    if cat.lookup("logs_10m", "source_host") is None:
        cat.build(logs, "logs_10m", "source_host", doc_id_col="doc_id")

    def _eng(s, catalog=None):
        return Engine(
            s, df=logs, doc_id_col="doc_id",
            index_catalog=catalog, table_name="logs_10m",
        )

    canonical = {
        "logs10m_field_values_by_ids_level": lambda s, d: _eng(s)
        .get_field_values_by_doc_ids("level", ids),
        "logs10m_field_values_by_ids_region": lambda s, d: _eng(s)
        .get_field_values_by_doc_ids("source_region", ids),
        "logs10m_field_values_full_host": lambda s, d: _eng(s)
        .get_field_values("source_host"),
        "logs10m_numeric_stats_by_ids_payload": lambda s, d: _eng(s)
        .get_numeric_stats_by_doc_ids("payload_size", ids),
        "logs10m_numeric_stats_by_ids_login": lambda s, d: _eng(s)
        .get_numeric_stats_by_doc_ids("user_metrics_login_time_ms", ids),
        "logs10m_numeric_stats_full_clicks": lambda s, d: _eng(s)
        .get_numeric_stats("user_metrics_clicks"),
    }
    extra = {
        "logs10m_field_values_full_host_indexed": lambda s, d: _eng(
            s, catalog=cat
        ).get_field_values("source_host"),
        # id-set postings served from the index: per-value posting filter
        # over the materialized postings, no 10 M-row base scan
        "logs10m_field_values_by_ids_host_indexed": lambda s, d: _eng(
            s, catalog=cat
        ).get_field_values_by_doc_ids("source_host", ids),
    }

    from polars_w_inverted_index_spark.plans.catalyst_ext import (
        EXTENSION_CLASS,
        INDEX_ROOT_KEY,
    )

    if EXTENSION_CLASS in spark.conf.get("spark.sql.extensions", ""):
        # JVM Catalyst rule serving the SAME query: a plain postings
        # aggregate over the base table — no Python planning layer at
        # all — rewritten in the optimizer to an index-parquet scan.
        # The root conf is set only while this entry plans (the rule
        # reads it per optimizer run), so no other bench query can be
        # silently index-served; the plan assertion makes a non-firing
        # rule a loud bench failure instead of a mislabeled timing.
        def _catalyst_served(s, d):
            from polars_w_inverted_index_spark.operators.inverted_index import (
                postings,
            )

            s.conf.set(INDEX_ROOT_KEY, LOGS_IDX_ROOT)
            try:
                q = postings(logs, "source_host", doc_id_col="doc_id")
                plan = q._jdf.queryExecution().executedPlan().toString()
                if "logs_10m__source_host" not in plan or "Exchange" in plan:
                    raise AssertionError(
                        "Catalyst index rule did not rewrite the postings "
                        "plan to an index scan:\n" + plan[:2000]
                    )
            finally:
                s.conf.unset(INDEX_ROOT_KEY)
            return q

        extra["logs10m_field_values_full_host_catalyst"] = _catalyst_served
    return canonical, extra


def _extension_workload():
    """Non-registry extension operators (pytest-gated; the oracle registry
    is capped at 50 rows) — benched so their cost is tracked per round.
    All run over the sf documents table."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.functions.scrub import (
        scrub_documents,
    )
    from polars_w_inverted_index_spark.operators.dedup import (
        semantic_dedup,
        simhash_pairs,
    )
    from polars_w_inverted_index_spark.functions.text import (
        corpus_divergence,
        repetition_profile_df,
        token_count,
        unigram_lm,
        unigram_surprisal_df,
    )
    from polars_w_inverted_index_spark.operators.chunking import (
        chunk_documents,
    )
    from polars_w_inverted_index_spark.operators.packing import (
        pack_documents,
    )
    from polars_w_inverted_index_spark.operators.search import (
        bm25_search,
        phrase_search,
        phrase_search_indexed,
        positional_postings,
    )
    from polars_w_inverted_index_spark.operators.sampling import (
        mixture_sample,
        training_shuffle,
    )
    from polars_w_inverted_index_spark.sources.tables import load_table

    def _docs(s, d):
        return load_table(s, d, "documents")

    return {
        "ext_pack_documents": lambda s, d: pack_documents(
            _docs(s, d).select(
                "doc_id", token_count("text").alias("tc")
            ),
            "tc",
            2048,
            num_shards=32,
        ),
        "ext_scrub_documents": lambda s, d: scrub_documents(_docs(s, d)),
        "ext_training_shuffle": lambda s, d: training_shuffle(
            _docs(s, d).select("doc_id", "lang", "n_chars")
        ),
        "ext_repetition_profile": lambda s, d: repetition_profile_df(
            _docs(s, d).select("doc_id", "text")
        ).drop("text"),
        "ext_simhash_pairs": lambda s, d: simhash_pairs(_docs(s, d)),
        "ext_unigram_surprisal": lambda s, d: unigram_surprisal_df(
            _docs(s, d).select("doc_id", "text")
        ),
        "ext_streaming_near_dedup": _near_dedup_two_batches,
        "ext_streaming_near_dedup_batch": _near_dedup_next_batch,
        "ext_streaming_drift": _drift_two_batches,
        "ext_streaming_drift_batch": _drift_one_batch,
        "ext_streaming_span_scrub": _span_scrub_one_batch,
        "ext_mixture_sample": lambda s, d: mixture_sample(
            _docs(s, d).select("doc_id", "lang"),
            "lang",
            {"en": 4.0, "de": 1.0, "fr": 1.0, "es": 1.0},
            temperature=2.0,
        ),
        "ext_bm25_search": lambda s, d: bm25_search(
            _docs(s, d), ["vector", "data", "spark"], top_k=100
        ),
        "ext_phrase_search": lambda s, d: phrase_search(
            _docs(s, d), "fast table"
        ),
        "ext_chunk_documents": lambda s, d: chunk_documents(
            _docs(s, d), window=128, stride=96
        ).drop("chunk_text"),
        "ext_positional_postings": lambda s, d: positional_postings(
            _docs(s, d)
        ),
        "ext_semantic_dedup": lambda s, d: semantic_dedup(
            load_table(s, d, "embeddings"), threshold=0.2
        ).select("vec_id"),
        "ext_corpus_divergence": lambda s, d: corpus_divergence(
            unigram_lm(_docs(s, d).where("doc_id % 2 = 0")),
            unigram_lm(_docs(s, d).where("doc_id % 2 = 1")),
        ),
        "ext_phrase_search_indexed": lambda s, d: phrase_search_indexed(
            positional_postings(_docs(s, d)), "fast table"
        ),
        "ext_ann_index_search": _ann_build_and_search,
        "ext_pq_search": _pq_encode_and_search,
        "ext_ann_pq_search": _ann_pq_search,
        "ext_ann_pq_probe": _ann_pq_phase("probe"),
        "ext_ann_pq_adc": _ann_pq_phase("adc"),
        "ext_bpe_train_encode": _bpe_train_encode,
        "ext_heavy_hitters_approx": lambda s, d: __import__(
            "polars_w_inverted_index_spark.operators.sketches",
            fromlist=["heavy_hitters_approx"],
        ).heavy_hitters_approx(_docs(s, d), "lang", k=10, support=64),
        "ext_frequent_ngrams": lambda s, d: __import__(
            "polars_w_inverted_index_spark.operators.sketches",
            fromlist=["frequent_ngrams"],
        ).frequent_ngrams(_docs(s, d), n=3, k=20),
        "ext_quality_model": _quality_train_score,
        "ext_line_dedup": lambda s, d: __import__(
            "polars_w_inverted_index_spark.operators.line_dedup",
            fromlist=["remove_boilerplate_lines"],
        ).remove_boilerplate_lines(_docs(s, d), max_line_df=3).select(
            "doc_id", "n_removed_lines"
        ),
        "ext_zorder_write": _zorder_roundtrip,
        "ext_top_tfidf_terms": lambda s, d: __import__(
            "polars_w_inverted_index_spark.operators.search",
            fromlist=["top_tfidf_terms"],
        ).top_tfidf_terms(_docs(s, d), k=10),
        "ext_span_dedup": lambda s, d: __import__(
            "polars_w_inverted_index_spark.operators.span_dedup",
            fromlist=["scrub_repeated_spans"],
        ).scrub_repeated_spans(_docs(s, d), k=8).select(
            # hash of the rebuilt text keeps the byte-fidelity rebuild in
            # the timed plan — a bare n_removed_tokens projection lets
            # Catalyst prune the rebuilt column, timing only detection
            # (r6 VERDICT finding #3: count()-timings-are-fake, the
            # projection edition)
            "doc_id", F.xxhash64("text").alias("text_hash"),
            "n_removed_tokens",
        ),
        "ext_resample_events": lambda s, d: __import__(
            "polars_w_inverted_index_spark.operators.resample",
            fromlist=["resample_events"],
        ).resample_events(
            load_table(s, d, "events"), 6 * 3600, fill="ffill"
        ),
        "ext_corpus_report": lambda s, d: __import__(
            "polars_w_inverted_index_spark.report",
            fromlist=["corpus_report"],
        ).corpus_report(_docs(s, d), lang_col="lang"),
    }


def _zorder_roundtrip(s, d):
    """Z-order-clustered write of sf lineitem on (orderkey, partkey),
    then a two-sided range filter that the layout's footer stats prune."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.sources.parquet import write_zordered
    from polars_w_inverted_index_spark.sources.tables import load_table

    li = load_table(s, d, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    out = scratch_dir("zorder_bench", d)
    write_zordered(li, out, ["l_orderkey", "l_partkey"])
    return (
        s.read.parquet(out)
        .where((F.col("l_partkey") < 100) & (F.col("l_orderkey") < 5000))
        .agg(F.sum("l_quantity").alias("q"))
    )


def _quality_train_score(s, d):
    """Train the hashed-LR quality model on weak labels over the
    documents table, score the same table (train + narrow scoring)."""
    from polars_w_inverted_index_spark.operators.quality_model import (
        score_quality,
        train_quality_model,
        weak_quality_labels,
    )
    from polars_w_inverted_index_spark.sources.tables import load_table

    docs = load_table(s, d, "documents").select("doc_id", "text")
    model = train_quality_model(
        weak_quality_labels(docs), n_features=1 << 14, max_iter=10
    )
    return score_quality(model, docs).drop("text")


def _pq_encode_and_search(s, d):
    """Serve a 100-query top-5 from the PQ-compressed corpus: ADC scan
    of the standing encoded codes + exact re-rank of k·4 candidates.

    Codebook training and corpus encoding are the reusable one-time
    cost (the ANN-index-build discipline): they run on the warm-up pass
    and persist keyed by the source file's identity; the timed number
    is what a query batch pays against the standing artifact — the
    corpus's float vectors are touched only for the candidate fetch."""
    import json as _json

    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.operators.pq import (
        PQCodebooks,
        pq_encode,
        pq_topk_rerank,
        pq_train,
    )
    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(s, d, "embeddings")
    st = os.stat(os.path.join(d, "embeddings.parquet"))
    root = scratch_dir(f"pq_bench_{st.st_size}_{int(st.st_mtime)}", d)
    cb_path = os.path.join(root, "codebooks.json")
    enc_path = os.path.join(root, "encoded.parquet")
    if not os.path.exists(cb_path):
        cb = pq_train(emb, m_subspaces=8, n_codes=16, n_iters=4)
        pq_encode(emb, cb).write.mode("overwrite").parquet(enc_path)
        with open(cb_path, "w") as f:  # after encode: cb_path is the marker
            _json.dump({"books": cb.books, "n_dims": cb.n_dims}, f)
    with open(cb_path) as f:
        meta = _json.load(f)
    cb = PQCodebooks(
        books=tuple(tuple(tuple(c) for c in b) for b in meta["books"]),
        n_dims=meta["n_dims"],
    )
    enc = s.read.parquet(enc_path)
    q = emb.where(F.col("vec_id") % 50 == 0)
    return pq_topk_rerank(emb, enc, q, cb, k=5, rerank_factor=4)


def _ann_pq_search(s, d):
    """Serve the same 40-query top-5 from the IVF-PQ composition:
    probe-pruned ADC over the cell-partitioned codes sidecar + exact
    re-rank of candidates only.  Reuses the ANN bench index (same
    file-identity key) and augments it with the PQ sidecar on the
    warm-up pass; the timed number is probe + codes-scan + rerank —
    the plan whose per-query I/O is codes-of-probed-cells plus
    candidates' floats."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search_pq,
        build_ann_index,
        pq_augment_ann_index,
    )
    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(s, d, "embeddings")
    st = os.stat(os.path.join(d, "embeddings.parquet"))
    # key suffix v2: r9 changed the cells-fingerprint format (hidden
    # entries skipped), so a pre-r9 sidecar under the old key would
    # raise STALE at serve; the new key rebuilds once
    root = scratch_dir(f"ann_bench_v2_{st.st_size}_{int(st.st_mtime)}", d)
    if not os.path.exists(os.path.join(root, "_ann_meta.json")):
        build_ann_index(emb, root, n_centroids=16, n_iters=1)
    if not os.path.exists(os.path.join(root, "_pq_meta.json")):
        pq_augment_ann_index(s, root, m_subspaces=8, n_codes=16)
    q = emb.where(F.col("vec_id") % 50 == 0)
    return ann_search_pq(s, root, q, k=5, nprobe=4, rerank_factor=4)


def _ann_pq_phase(stop_after):
    """Phase decomposition of ext_ann_pq_search (r8 VERDICT task 6):
    identical serve, stopped after the named phase.  Read as deltas —
    probe = ext_ann_pq_probe, ADC codes-scan + candidate top-k =
    ext_ann_pq_adc − probe, exact rerank = ext_ann_pq_search − adc.
    (Cumulative timings of one lazy plan, so each entry re-executes the
    earlier phases; the deltas are the honest per-phase costs.)"""

    def _run(s, d):
        from pyspark.sql import functions as F

        from polars_w_inverted_index_spark.operators.ann_index import (
            ann_search_pq,
            build_ann_index,
            pq_augment_ann_index,
        )
        from polars_w_inverted_index_spark.registry import scratch_dir
        from polars_w_inverted_index_spark.sources.tables import load_table

        emb = load_table(s, d, "embeddings")
        st = os.stat(os.path.join(d, "embeddings.parquet"))
        root = scratch_dir(f"ann_bench_v2_{st.st_size}_{int(st.st_mtime)}", d)
        if not os.path.exists(os.path.join(root, "_ann_meta.json")):
            build_ann_index(emb, root, n_centroids=16, n_iters=1)
        if not os.path.exists(os.path.join(root, "_pq_meta.json")):
            pq_augment_ann_index(s, root, m_subspaces=8, n_codes=16)
        q = emb.where(F.col("vec_id") % 50 == 0)
        return ann_search_pq(
            s, root, q, k=5, nprobe=4, rerank_factor=4,
            _stop_after=stop_after,
        )

    return _run


def _ann_build_and_search(s, d):
    """Serve a 10-query top-5 search from the materialized IVF index.

    The index build is the reusable one-time cost — it runs on the
    warm-up pass (missing-marker check) and is excluded from the
    timing, exactly like the logs10m postings index and the near-dedup
    corpus state; the timed number is what a query actually pays
    against the standing artifact: centroid ranking + probe-cell-pruned
    parquet reads + re-rank."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.operators.ann_index import (
        ann_search,
        build_ann_index,
    )
    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.sources.tables import load_table

    emb = load_table(s, d, "embeddings")
    # key the cached index by the source file's identity so a driver
    # testdata regeneration can never serve a stale index silently
    st = os.stat(os.path.join(d, "embeddings.parquet"))
    root = scratch_dir(f"ann_bench_v2_{st.st_size}_{int(st.st_mtime)}", d)
    if not os.path.exists(os.path.join(root, "_ann_meta.json")):
        build_ann_index(emb, root, n_centroids=16, n_iters=1)
    q = emb.where(F.col("vec_id") % 50 == 0)
    return ann_search(s, root, q, k=5, nprobe=4)


def _bpe_train_encode(s, d):
    """Train 12 BPE merges on a 200-doc sample, encode the sample."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.functions.bpe import (
        bpe_encode,
        bpe_train,
    )
    from polars_w_inverted_index_spark.sources.tables import load_table

    docs = load_table(s, d, "documents").where(F.col("doc_id") < 200)
    merges = bpe_train(docs, n_merges=12)
    return bpe_encode(docs, merges).drop("bpe_tokens")


def _near_dedup_two_batches(s, d):
    """Steady-state streaming near-dedup: ONE micro-batch (10% of the
    documents) ingested against a standing 90%-corpus band state.

    The state build is one-time — excluded from the timing exactly like
    the postings/ANN index builds (it happens on the warm-up pass and is
    reused).  Each timed call restores the pristine state snapshot (a
    metadata-sized copytree, the band table is n_bands rows/doc) so
    every rep ingests the identical batch against the identical corpus
    — the per-batch cost a production stream actually pays, with the
    delta commit keeping the state write O(batch)."""
    import shutil

    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.sources.tables import load_table
    from polars_w_inverted_index_spark.streaming import near_dedup_batch

    docs = load_table(s, d, "documents")
    # key the cached state by the source file's identity so a driver
    # testdata regeneration rebuilds instead of ingesting new docs
    # against a stale corpus state (same guard as the ANN entry)
    st = os.stat(os.path.join(d, "documents.parquet"))
    pristine = scratch_dir(
        f"near_dedup_bench_state_{st.st_size}_{int(st.st_mtime)}", d
    )
    if not os.path.exists(os.path.join(pristine, "_LATEST")):
        near_dedup_batch(
            docs.where(F.col("doc_id") % 10 != 0), pristine, batch_id=0
        )
    work = scratch_dir("near_dedup_bench_work", d)
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(pristine, work)
    a2 = near_dedup_batch(
        docs.where(F.col("doc_id") % 10 == 0), work, batch_id=1
    )
    return a2.select("doc_id")


def _near_dedup_next_batch(s, d):
    """Flatness probe for the streaming near-dedup per-batch constant
    (r8 VERDICT task 5): identical harness to ext_streaming_near_dedup
    but the standing state has ALREADY absorbed batch 1, and the timed
    commit ingests batch 2.  Read the two entries together: per-batch
    cost is O(batch) delta commits, so this entry must track
    ext_streaming_near_dedup (same-shaped batch, one-delta-larger
    state) — divergence would mean per-batch cost grows with the
    accumulated corpus."""
    import shutil

    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.sources.tables import load_table
    from polars_w_inverted_index_spark.streaming import near_dedup_batch

    docs = load_table(s, d, "documents")
    st = os.stat(os.path.join(d, "documents.parquet"))
    key = f"{st.st_size}_{int(st.st_mtime)}"
    pristine = scratch_dir(f"near_dedup_bench_state_{key}", d)
    if not os.path.exists(os.path.join(pristine, "_LATEST")):
        near_dedup_batch(
            docs.where(F.col("doc_id") % 10 != 0), pristine, batch_id=0
        )
    pristine2 = scratch_dir(f"near_dedup_bench_state2_{key}", d)
    if not os.path.exists(os.path.join(pristine2, "_LATEST")):
        shutil.rmtree(pristine2, ignore_errors=True)
        shutil.copytree(pristine, pristine2)
        near_dedup_batch(
            docs.where(F.col("doc_id") % 10 == 0), pristine2, batch_id=1
        )
    work = scratch_dir("near_dedup_bench_work2", d)
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(pristine2, work)
    a3 = near_dedup_batch(
        docs.where(F.col("doc_id") % 10 == 1), work, batch_id=2
    )
    return a3.select("doc_id")


def _span_scrub_one_batch(s, d):
    """Steady-state streaming span scrub: ONE micro-batch (10% of the
    documents) scrubbed against a standing 90%-corpus window-count
    state — the per-batch cost a production ingest stream pays
    (tokenize+hash the batch, broadcast-join the corpus counts, rebuild
    the batch text, commit the batch's own counts as an O(batch)
    delta).  Mirrors the near-dedup harness: the corpus state build is
    one-time (warm-up pass), each timed rep restores the pristine
    snapshot so it ingests the identical batch against the identical
    corpus."""
    import shutil

    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.sources.tables import load_table
    from polars_w_inverted_index_spark.streaming.span_scrub import (
        span_scrub_batch,
    )

    docs = load_table(s, d, "documents")
    st = os.stat(os.path.join(d, "documents.parquet"))
    pristine = scratch_dir(
        f"span_scrub_bench_state_{st.st_size}_{int(st.st_mtime)}", d
    )
    if not os.path.exists(os.path.join(pristine, "_LATEST")):
        span_scrub_batch(
            docs.where(F.col("doc_id") % 10 != 0), pristine, batch_id=0
        )
    work = scratch_dir("span_scrub_bench_work", d)
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(pristine, work)
    out = span_scrub_batch(
        docs.where(F.col("doc_id") % 10 == 0), work, batch_id=1
    )
    # hash the rebuilt text so the byte-fidelity rebuild stays in the
    # timed plan (the ext_span_dedup discipline)
    return out.select(
        "doc_id", F.xxhash64("text").alias("text_hash"),
        "n_removed_tokens",
    )


# One-time cache for the drift decomposition entry: the reference LM and
# the standing batch-0 state are SETUP (built on the warm-up pass, like
# the ANN/postings index builds); the timed rep pays only the per-batch
# cost.  Keyed by sf_dir so a testdata swap rebuilds.
def _drift_one_batch(s, d):
    """Per-batch cost of the streaming drift monitor in isolation:
    ext_streaming_drift times ref-LM build + TWO batch commits in one
    number (~0.3 s + 2×per-batch at sf0.1); this entry restores a
    pristine batch-0 state and times ONE batch-1 commit against a
    pre-built reference LM — the number that must stay flat as batches
    accumulate (state is vocabulary-sized, merge is O(vocabulary))."""
    import shutil

    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.functions.text import unigram_lm
    from polars_w_inverted_index_spark.sources.tables import load_table
    from polars_w_inverted_index_spark.streaming import drift_monitor_batch

    docs = load_table(s, d, "documents")
    st = os.stat(os.path.join(d, "documents.parquet"))
    key = f"{st.st_size}_{int(st.st_mtime)}"
    ref_dir = scratch_dir(f"drift_bench_ref_{key}", d)
    pristine = scratch_dir(f"drift_bench_state_{key}", d)
    if not os.path.exists(os.path.join(ref_dir, "_SUCCESS")):
        unigram_lm(docs).write.mode("overwrite").parquet(ref_dir)
    ref = s.read.parquet(ref_dir)
    if not os.path.exists(os.path.join(pristine, "_LATEST")):
        drift_monitor_batch(
            docs.where(F.col("doc_id") % 2 == 0), pristine, ref, batch_id=0
        )
    work = scratch_dir("drift_bench_work", d)
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(pristine, work)
    return drift_monitor_batch(
        docs.where(F.col("doc_id") % 2 == 1), work, ref, batch_id=1
    )


def _drift_two_batches(s, d):
    """Streaming drift monitor over the documents table split in two
    micro-batches against its own full-corpus LM (fresh state per
    run).

    Decomposition (r8, sf0.1): ref-LM build ~0.3 s + batch0 ~1.3 s +
    batch1 ~1.5 s — the total is 2×(per-batch constant) + setup, and
    the per-batch constant is fixed overhead (LM merge join, state
    parquet write, divergence aggregations), flat batch-over-batch
    (batch1, which merges against the standing state, costs the same
    as batch0).  The r5→r7 2.13→2.51 s creep on unchanged code is
    environment noise on that constant, not growth;
    ext_streaming_drift_batch tracks the isolated per-batch number."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.functions.text import unigram_lm
    from polars_w_inverted_index_spark.registry import scratch_dir
    from polars_w_inverted_index_spark.sources.tables import load_table
    from polars_w_inverted_index_spark.streaming import drift_monitor_batch

    docs = load_table(s, d, "documents")
    ref = unigram_lm(docs)
    state = scratch_dir("drift_bench", d, wipe=True)
    drift_monitor_batch(
        docs.where(F.col("doc_id") % 2 == 0), state, ref, batch_id=0
    )
    return drift_monitor_batch(
        docs.where(F.col("doc_id") % 2 == 1), state, ref, batch_id=1
    )


def _materialize(df) -> int:
    """Bring the full result to the driver; returns row count.

    Arrow record batches (one buffer copy per column), matching the
    reference's collect-into-buffers endpoint — NOT row pickling."""
    try:
        return df.toArrow().num_rows
    except Exception:  # pragma: no cover - Arrow disabled
        return len(df.collect())


# Probe time on the reference machine (measured 2026-08-15, round 9, on
# a FULL bench run — the driver's shape; the probe reads ~0.28 s on a
# fully C2-warmed JVM vs ~0.35 s after a short headline-only run, so the
# pin must come from the full-run regime the per-round record uses).
# logs10m_total_norm = logs10m_total * (CALIB_REF / calibration_s): a
# normalized value that moves while the raw value tracks the probe is a
# code change; both moving together is machine drift.
CALIB_REF = 0.278


def _calibration(spark, reps: int = 3) -> float:
    """Fixed-cost machine-speed probe: one 50 M-row codegen aggregate
    plus one 32-partition shuffle of 2 M constant rows — touches no
    testdata and no repo operator, so its timing can ONLY move with the
    machine/JVM, never with this repo's code.  Best-of-``reps`` (3 for
    the start/end brackets, 2 for the between-phase stamps).

    READ DIRECTION (r10 VERDICT "What's missing" #3, measured by
    a one-shot A/B since deleted): the FIRST probe rep taken right after a
    real phase reads ~3× hot — it absorbs the phase's drainable
    backlog (async ContextCleaner broadcast/RDD cleanup + old-gen GC
    debt; the timed queries get ``_jvm_gc()`` first, a raw probe does
    not).  Measured A/B after 15 real registry queries at sf0.1:
    immediate rep1 0.97 s, second rep1 0.37 s, post-gc rep1 0.45 s,
    best-of-3 0.31 s vs idle 0.30 s — an ARTIFACT of single-shot
    probing, not sustained contention (r10's 0.76-0.91 s stamps vs the
    0.20 s end bracket were exactly this).  Stamps therefore run
    best-of-2 since r11: the throwaway first rep drains the backlog and
    the min is comparable to the idle brackets and the cross-round pin.
    Pre-r11 (reps=1) stamps must only be compared to EACH OTHER."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(50_000_000).select(
            F.sum(F.col("id") % 7).alias("s")
        ).collect()
        (
            spark.range(2_000_000)
            .select((F.col("id") % 97).alias("k"))
            .repartition(32, "k")
            .groupBy("k")
            .count()
            .collect()
        )
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _stamp_phase(calib_phase: dict, group: str, value: float) -> None:
    """Record one phase's calibration stamp, failing LOUDLY on a repeat
    (r10 ADVICE): the stamping loop assumes the workload dict visits
    each group contiguously — if registration order ever interleaves
    groups (e.g. an ext_-prefixed entry lands inside the registry
    block), a silent overwrite would misattribute machine speed to the
    wrong phase."""
    if group in calib_phase:
        raise RuntimeError(
            f"calib_phase stamp for group '{group}' already recorded "
            f"({calib_phase[group]} s): the workload dict visits this "
            "group non-contiguously, so per-phase attribution is broken "
            "— fix the registration order (groups must be contiguous) "
            "before trusting phase stamps."
        )
    calib_phase[group] = value


def main() -> None:
    from polars_w_inverted_index_spark import registry
    from polars_w_inverted_index_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    from polars_w_inverted_index_spark.plans.catalyst_ext import (
        DEFAULT_JAR,
        EXTENSION_CLASS,
        jar_available,
    )

    # When the jar is built, bind the Catalyst index-rewrite extension to
    # the bench JVM (extensions attach at JVM creation only).  The rule
    # stays dormant — it fires only while an entry sets the runtime
    # index-root conf — so every other timing is unaffected.  MEASURED
    # (r9 A/B, SPARK_GRAFT_HEADLINE_ONLY with/without SPARK_GRAFT_NO_EXT,
    # best-of-3 per query): common-entry graded totals 4.33 s bound vs
    # 4.32 s unbound (0.2%, inside noise; the calibration probe moved
    # 3.7% the OTHER way between the two JVMs) — the rule's per-query
    # planning cost is below measurement because apply() returns on the
    # empty ROOT_KEY conf before any tree traversal.  The r8 uniform
    # drift is therefore environment noise, not the extension.
    ext_conf = (
        {
            "spark.jars": DEFAULT_JAR,
            "spark.driver.extraClassPath": DEFAULT_JAR,
            "spark.sql.extensions": EXTENSION_CLASS,
        }
        if jar_available()
        # SPARK_GRAFT_NO_EXT=1 runs the identical suite with the
        # Catalyst extension unbound — the A/B knob for isolating the
        # rule's per-query planning overhead (r8 VERDICT task 2); the
        # catalyst-served entry then falls back to the unserved plan.
        and not os.environ.get("SPARK_GRAFT_NO_EXT")
        else {}
    )
    spark = get_session("bench", extra_conf=ext_conf)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up JVM
    calib_start = _calibration(spark)

    headline = _reference_workload()
    if os.environ.get("SPARK_GRAFT_SKIP_LOGS10M"):
        logs, logs_extra = {}, {}
    else:
        logs, logs_extra = _logs_workload(spark)
    # Heavy 10 M-row queries run LAST so their memory pressure can't
    # bleed into the small-query timings.
    workload: dict = dict(headline)
    # SPARK_GRAFT_HEADLINE_ONLY=1 times only the baseline-graded suite —
    # the fast loop for the extension-bound vs unbound A/B (pair it with
    # SPARK_GRAFT_NO_EXT) and for calibration-probe experiments.
    if not os.environ.get("SPARK_GRAFT_HEADLINE_ONLY"):
        workload.update(registry.QUERIES)
        workload.update(_extension_workload())
    workload.update(logs)
    workload.update(logs_extra)

    import gc

    # Per-entry fault isolation (round-3 lesson: ONE entry crashing on a
    # testdata-drift edge lost the ENTIRE bench record for the round).  A
    # failed entry is recorded under "errors", excluded from totals, and
    # a canonical failure poisons the headline to -1.0 — loud and
    # attributable, never silently partial, never a lost file.
    errors: dict[str, str] = {}

    for name, fn in workload.items():  # warm-up (footers, codegen, cache)
        try:
            _materialize(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - record and continue
            errors[name] = f"{type(e).__name__}: {e}"[:300]
    gc.collect()

    def _jvm_gc():
        # Python GC alone leaves the JVM old-gen full of dead aggregation
        # states; a full JVM collection between queries keeps one query's
        # garbage out of the next one's timing window.
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    # Baseline-comparable queries are timed TWICE, keeping the per-query
    # minimum: the graded headline must not swing on one unlucky JVM GC
    # landing mid-query (observed ±50% on the 10 M postings collect).
    # Extension queries stay single-shot — they are tracked for drift,
    # not graded against BASELINE.md.
    baseline_keys = set(headline) | set(logs) | set(logs_extra)

    def _group(name: str) -> str:
        if name in headline:
            return "headline"
        if name in logs or name in logs_extra:
            return "logs"
        if name.startswith("ext_"):
            return "ext"
        return "registry"

    # Per-PHASE calibration stamps (r9 VERDICT task 2): the start/end
    # brackets measured the machine 3× apart within one r9 run, so
    # mid-run drift (e.g. r9's ext entries +25-150% on untouched code)
    # could only be classified by inference.  A best-of-2 probe at each
    # phase boundary (~2 s each) timestamps the machine speed the phase
    # actually ran under — reps=2, NOT 1, because the first rep after a
    # real phase absorbs drainable backlog and reads ~3× hot (measured;
    # see _calibration's READ DIRECTION note).  Stamps are comparable
    # to the brackets and the cross-round pin.  calib_end covers the
    # final phase.
    calib_phase: dict[str, float] = {}
    prev_group: str | None = None
    timings: dict[str, float] = {}
    for name, fn in workload.items():
        g = _group(name)
        if prev_group is not None and g != prev_group:
            _stamp_phase(calib_phase, prev_group, _calibration(spark, reps=2))
        prev_group = g
        if name in errors:
            continue  # warm-up already failed; don't re-raise in timing
        # Baseline-graded queries (ref_* AND logs10m_*) are sub-second:
        # best-of-3 costs a few seconds total and shields the graded
        # totals from a transient landing in both of two reps (observed
        # 1.75 s vs steady-state 0.45 s; r6 saw all six ref_* entries
        # drift +0.03-0.17 s in one direction on untouched code).
        # Extension entries get best-of-2: single-shot timings showed
        # one-off 1 s→9 s transients (JIT/GC landing mid-query) that
        # would mislabel a tracked operator as a regression.
        # The logs10m section gets best-of-5 (r12 VERDICT task 3): two
        # same-HEAD runs differed up to 1.5× on full_host while ref_*
        # stayed flat — the section reads a 400 MB fixture whose page-
        # cache state swings more than the CPU probe the calibration
        # normalizes by, so it needs more reps than the ref_* phase to
        # report its floor (each entry is sub-second; +2 reps across
        # the 8 entries costs ~10 s of bench wall).
        logs_keys = set(logs) | set(logs_extra)
        reps = 5 if name in logs_keys else 3 if name in baseline_keys else 2
        best = float("inf")
        try:
            for _ in range(reps):
                _jvm_gc()
                t0 = time.perf_counter()
                _materialize(fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 4)
        except Exception as e:  # noqa: BLE001 - record and continue
            errors[name] = f"{type(e).__name__}: {e}"[:300]

    calib_end = _calibration(spark)
    calibration_s = min(calib_start, calib_end)

    # Cross-run floor merge (r13 VERDICT task 5, SCOPED r15): the
    # committed sidecar keeps each entry's cross-run MINIMUM (the
    # page-cache / JIT floor the ±30% same-code swing sits above) so
    # sidecar diffs never read a phantom regression from run-count
    # asymmetry.  r15 (r14 VERDICT task 2): the merge is confined to
    # the SIDECAR — the printed one-line JSON reports the CURRENT run,
    # because a floor-merged headline can never show an in-round
    # regression (the old floor keeps printing), which neuters the
    # driver's regression detector.  Entries the current run errored
    # on stay errored, and prior-only entries are dropped (the current
    # workload defines the entry set — registry rotations must not
    # resurrect ghosts).  A sidecar stamped with a different core
    # count (or none) is another machine's floor and never merges.
    cpus = spark.sparkContext.defaultParallelism
    floor_timings, prior_calibs = _floor_merge_round_sidecar(timings, cpus)

    registry_names = {k for k in timings if _group(k) == "registry"}
    cur = view_totals(
        timings, headline, logs, registry_names, errors, calibration_s
    )
    out = {
        "metric": "reference_workload_total",
        "value": cur["value"],
        "unit": "sec",
        "sf": sf_val,
        # machine-speed probe at bench start/end (see module docstring);
        # best-of-both is the round's calibration constant
        "calibration_s": calibration_s,
        "calib_start": calib_start,
        "calib_end": calib_end,
        # best-of-2 probe at each phase boundary (r11): read an entry's
        # timing against the probe of ITS phase, not the run brackets
        "calib_phase": {k: round(v, 3) for k, v in calib_phase.items()},
    }
    if "row_budget" in cur:
        out["row_budget"] = cur["row_budget"]
    if logs:
        # apples-to-apples vs BASELINE.md: same 10 M-record workload
        out["logs10m_total"] = cur["logs10m_total"]
        out["logs10m_rows"] = LOGS_N
        if "logs10m_total_norm" in cur:
            out["logs10m_total_norm"] = cur["logs10m_total_norm"]
        # executor-side peak execution memory for the canonical postings
        # query (QueryStats with job-group attribution, stats.py) — the
        # number the reference's driver-RSS fields cannot give on a
        # cluster; non-zero proves the metric works under the engine's
        # own session (r6 VERDICT task 1 done-criterion)
        try:
            from polars_w_inverted_index_spark.engine import Engine

            eng = Engine(
                spark, df=spark.read.parquet(LOGS_DIR), doc_id_col="doc_id"
            )
            _, qs = eng.get_field_values_collected("level")
            out["logs10m_exec_peak_mb"] = round(
                qs.executor_peak_mem_kb / 1024.0, 1
            )
        except Exception as e:  # noqa: BLE001 - instrumentation only
            errors["logs10m_exec_peak_mb"] = f"{type(e).__name__}: {e}"[:300]
    if errors:
        out["errors"] = errors
    sidecar_extra = {"cpus": cpus}
    if prior_calibs:
        # the sidecar's totals are sums of its own (floor) queries
        sidecar_extra.update(view_totals(
            floor_timings, headline, logs, registry_names, errors,
            calibration_s,
        ))
        sidecar_extra["floor_merged"] = True
        sidecar_extra["calib_runs"] = [
            round(c, 4) for c in prior_calibs + [calibration_s]
        ]
    for line in render_output_lines(
        out, timings, baseline_keys, errors,
        floor_timings=floor_timings, sidecar_extra=sidecar_extra,
    ):
        print(line)


def view_totals(
    timings, headline, logs, registry_names, errors, calibration_s
) -> dict:
    """The summary figures of one view of the per-entry timings:
    ``value`` (headline total), ``row_budget``, ``logs10m_total`` and
    ``logs10m_total_norm``.  The printed record takes them from the
    current run and the sidecar from its floors, so each file's totals
    are the sums of its own ``queries``."""

    def _total(names) -> float:
        if any(n in errors for n in names):
            return -1.0  # a graded query failed: poison, don't fake
        return round(sum(timings[n] for n in names), 4)

    res: dict = {"value": _total(headline)}
    # Per-row budget flag: any registry row costing more than 3× the
    # registry median is named here, so a row whose cost doubles shows
    # up in the sidecar diff.  Informational, never poisons totals.
    reg_rows = {k: v for k, v in timings.items() if k in registry_names}
    if reg_rows:
        med = sorted(reg_rows.values())[len(reg_rows) // 2]
        res["row_budget"] = {
            "registry_rows": len(reg_rows),
            "registry_median_s": round(med, 3),
            "flagged_over_3x_median": {
                k: round(v, 2)
                for k, v in sorted(
                    reg_rows.items(), key=lambda kv: -kv[1]
                )
                if v > 3 * med
            },
        }
    if logs:
        res["logs10m_total"] = _total(logs)
        if res["logs10m_total"] > 0 and calibration_s > 0:
            # headline re-based to the reference machine speed: raw and
            # normalized moving together = machine drift; normalized
            # moving alone = a real code change
            res["logs10m_total_norm"] = round(
                res["logs10m_total"] * (CALIB_REF / calibration_s), 4
            )
    return res


# One bounded chunk line must fit the tail beside the headline line; the
# guard test (tests/test_bench_tail.py) pins both budgets.
CHUNK_BUDGET = 900
HEADLINE_BUDGET = 1500
DETAIL_FILE = os.path.join(_HERE, "BENCH_DETAIL.json")


def _round_detail_file() -> str:
    """Per-round sidecar name ``BENCH_DETAIL_r{N}.json``.

    r11 VERDICT (Missing #2): the single ``BENCH_DETAIL.json`` is
    overwritten every round, so two consecutive rounds' complete
    per-entry records never coexist and the drift-vs-regression call
    requires archaeology on truncated stdout tails.  The driver writes
    ``BENCH_r{N}.json`` AFTER the round's bench runs, so at bench time
    the current round number is ``max(existing BENCH_r*) + 1``; a
    re-run within the same round overwrites the same sidecar, which is
    the desired latest-run-wins behavior.  Derives the directory from
    ``DETAIL_FILE`` so a test that redirects the stable sidecar
    redirects this one too.
    """
    import re

    here = os.path.dirname(DETAIL_FILE) or "."
    rounds = [0]
    try:
        for name in os.listdir(here):
            m = re.fullmatch(r"BENCH_r(\d+)\.json", name)
            if m:
                rounds.append(int(m.group(1)))
    except OSError:
        pass  # unreadable checkout: fall back to the stable name only
    return os.path.join(here, f"BENCH_DETAIL_r{max(rounds) + 1:02d}.json")


def _floor_merge_round_sidecar(
    timings: dict[str, float], cpus: int
) -> tuple[dict[str, float], list[float] | None]:
    """Per-entry cross-run minima against THIS ROUND's existing sidecar
    (r13 VERDICT task 5 — see the call site's comment).  Returns the
    merged timings plus the prior runs' calibration stamps, or
    ``(timings, None)`` when no prior same-round sidecar exists or the
    prior one was not stamped with this run's ``cpus`` (an 8-core
    scaling run must not seed a 32-core round's floors).  Only entries
    present in the CURRENT run merge (prior-only names are dropped;
    current errors stay errors)."""
    path = _round_detail_file()
    try:
        with open(path) as f:
            prior = json.load(f)
    except (OSError, ValueError):
        return timings, None
    pq = prior.get("queries")
    if not isinstance(pq, dict) or prior.get("cpus") != cpus:
        return timings, None
    merged = {
        k: min(v, pq[k]) if isinstance(pq.get(k), (int, float)) else v
        for k, v in timings.items()
    }
    runs = prior.get("calib_runs") or [prior.get("calibration_s")]
    runs = [float(r) for r in runs if isinstance(r, (int, float))]
    return merged, runs


def _chunk_lines(label: str, entries: dict[str, float]) -> list[str]:
    """JSON lines ``{"<label>": {...}}``, each <= ~CHUNK_BUDGET bytes,
    so a tail cut mid-stream costs at most ONE bounded chunk, never the
    whole dict (r8 lost five ext entries to an unbounded line; r9's
    registry line lost its head the same way)."""
    chunks: list[dict[str, float]] = []
    chunk: dict[str, float] = {}
    for k, v in entries.items():
        chunk[k] = v
        if len(json.dumps({label: chunk})) > CHUNK_BUDGET:
            chunks.append(chunk)
            chunk = {}
    if chunk:
        chunks.append(chunk)
    return [json.dumps({label: c}) for c in chunks]


def render_output_lines(
    out, timings, baseline_keys, errors,
    floor_timings=None, sidecar_extra=None,
) -> list[str]:
    """Stdout lines, layered back-to-front for the driver's 2,000-byte
    tail (it parses the LAST JSON line as the record; the tail cuts
    from the HEAD): full detail first, then registry timings in bounded
    chunks, then the tracked ``ext_*`` timings in bounded chunks, then
    the compact headline line that always fits whole.

    Every PRINTED number is the CURRENT run (r14 VERDICT task 2: the
    one-line JSON is the driver's regression detector — a floor-merged
    headline can never show an in-round regression, the old floor
    keeps printing).  ``floor_timings`` (when given) is the cross-run
    minimum merged against this round's committed sidecar; it goes
    into the SIDECAR's ``queries`` only (same-round sidecar diffs stay
    like-for-like best-of-runs, and the next run's merge composes),
    with the current run preserved beside it as ``run_queries``.
    ``sidecar_extra`` carries the merge provenance (``floor_merged`` /
    ``calib_runs``) and the floors' :func:`view_totals` — sidecar-only
    for the same reason.

    COMPLETENESS ARITHMETIC (r9 VERDICT tasks 2/7): the full record —
    ~50 registry names + ~35 ext names + the graded headline — is
    ~3.5 kB of JSON, so no emission order fits ALL of it in 2,000
    bytes; chunking bounds the loss to one chunk per stream, and the
    COMPLETE record is additionally written to ``BENCH_DETAIL.json``
    beside this script (the driver commits stray repo files at round
    end, so the full per-entry record survives the tail cap in-repo).
    """
    lines: list[str] = []
    detail = dict(out)
    detail["queries"] = {k: round(v, 4) for k, v in sorted(timings.items())}
    lines.append(json.dumps(detail))
    sidecar = dict(detail)
    if floor_timings is not None and floor_timings != timings:
        sidecar["queries"] = {
            k: round(v, 4) for k, v in sorted(floor_timings.items())
        }
        sidecar["run_queries"] = detail["queries"]
    sidecar.update(sidecar_extra or {})
    for path in (DETAIL_FILE, _round_detail_file()):
        try:
            with open(path, "w") as f:
                json.dump(sidecar, f, indent=1)
        except OSError:
            pass  # read-only checkout: stdout layering carries chunks

    reg = {
        k: round(v, 2)
        for k, v in sorted(timings.items())
        if k not in baseline_keys and not k.startswith("ext_")
    }
    lines.extend(_chunk_lines("reg", reg))
    ext = {
        k[len("ext_"):]: round(v, 2)
        for k, v in sorted(timings.items())
        if k.startswith("ext_")
    }
    lines.extend(_chunk_lines("ext", ext))

    out = dict(out)
    out["detail_file"] = "BENCH_DETAIL.json"
    out["queries"] = {
        k: round(timings[k], 2)
        for k in sorted(baseline_keys)
        if k in timings
    }
    if errors:
        # compact line must fit the driver's 2000-byte tail: name the
        # failed entries, full messages live on the detail line above
        out["errors"] = {k: errors[k][:60] for k in sorted(errors)[:3]}
        if len(errors) > 3:
            out["errors"]["..."] = f"{len(errors) - 3} more"
    line = json.dumps(out)
    if len(line) > HEADLINE_BUDGET:  # belt-and-braces; ~24 graded keys
        out["queries"] = {}
        line = json.dumps(out)
    lines.append(line)
    return lines


if __name__ == "__main__":
    main()

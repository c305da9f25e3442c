"""Structured Streaming: windows, sessions, stateful op, index maintenance.

Each test drives a file-source stream (events split into two files so the
source produces multiple micro-batches) to completion with availableNow,
then checks the streaming result equals the batch-computed truth — the
unified-API invariant that makes the streaming path trustworthy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.operators.inverted_index import postings
from polars_w_inverted_index_spark.sources.tables import load_table
from polars_w_inverted_index_spark.streaming import (
    merge_postings_batch,
    read_index,
    running_user_totals,
    session_event_counts,
    start_index_maintenance,
    windowed_event_counts,
)

@pytest.fixture(scope="module")
def events_batch(spark):
    return load_table(spark, "/root/testdata/sf0.001", "events")


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory, events_batch):
    d = str(tmp_path_factory.mktemp("events_stream"))
    mid = events_batch.approxQuantile("event_id", [0.5], 0.0)[0]
    events_batch.where(F.col("event_id") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    events_batch.where(F.col("event_id") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    return d


def _stream(spark, events_batch, d, max_files=1):
    return (
        spark.readStream.schema(events_batch.schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(d)
    )


def _drain_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_windowed_counts_match_batch(spark, events_batch, events_stream_dir):
    stream = _stream(spark, events_batch, events_stream_dir)
    _drain_to_memory(
        windowed_event_counts(stream), "win_counts", "complete"
    )
    got = spark.sql("SELECT * FROM win_counts")
    want = windowed_event_counts(events_batch)
    assert _sorted_rows(got) == _sorted_rows(want)
    assert len(got.collect()) > 0


def test_session_windows_match_batch(spark, events_batch, events_stream_dir):
    stream = _stream(spark, events_batch, events_stream_dir)
    _drain_to_memory(
        session_event_counts(stream), "sess_counts", "complete"
    )
    got = spark.sql("SELECT * FROM sess_counts")
    want = session_event_counts(events_batch)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_streaming_dedup_matches_batch(
    spark, events_batch, events_stream_dir
):
    from polars_w_inverted_index_spark.streaming import (
        batch_dedup_exact,
        streaming_dedup_exact,
    )

    stream = _stream(spark, events_batch, events_stream_dir)
    _drain_to_memory(
        streaming_dedup_exact(
            stream, text_col="event_type", ts_col="ts", delay="365 days"
        ),
        "dedup_stream",
        "append",
    )
    got = spark.sql("SELECT * FROM dedup_stream")
    want = batch_dedup_exact(events_batch, text_col="event_type")
    # one survivor per content, same key set as the batch twin (which row
    # survives is first-arrival in the stream, arbitrary in batch)
    assert got.count() == want.count()
    assert _sorted_rows(got.select("content_hash")) == _sorted_rows(
        want.select("content_hash")
    )
    assert got.count() < events_batch.count()  # it actually deduped


def test_stateful_running_totals(spark, events_batch, events_stream_dir):
    stream = _stream(spark, events_batch, events_stream_dir)
    _drain_to_memory(running_user_totals(stream), "user_totals", "update")
    # update mode emits one row per touched user per batch; the running
    # counter is monotone, so the final state is the per-user max.
    got = spark.sql(
        "SELECT user_id, MAX(n_events) AS n FROM user_totals GROUP BY user_id"
    )
    want = events_batch.groupBy("user_id").agg(F.count("*").alias("n"))
    assert _sorted_rows(got) == _sorted_rows(want)
    # state really crossed batches: some user's final count must exceed its
    # first-batch emission (i.e. >1 distinct emitted values for some user)
    multi = spark.sql(
        "SELECT user_id FROM user_totals GROUP BY user_id"
        " HAVING COUNT(DISTINCT n_events) > 1"
    )
    assert multi.count() > 0


def test_incremental_index_matches_batch(
    spark, events_batch, events_stream_dir, tmp_path
):
    index_path = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    stream = _stream(spark, events_batch, events_stream_dir)
    q = start_index_maintenance(
        stream, "event_type", index_path, ckpt, doc_id_col="event_id"
    )
    q.awaitTermination(120)
    got = read_index(spark, index_path)
    want = postings(events_batch, "event_type", "event_id")
    assert _sorted_rows(got) == _sorted_rows(want)
    # more than one merge actually happened (two files → two batches)
    assert got.count() > 0


def test_merge_postings_batch_backfill(spark, events_batch, tmp_path):
    index_path = str(tmp_path / "idx2")
    first = events_batch.where(F.col("event_id") % 2 == 0)
    second = events_batch.where(F.col("event_id") % 2 == 1)
    merge_postings_batch(first, "event_type", index_path, "event_id")
    merge_postings_batch(second, "event_type", index_path, "event_id")
    got = read_index(spark, index_path)
    want = postings(events_batch, "event_type", "event_id")
    assert _sorted_rows(got) == _sorted_rows(want)


def test_merge_replay_and_checkpoint_reset(spark, events_batch, tmp_path):
    """Exact-replay (at-least-once) is a silent no-op; a batch_id BEHIND
    the marker means a reset checkpoint and must raise, not silently
    freeze the index."""
    import pytest

    index_path = str(tmp_path / "idx3")
    half = events_batch.where(F.col("event_id") % 2 == 0)
    merge_postings_batch(half, "event_type", index_path, "event_id",
                         batch_id=7)
    before = _sorted_rows(read_index(spark, index_path))
    # replay of the committed batch: no-op, no duplication
    merge_postings_batch(half, "event_type", index_path, "event_id",
                         batch_id=7)
    assert _sorted_rows(read_index(spark, index_path)) == before
    # rewound checkpoint: loud failure with guidance
    with pytest.raises(ValueError, match="checkpoint"):
        merge_postings_batch(half, "event_type", index_path, "event_id",
                             batch_id=3)


def test_merge_touches_only_affected_buckets(spark, tmp_path):
    """The scale contract of the bucketed layout: a merge whose batch
    touches other buckets must leave an untouched bucket's pointer (and
    directory) exactly as committed — per-merge cost is O(touched), not
    O(index)."""
    import json

    from pyspark.sql import functions as SF

    index_path = str(tmp_path / "idx_buckets")

    def batch(vals):
        rows = [(i, v) for i, v in enumerate(vals)]
        return spark.createDataFrame(rows, "event_id long, event_type string")

    def marker():
        with open(index_path + "/_LATEST") as f:
            return json.load(f)

    merge_postings_batch(batch(["alpha"]), "event_type", index_path,
                         "event_id", batch_id=0)
    m0 = marker()
    [b_alpha] = m0["buckets"].keys()
    # find a value landing in a DIFFERENT bucket than alpha
    nb = m0["n_buckets"]
    probe = spark.createDataFrame(
        [(w,) for w in ["beta", "gamma", "delta", "epsilon", "zeta"]],
        "value string",
    ).select("value", SF.pmod(SF.xxhash64("value"), SF.lit(nb)).alias("b"))
    other = next(
        r["value"] for r in probe.collect() if str(r["b"]) != b_alpha
    )
    merge_postings_batch(batch([other]), "event_type", index_path,
                         "event_id", batch_id=1)
    m1 = marker()
    # alpha's bucket pointer unchanged — its directory was not rewritten
    assert m1["buckets"][b_alpha] == m0["buckets"][b_alpha]
    assert len(m1["buckets"]) == 2
    got = _sorted_rows(read_index(spark, index_path))
    want = _sorted_rows(
        postings(batch(["alpha"]).union(batch([other])),
                 "event_type", "event_id")
    )
    assert got == want


def test_chunked_merge_appends_bounded_rows_and_compacts(spark, tmp_path):
    """max_postings_per_row: merges append bounded chunk rows (no array
    ever exceeds the cap, old chunks carried verbatim); compact_index
    squashes fragmentation to minimal chunk counts; the logical postings
    view equals the one-shot build throughout."""
    from polars_w_inverted_index_spark.streaming import (
        compact_index,
        read_index_postings,
    )

    index_path = str(tmp_path / "idx_chunked")

    def batch(start, n):
        # all rows share ONE hot value so chunking is actually exercised
        rows = [(start + i, "hot") for i in range(n)]
        return spark.createDataFrame(rows, "event_id long, event_type string")

    cap = 10
    merge_postings_batch(batch(0, 25), "event_type", index_path,
                         "event_id", batch_id=0, max_postings_per_row=cap)
    merge_postings_batch(batch(25, 25), "event_type", index_path,
                         "event_id", batch_id=1)

    raw = read_index(spark, index_path).collect()
    assert all(len(r["doc_ids"]) <= cap for r in raw)
    assert len(raw) == 6  # 3 pieces per 25-row batch, appended not merged
    logical = read_index_postings(spark, index_path).collect()
    assert [r["value"] for r in logical] == ["hot"]
    assert list(logical[0]["doc_ids"]) == list(range(50))

    compact_index(spark, index_path)
    raw2 = read_index(spark, index_path).collect()
    # hash-assigned chunks bound size in EXPECTATION (exact at the
    # production caps this exists for; slack here because cap=10 is tiny)
    assert all(len(r["doc_ids"]) <= 2 * cap for r in raw2)
    assert len(raw2) == 5  # ceil(50/10) minimal chunks
    assert sum(len(r["doc_ids"]) for r in raw2) == 50
    logical2 = read_index_postings(spark, index_path).collect()
    assert list(logical2[0]["doc_ids"]) == list(range(50))
    # replay guard still intact after compaction
    merge_postings_batch(batch(25, 25), "event_type", index_path,
                         "event_id", batch_id=1)  # replay → no-op
    assert read_index(spark, index_path).count() == 5


def test_streaming_near_dedup_across_and_within_batches(spark, tmp_path):
    """Online near-dedup: within-batch variants collapse to the min-id
    canonical; later batches are rejected against everything accepted
    earlier (first-arrival-wins); novel docs pass; replay is a no-op."""
    from polars_w_inverted_index_spark.streaming import (
        near_dedup_batch,
        read_corpus_bands,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the fence and the birds sing in the tall trees "
        "near the old stone bridge by the quiet river every single day"
    )
    other = (
        "completely different prose about catalyst plans adaptive "
        "execution shuffle partitions and broadcast joins in spark"
    )
    state = str(tmp_path / "nd_state")

    b1 = spark.createDataFrame(
        [(1, base), (2, base.replace("jumps", "leaps")), (3, other)],
        "doc_id long, text string",
    )
    acc1 = near_dedup_batch(b1, state, batch_id=0)
    got1 = sorted(r["doc_id"] for r in acc1.collect())
    assert got1 == [1, 3]  # 2 near-dups 1 within the batch

    b2 = spark.createDataFrame(
        [
            (10, base),                      # dup of accepted 1 -> reject
            (11, base.replace("dog", "wolf")),  # near-dup of 1 -> reject
            (12, "novel content about arrow record batches and buffers"),
        ],
        "doc_id long, text string",
    )
    acc2 = near_dedup_batch(b2, state, batch_id=1)
    got2 = sorted(r["doc_id"] for r in acc2.collect())
    assert got2 == [12]

    # replay of committed batch 1: empty, state unchanged
    replay = near_dedup_batch(b2, state, batch_id=1)
    assert replay.count() == 0
    n_bands_rows = read_corpus_bands(spark, state).count()
    from polars_w_inverted_index_spark.operators.dedup import NUM_BANDS

    assert n_bands_rows == 3 * NUM_BANDS  # docs 1, 3, 12


def test_near_dedup_sink_before_commit_crash_replay(spark, tmp_path):
    """Exactly-once for the accepted-rows output: a crash after the sink
    write but before the band-state commit replays into identical rows
    overwritten in place; after the commit the replay is the empty
    no-op with the output directory already present."""
    import json as _json
    import os as _os

    from polars_w_inverted_index_spark.streaming import near_dedup_batch

    state = str(tmp_path / "ndc_state")
    out = str(tmp_path / "ndc_out")

    def sink_for(bid):
        return lambda rows: rows.write.mode("overwrite").parquet(
            _os.path.join(out, f"batch={bid}")
        )

    text_a = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliett kilo lima mike november oscar papa quebec romeo"
    )
    b0 = spark.createDataFrame(
        [(1, text_a)], "doc_id long, text string"
    )
    near_dedup_batch(b0, state, batch_id=0, sink=sink_for(0))

    b1 = spark.createDataFrame(
        [(10, "totally novel second batch content about parquet files")],
        "doc_id long, text string",
    )

    class Boom(RuntimeError):
        pass

    def crashing_sink(rows):
        sink_for(1)(rows)
        raise Boom("simulated crash between output write and commit")

    import pytest as _pytest

    with _pytest.raises(Boom):
        near_dedup_batch(b1, state, batch_id=1, sink=crashing_sink)
    assert _json.load(
        open(_os.path.join(state, "_LATEST"))
    )["batch_id"] == 0  # state NOT committed

    acc = near_dedup_batch(b1, state, batch_id=1, sink=sink_for(1))
    assert acc.count() == 1
    assert _json.load(
        open(_os.path.join(state, "_LATEST"))
    )["batch_id"] == 1
    # committed replay: empty no-op, output holds exactly-once rows
    assert near_dedup_batch(
        b1, state, batch_id=1, sink=sink_for(1)
    ).count() == 0
    rows = spark.read.parquet(out)
    assert rows.count() == 2
    assert rows.select("doc_id").distinct().count() == 2


def test_near_dedup_sink_writes_few_files(spark, tmp_path):
    """A 40-row batch over a prior corpus reaches the sink in at most
    ``delta_partitions`` part files.  An RDD-backed batch has no size
    statistics, and the runtime-converted anti-join kept the shuffle's
    partitioning: one tiny file per partition."""
    import os as _os

    from polars_w_inverted_index_spark.streaming import near_dedup_batch

    def batch(lo):
        rows = [(i, " ".join(f"w{i}x{j}" for j in range(12)))
                for i in range(lo, lo + 40)]
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 8),
            "doc_id long, text string",
        )

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    near_dedup_batch(batch(0), state, batch_id=0)
    acc = near_dedup_batch(
        batch(1000), state, batch_id=1, delta_partitions=2,
        sink=lambda rows: rows.write.mode("overwrite").parquet(out),
    )
    assert acc.count() == 40
    parts = [f for f in _os.listdir(out) if f.endswith(".parquet")]
    assert 1 <= len(parts) <= 2, parts


def test_streaming_near_dedup_end_to_end(spark, tmp_path, events_batch):
    """Drive start_near_dedup over a two-file stream: output contains no
    near-dup pair, and unioned batches dedup to the same count as a
    batch-mode pairs+clusters pass (first-arrival canonical may differ
    from min-id, so compare counts, not identities)."""
    from polars_w_inverted_index_spark.operators import dedup as DD
    from polars_w_inverted_index_spark.streaming import start_near_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path / "docs_stream")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    docs.where(F.col("doc_id") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    docs.where(F.col("doc_id") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = str(tmp_path / "nd_out")
    q = start_near_dedup(
        stream, str(tmp_path / "nd_state2"), out,
        str(tmp_path / "nd_ckpt"),
    )
    q.awaitTermination(120)
    kept = spark.read.parquet(out)
    # the core invariant: no near-dup pair may survive among accepted docs
    assert DD.minhash_lsh_pairs(kept).count() == 0
    assert 0 < kept.count() < docs.count()  # it kept some, dropped some
    # at least the batch path's dedup power, never less: a transitive
    # chain split across batches can keep MORE (a link rejected before
    # its bands entered state can't reject its own neighbors), never
    # fewer — so >= is the data-independent bound
    batch_clusters = DD.dedup_clusters(DD.minhash_lsh_pairs(docs))
    batch_kept = DD.drop_near_duplicates(docs, batch_clusters)
    assert kept.count() >= batch_kept.count()


def test_chunked_merge_random_batches_invariants(spark, tmp_path):
    """Randomized: any batch split and cap must preserve (a) logical
    postings == one-shot build, (b) merge-written chunks hard-capped,
    (c) compaction idempotent on content."""
    import random

    from polars_w_inverted_index_spark.streaming import (
        compact_index,
        read_index_postings,
    )

    rng = random.Random(813)
    for trial in range(3):
        values = ["a", "b", "c", "d"][: rng.randint(1, 4)]
        rows = [
            (i, rng.choice(values)) for i in range(rng.randint(5, 60))
        ]
        cap = rng.randint(2, 9)
        cut = rng.randint(1, len(rows) - 1) if len(rows) > 1 else 1
        idx = str(tmp_path / f"ridx{trial}")
        for bid, chunk_rows in enumerate((rows[:cut], rows[cut:])):
            if not chunk_rows:
                continue
            merge_postings_batch(
                spark.createDataFrame(
                    chunk_rows, "event_id long, event_type string"
                ),
                "event_type", idx, "event_id",
                batch_id=bid, max_postings_per_row=cap,
            )
        raw = read_index(spark, idx).collect()
        assert all(len(r["doc_ids"]) <= cap for r in raw), trial
        want = {}
        for i, v in rows:
            want.setdefault(v, []).append(i)
        want = {v: sorted(ids) for v, ids in want.items()}

        def logical():
            return {
                r["value"]: list(r["doc_ids"])
                for r in read_index_postings(spark, idx).collect()
            }

        assert logical() == want, trial
        compact_index(spark, idx)
        assert logical() == want, trial


def test_compact_index_noop_on_unchunked(spark, tmp_path):
    from polars_w_inverted_index_spark.streaming import compact_index

    idx = str(tmp_path / "plain_idx")
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "event_id long, event_type string"
    )
    merge_postings_batch(df, "event_type", idx, "event_id", batch_id=0)
    before = _sorted_rows(read_index(spark, idx))
    compact_index(spark, idx)  # must be a no-op, not a corruption
    assert _sorted_rows(read_index(spark, idx)) == before


def test_near_dedup_min_shared_bands_loosens_rejection(spark, tmp_path):
    """min_shared_bands raises the rejection bar: a near-dup sharing
    fewer bands than required is ACCEPTED at the stricter setting."""
    from polars_w_inverted_index_spark.operators import dedup as DD
    from polars_w_inverted_index_spark.streaming import near_dedup_batch

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the fence and the birds sing in the tall trees "
        "near the old stone bridge by the quiet river every single day"
    )
    variant = base.replace("jumps", "leaps")
    docs = spark.createDataFrame(
        [(1, base), (2, variant)], "doc_id long, text string"
    )
    shared = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in DD.minhash_lsh_pairs(docs).collect()
    }[(1, 2)]
    assert 1 <= shared < DD.NUM_BANDS  # fixture: partial band overlap
    b1 = docs.where(F.col("doc_id") == 1)
    b2 = docs.where(F.col("doc_id") == 2)
    # loose bar (1 shared band suffices): variant rejected
    s_loose = str(tmp_path / "nd_loose")
    near_dedup_batch(b1, s_loose, batch_id=0, min_shared_bands=1)
    assert near_dedup_batch(b2, s_loose, batch_id=1,
                            min_shared_bands=1).count() == 0
    # bar above the actual overlap: variant accepted
    s_strict = str(tmp_path / "nd_strict")
    near_dedup_batch(b1, s_strict, batch_id=0,
                     min_shared_bands=shared + 1)
    assert near_dedup_batch(b2, s_strict, batch_id=1,
                            min_shared_bands=shared + 1).count() == 1


def test_drift_monitor_batches(spark, tmp_path):
    """Running-LM drift monitor: a batch matching the reference scores
    near 0; a poisoned batch spikes batch_js_bits while the cumulative
    moves less; counts merge exactly-once and replay is a no-op."""
    from polars_w_inverted_index_spark.functions.text import unigram_lm
    from polars_w_inverted_index_spark.streaming import (
        drift_monitor_batch,
        read_ingest_lm,
    )

    ref_text = "alpha beta gamma delta epsilon " * 20
    ref = spark.createDataFrame(
        [(0, ref_text)], "doc_id long, text string"
    )
    ref_lm = unigram_lm(ref)
    state = str(tmp_path / "drift_state")

    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon " * 10)],
        "doc_id long, text string",
    )
    r0 = drift_monitor_batch(b0, state, ref_lm, batch_id=0).collect()[0]
    assert r0.batch_id == 0 and r0.batch_tokens == 50
    assert r0.total_tokens == 50
    assert r0.batch_js_bits < 0.01
    assert r0.cumulative_js_bits == r0.batch_js_bits

    # poisoned shipment: disjoint vocabulary
    b1 = spark.createDataFrame(
        [(2, "zork quux blorp frotz grue " * 10)],
        "doc_id long, text string",
    )
    r1 = drift_monitor_batch(b1, state, ref_lm, batch_id=1).collect()[0]
    assert r1.batch_tokens == 50 and r1.total_tokens == 100
    assert r1.batch_js_bits > 0.5  # the spike
    assert r1.cumulative_js_bits < r1.batch_js_bits  # diluted by b0

    # state holds the exact merged counts
    lm = {
        r["t"]: r["c"] for r in read_ingest_lm(spark, state).collect()
    }
    assert lm["alpha"] == 10 and lm["zork"] == 10 and len(lm) == 10

    # replay of committed batch 1: None, state unchanged
    assert drift_monitor_batch(b1, state, ref_lm, batch_id=1) is None
    assert read_ingest_lm(spark, state).count() == 10


def test_drift_monitor_refuses_a_batch_behind_the_committed_one(
    spark, tmp_path
):
    """A batch id behind the committed one means the checkpoint was
    reset: drift raises, as the other streaming operators do, instead
    of returning None for every batch until the ids pass the old
    high-water mark.  The committed id itself stays a no-op."""
    from polars_w_inverted_index_spark.functions.text import unigram_lm
    from polars_w_inverted_index_spark.streaming import (
        drift_monitor_batch,
        read_ingest_lm,
    )

    schema = "doc_id long, text string"
    ref_lm = unigram_lm(spark.createDataFrame([(0, "a b c " * 5)], schema))
    state = str(tmp_path / "drift_state")
    b = spark.createDataFrame([(1, "a b c d")], schema)
    for bid in (3, 4):
        assert drift_monitor_batch(b, state, ref_lm, batch_id=bid) is not None
    assert drift_monitor_batch(b, state, ref_lm, batch_id=4) is None
    with pytest.raises(ValueError, match="behind"):
        drift_monitor_batch(b, state, ref_lm, batch_id=0)
    lm = {r["t"]: r["c"] for r in read_ingest_lm(spark, state).collect()}
    assert lm == {"a": 2, "b": 2, "c": 2, "d": 2}


def test_drift_monitor_end_to_end(spark, tmp_path):
    """start_drift_monitor over a real file stream (availableNow):
    reports land in the report path, one row per micro-batch."""
    from polars_w_inverted_index_spark.functions.text import unigram_lm
    from polars_w_inverted_index_spark.streaming import (
        start_drift_monitor,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma " * 5)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(src / "f0"))
    spark.createDataFrame(
        [(2, "delta epsilon zeta " * 5)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(src / "f1"))

    ref_lm = unigram_lm(
        spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta " * 10)],
            "doc_id long, text string",
        )
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = start_drift_monitor(
        stream,
        str(tmp_path / "state"),
        str(tmp_path / "reports"),
        str(tmp_path / "ckpt"),
        ref_lm,
    )
    q.awaitTermination(120)
    reports = spark.read.parquet(str(tmp_path / "reports"))
    rows = sorted(reports.collect(), key=lambda r: r.batch_id)
    assert len(rows) >= 1
    assert rows[-1].total_tokens == 30
    for r in rows:
        assert 0.0 <= r.batch_js_bits <= 1.0
        assert 0.0 <= r.cumulative_js_bits <= 1.0


def _top_terms(docs, n=3):
    """Top-df corpus terms (data-derived so regenerated testdata cannot
    empty the assertions)."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.functions.text import tokens

    return [
        r["term"]
        for r in docs.select(
            F.explode(F.array_distinct(tokens("text"))).alias("term")
        )
        .groupBy("term")
        .count()
        .orderBy(F.desc("count"), "term")
        .limit(n)
        .collect()
    ]


def test_term_index_maintenance_serves_boolean_search(spark, tmp_path):
    """Two micro-batches of documents merge into the term index; boolean
    retrieval from the index equals the batch operator over the unioned
    corpus (which carries the DuckDB oracle).  Chunked rows (hot-term
    bound) produce identical answers."""
    from polars_w_inverted_index_spark.operators.search import (
        boolean_search,
    )
    from polars_w_inverted_index_spark.streaming import (
        boolean_search_from_index,
        merge_term_index_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    b0 = docs.where("doc_id % 2 = 0")
    b1 = docs.where("doc_id % 2 = 1")
    terms = _top_terms(docs)  # data-derived: robust to regenerated data

    for chunked in (None, 7):
        path = str(tmp_path / f"term_idx_{chunked}")
        merge_term_index_batch(
            b0, path, batch_id=0, max_postings_per_row=chunked
        )
        merge_term_index_batch(
            b1, path, batch_id=1, max_postings_per_row=chunked
        )
        for mode in ("and", "or"):
            got = sorted(
                (r.doc_id, r.n_matched)
                for r in boolean_search_from_index(
                    spark, path, terms, mode=mode
                ).collect()
            )
            want = sorted(
                (r.doc_id, r.n_matched)
                for r in boolean_search(docs, terms, mode=mode).collect()
            )
            assert got == want and len(got) > 0, (chunked, mode)

        # replayed batch is a committed no-op — results unchanged
        merge_term_index_batch(
            b1, path, batch_id=1, max_postings_per_row=chunked
        )
        again = sorted(
            (r.doc_id, r.n_matched)
            for r in boolean_search_from_index(
                spark, path, terms
            ).collect()
        )
        assert again == sorted(
            (r.doc_id, r.n_matched)
            for r in boolean_search(docs, terms).collect()
        )


def test_term_index_stream_end_to_end(spark, tmp_path):
    """start_term_index_maintenance over a two-file document stream."""
    from polars_w_inverted_index_spark.operators.search import (
        boolean_search,
    )
    from polars_w_inverted_index_spark.streaming import (
        boolean_search_from_index,
        start_term_index_maintenance,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    src = tmp_path / "docs_src"
    src.mkdir()
    docs.where("doc_id < 250").write.parquet(str(src / "f0"))
    docs.where("doc_id >= 250").write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    idx = str(tmp_path / "term_idx_stream")
    q = start_term_index_maintenance(
        stream, idx, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    terms = _top_terms(docs)[:2]
    got = sorted(
        r.doc_id
        for r in boolean_search_from_index(spark, idx, terms).collect()
    )
    want = sorted(
        r.doc_id for r in boolean_search(docs, terms).collect()
    )
    assert got == want and len(got) > 0


def _data_files(root):
    """{relative path: size} for every non-hidden file under root."""
    import os

    out = {}
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def test_chunked_merge_bytes_written_track_batch_not_index(spark, tmp_path):
    """r9 VERDICT task 1: in chunked/LSM mode a merge writes ONLY its
    own batch's chunk rows as a new segment — committed segments are
    untouched on disk, per-merge bytes track the batch (not the index),
    and compaction folds every bucket back to one segment."""
    import json
    import os

    from polars_w_inverted_index_spark.streaming import (
        compact_index,
        read_index_postings,
    )

    idx = str(tmp_path / "idx_lsm")

    def batch(start, n):
        rows = [(start + i, f"v{(start + i) % 7}") for i in range(n)]
        return spark.createDataFrame(rows, "event_id long, event_type string")

    cap = 50
    # big initial merge, then a small one — write cost must NOT grow
    # with index size (initial batch big enough that real data, not the
    # ~1.1 KB/file parquet metadata floor, dominates its bytes)
    merge_postings_batch(batch(0, 20_000), "event_type", idx, "event_id",
                         batch_id=0, max_postings_per_row=cap,
                         n_buckets=4)
    before = _data_files(idx)
    big_bytes = sum(before.values())

    merge_postings_batch(batch(20_000, 40), "event_type", idx, "event_id",
                         batch_id=1)
    after = _data_files(idx)
    # committed segments byte-identical and still present
    for rel, size in before.items():
        assert after.get(rel) == size, rel
    new_files = {r: s for r, s in after.items() if r not in before}
    assert new_files and all(r.startswith("m=1/") for r in new_files)
    # the new segment holds ONLY the small batch's postings
    seg_rows = spark.read.parquet(
        *(os.path.join(idx, "m=1", d) for d in os.listdir(
            os.path.join(idx, "m=1")))
    )
    assert seg_rows.agg(
        F.sum(F.size("doc_ids"))
    ).first()[0] == 40
    assert sum(new_files.values()) < big_bytes / 4
    # marker: touched buckets now list 2 segments
    with open(os.path.join(idx, "_LATEST")) as f:
        marker = json.load(f)
    assert any(len(v) == 2 for v in marker["buckets"].values())
    # logical view converges to the one-shot truth
    truth = {
        r["value"]: sorted(r["doc_ids"])
        for r in postings(batch(0, 20_040), "event_type", "event_id").collect()
    }
    got = {
        r["value"]: list(r["doc_ids"])
        for r in read_index_postings(spark, idx).collect()
    }
    assert got == truth
    # compaction folds every bucket to ONE segment; content unchanged
    compact_index(spark, idx)
    with open(os.path.join(idx, "_LATEST")) as f:
        marker2 = json.load(f)
    assert all(len(v) == 1 for v in marker2["buckets"].values())
    got2 = {
        r["value"]: list(r["doc_ids"])
        for r in read_index_postings(spark, idx).collect()
    }
    assert got2 == truth
    raw = read_index(spark, idx).collect()
    assert all(len(r["doc_ids"]) <= 2 * cap for r in raw)


def test_rebucket_index_preserves_lookups_and_crash_safety(spark, tmp_path):
    """r9 VERDICT task 3: rebucket_index re-dials n_buckets in one
    O(index) pointer-swap job — lookups identical before/after, later
    merges use the new bucket space, and a crash before the commit
    leaves the OLD marker serving."""
    import json
    import os

    import polars_w_inverted_index_spark.streaming.index_maintenance as im

    idx = str(tmp_path / "idx_rb")

    def batch(start, n):
        rows = [(start + i, f"v{(start + i) % 9}") for i in range(n)]
        return spark.createDataFrame(rows, "event_id long, event_type string")

    merge_postings_batch(batch(0, 300), "event_type", idx, "event_id",
                         batch_id=0, max_postings_per_row=20, n_buckets=2)

    def logical():
        return {
            r["value"]: list(r["doc_ids"])
            for r in im.read_index_postings(spark, idx).collect()
        }

    before = logical()
    # crash mid-rebucket: the commit never lands -> old marker serves
    real_commit = im._commit

    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    im._commit = boom
    try:
        with pytest.raises(RuntimeError, match="crash"):
            im.rebucket_index(spark, idx, 8)
    finally:
        im._commit = real_commit
    with open(os.path.join(idx, "_LATEST")) as f:
        assert json.load(f)["n_buckets"] == 2
    assert logical() == before

    # the real rebucket: marker re-dialed, content identical
    im.rebucket_index(spark, idx, 8)
    with open(os.path.join(idx, "_LATEST")) as f:
        marker = json.load(f)
    assert marker["n_buckets"] == 8
    assert marker["max_postings_per_row"] == 20
    assert logical() == before
    # a later merge inherits the new bucket space and stays correct
    merge_postings_batch(batch(300, 60), "event_type", idx, "event_id",
                         batch_id=1)
    truth = {
        r["value"]: sorted(r["doc_ids"])
        for r in postings(batch(0, 360), "event_type", "event_id").collect()
    }
    assert logical() == truth
    # plain (non-chunked) indexes rebucket too
    idx2 = str(tmp_path / "idx_rb_plain")
    merge_postings_batch(batch(0, 100), "event_type", idx2, "event_id",
                         batch_id=0, n_buckets=16)
    want2 = {
        r["value"]: list(r["doc_ids"])
        for r in im.read_index_postings(spark, idx2).collect()
    }
    im.rebucket_index(spark, idx2, 4)
    got2 = {
        r["value"]: list(r["doc_ids"])
        for r in im.read_index_postings(spark, idx2).collect()
    }
    assert got2 == want2


def test_default_autocompact_dial_bounds_segments(spark, tmp_path):
    """r10 VERDICT task 6: max_segments_per_bucket defaults to the
    MEASURED dial (16: over 64 merges × 100k rows, lookups cost 0.55 s
    at 16 segments per bucket against a 0.29 s compacted floor and
    1.40 s at 64, while merges stayed at ~0.55 s), so a naive
    long-running stream can never accumulate unbounded compaction debt;
    None still disables the trigger for externally-scheduled folds."""
    import polars_w_inverted_index_spark.streaming.index_maintenance as im

    assert im.DEFAULT_MAX_SEGMENTS_PER_BUCKET == 16

    def batch(i, values=1):
        rows = [(i * 10 + j, f"v{j % values}") for j in range(10)]
        return spark.createDataFrame(rows, "event_id long, event_type string")

    # default dial: 20 single-value merges (every batch hits ONE
    # bucket) must trigger the inline fold at >16 segments
    idx = str(tmp_path / "idx_dial_default")
    for i in range(20):
        merge_postings_batch(batch(i), "event_type", idx, "event_id",
                             batch_id=i, max_postings_per_row=4,
                             n_buckets=2)
    frag = im.index_fragmentation(idx)
    assert frag["max_segments_per_bucket"] <= 16
    got = {
        r["value"]: list(r["doc_ids"])
        for r in im.read_index_postings(spark, idx).collect()
    }
    assert got == {"v0": list(range(200))}  # content survives the folds

    # None: the trigger is off, segments accumulate
    idx2 = str(tmp_path / "idx_dial_none")
    for i in range(20):
        merge_postings_batch(batch(i), "event_type", idx2, "event_id",
                             batch_id=i, max_postings_per_row=4,
                             n_buckets=2, max_segments_per_bucket=None)
    assert im.index_fragmentation(idx2)["max_segments_per_bucket"] == 20


def test_rebucket_rechunks_fragmented_chunked_index(spark, tmp_path):
    """r10 ADVICE: rebucket on a SEGMENTED chunked index must not fold
    duplicate (value, chunk) rows from different segments into one
    segment — it re-chunks (same normalization as compact_index), so
    the per-segment uniqueness invariant the module docstring promises
    holds in rebucket output too."""
    import json
    import os

    import polars_w_inverted_index_spark.streaming.index_maintenance as im

    idx = str(tmp_path / "idx_rb_frag")

    def batch(start, n):
        rows = [(start + i, f"v{(start + i) % 3}") for i in range(n)]
        return spark.createDataFrame(rows, "event_id long, event_type string")

    # two LSM merges over the same 3 values -> every bucket holds two
    # segments, and chunk ids collide across segments (both start at 0)
    merge_postings_batch(batch(0, 120), "event_type", idx, "event_id",
                         batch_id=0, max_postings_per_row=10, n_buckets=2)
    merge_postings_batch(batch(120, 120), "event_type", idx, "event_id",
                         batch_id=1)
    truth = {
        r["value"]: sorted(r["doc_ids"])
        for r in postings(batch(0, 240), "event_type", "event_id").collect()
    }
    frag = im.index_fragmentation(idx)
    assert frag["max_segments_per_bucket"] >= 2  # genuinely fragmented

    im.rebucket_index(spark, idx, 8)
    with open(os.path.join(idx, "_LATEST")) as f:
        marker = json.load(f)
    assert marker["n_buckets"] == 8
    assert all(len(v) == 1 for v in marker["buckets"].values())
    # per-segment (value, chunk) uniqueness restored by the re-chunk
    raw = im.read_index(spark, idx)
    dupes = (
        raw.groupBy("value", "chunk").count().where("count > 1").count()
    )
    assert dupes == 0
    # chunk rows stay bounded and content is unchanged
    assert all(len(r["doc_ids"]) <= 2 * 10 for r in raw.collect())
    got = {
        r["value"]: sorted(r["doc_ids"])
        for r in im.read_index_postings(spark, idx).collect()
    }
    assert got == truth


def test_should_rebuild_wires_drift_to_ann_cadence(spark, tmp_path):
    """r9 VERDICT task 6: the prose recipe ("rebuild centroids on the
    cadence the drift monitor indicates") is executable — a stable
    ingest says False, a drifted one says True, and mark_rebuilt
    re-baselines so the NEXT rebuild measures drift since this one."""
    from polars_w_inverted_index_spark.functions.text import unigram_lm
    from polars_w_inverted_index_spark.streaming import (
        drift_monitor_batch,
        mark_rebuilt,
        should_rebuild,
    )

    root = str(tmp_path / "ann_root")
    import os

    os.makedirs(root)
    state = str(tmp_path / "drift_state")
    reports = str(tmp_path / "reports")
    ref_lm = unigram_lm(
        spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon " * 20)],
            "doc_id long, text string",
        )
    )

    # no reports yet: no evidence, no rebuild
    assert should_rebuild(spark, root, reports, threshold_bits=0.1) is False

    # stable batch (same distribution as the reference)
    r0 = drift_monitor_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon " * 10)],
            "doc_id long, text string",
        ),
        state, ref_lm, batch_id=0,
    )
    r0.write.mode("append").parquet(reports)
    assert should_rebuild(spark, root, reports, threshold_bits=0.1) is False

    # drifted stream: disjoint vocabulary dominates the cumulative LM
    for bid in (1, 2, 3):
        r = drift_monitor_batch(
            spark.createDataFrame(
                [(10 + bid, "zork quux blorp frotz grue " * 30)],
                "doc_id long, text string",
            ),
            state, ref_lm, batch_id=bid,
        )
        r.write.mode("append").parquet(reports)
    assert should_rebuild(spark, root, reports, threshold_bits=0.1) is True

    # rebuild happened: re-baseline — drift since the rebuild is ~0
    mark_rebuilt(spark, root, reports)
    assert should_rebuild(spark, root, reports, threshold_bits=0.1) is False


def test_autocompact_bounds_segment_growth(spark, tmp_path):
    """max_segments_per_bucket: once any bucket's segment list exceeds
    the dial, the merge folds the index inline (the delta-state
    max_delta_dirs policy applied to the LSM index) — segment growth is
    bounded without an external compaction scheduler, and the logical
    postings stay exact throughout."""
    import json
    import os

    from polars_w_inverted_index_spark.streaming import (
        read_index_postings,
    )
    from polars_w_inverted_index_spark.streaming.index_maintenance import (
        index_fragmentation,
    )

    idx = str(tmp_path / "idx_auto")

    def batch(start, n):
        rows = [(start + i, "hot") for i in range(n)]
        return spark.createDataFrame(rows, "event_id long, event_type string")

    total = 0
    for bid in range(6):
        merge_postings_batch(
            batch(total, 8), "event_type", idx, "event_id",
            batch_id=bid, max_postings_per_row=5, n_buckets=2,
            max_segments_per_bucket=2,
        )
        total += 8
        frag = index_fragmentation(idx)
        # the dial holds after every merge: a merge into an index
        # whose fullest bucket is at the dial folds instead of
        # appending
        assert frag["max_segments_per_bucket"] <= 2, (bid, frag)
    got = read_index_postings(spark, idx).collect()
    assert [r["value"] for r in got] == ["hot"]
    assert list(got[0]["doc_ids"]) == list(range(total))
    with open(os.path.join(idx, "_LATEST")) as f:
        marker = json.load(f)
    assert marker["batch_id"] == 5  # replay guard survives compactions


def test_streaming_lsm_index_end_to_end(
    spark, events_batch, events_stream_dir, tmp_path
):
    """start_index_maintenance in chunked/LSM mode over a real file
    stream (two micro-batches): the logical postings equal the batch
    build, rows stay capped, and the autocompact dial holds across the
    foreachBatch merges."""
    from polars_w_inverted_index_spark.streaming import (
        read_index_postings,
    )
    from polars_w_inverted_index_spark.streaming.index_maintenance import (
        index_fragmentation,
    )

    index_path = str(tmp_path / "idx_lsm_e2e")
    q = start_index_maintenance(
        _stream(spark, events_batch, events_stream_dir),
        "event_type",
        index_path,
        str(tmp_path / "ckpt_lsm"),
        doc_id_col="event_id",
        max_postings_per_row=25,
        max_segments_per_bucket=1,
    )
    q.awaitTermination(120)
    got = {
        r["value"]: list(r["doc_ids"])
        for r in read_index_postings(spark, index_path).collect()
    }
    want = {
        r["value"]: sorted(r["doc_ids"])
        for r in postings(events_batch, "event_type", "event_id").collect()
    }
    assert got == want and len(want) > 0
    raw = read_index(spark, index_path).collect()
    assert all(len(r["doc_ids"]) <= 2 * 25 for r in raw)
    assert index_fragmentation(index_path)["max_segments_per_bucket"] <= 1

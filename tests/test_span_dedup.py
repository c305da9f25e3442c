"""Cross-document verbatim-span scrubbing (operators/span_dedup.py).

Evidence ladder:
- full equivalence with an independent pure-Python reference (the
  mark-every-hot-window formulation — the interval-merge plan must
  produce exactly the union of hot windows);
- DuckDB twin for the corpus-wide hot-window detection (the one
  shuffle);
- boundary semantics: repeats shorter than k are kept, a k-long repeat
  is scrubbed everywhere (all occurrences, incl. within one document);
- span table invariants: disjoint, sorted, end-exclusive, merged.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from polars_w_inverted_index_spark.operators.span_dedup import (
    repeated_spans,
    scrub_repeated_spans,
)

PASSAGE = (
    "this license text is repeated verbatim across many documents "
    "in the crawl and must be scrubbed"
)  # 15 tokens


DOCS = [
    (0, f"alpha beta gamma {PASSAGE} delta epsilon"),
    (1, f"one two three four five {PASSAGE} six seven"),
    (2, f"{PASSAGE} completely different trailing content here"),
    # internal repeat: the same 8-token run twice in ONE document
    (3, "x1 x2 x3 x4 x5 x6 x7 x8 filler y1 x1 x2 x3 x4 x5 x6 x7 x8 tail"),
    # clean document: nothing repeated
    (4, "totally unique wording that appears nowhere else in the corpus"),
    # short repeat (< k tokens shared): must be kept
    (5, "alpha beta gamma standalone sentence with its own words"),
]
K = 8
MIN_COUNT = 2


def _ref_scrub(k: int, min_count: int):
    toks = {i: t.lower().split() for i, t in DOCS}
    cnt: Counter = Counter()
    for tk in toks.values():
        for p in range(len(tk) - k + 1):
            cnt[tuple(tk[p : p + k])] += 1
    out = {}
    for i, tk in toks.items():
        marks = [False] * len(tk)
        for p in range(len(tk) - k + 1):
            if cnt[tuple(tk[p : p + k])] >= min_count:
                for j in range(p, p + k):
                    marks[j] = True
        out[i] = (
            " ".join(t for t, m in zip(tk, marks) if not m),
            sum(marks),
        )
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_scrub_matches_independent_reference(docs):
    want = _ref_scrub(K, MIN_COUNT)
    got = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_repeated_spans(docs, k=K, min_count=MIN_COUNT).collect()
    }
    assert got == want
    # the fixture exercises every class: shared passage scrubbed...
    assert PASSAGE not in got[0][0] and PASSAGE not in got[2][0]
    # ...internal repeat scrubbed everywhere (both copies)
    assert got[3][1] >= 16
    # ...clean + short-repeat docs untouched
    assert got[4][1] == 0 and got[5][1] == 0


def test_hot_windows_match_duckdb(spark, docs, tmp_path):
    """The corpus-wide hot-window set (the one shuffle) against a
    DuckDB twin built from the same tokenization + 60-bit hash."""
    from polars_w_inverted_index_spark.functions.hashing import md5_long_sql
    from polars_w_inverted_index_spark.functions.text import tokens_sql
    from polars_w_inverted_index_spark.operators.span_dedup import (
        _window_rows,
    )

    p = str(tmp_path / "docs.parquet")
    docs.write.mode("overwrite").parquet(p)
    # portable mode: the md5-based window hash DuckDB can reproduce
    got = sorted(
        r["sh"]
        for r in _window_rows(docs, K, "text", "doc_id", portable=True)
        .groupBy("sh")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= MIN_COUNT)
        .collect()
    )
    t = tokens_sql("text")
    gram = (
        f"array_to_string(list_slice({t}, i, i + {K - 1}), chr(31))"
    )
    want = sorted(
        x[0]
        for x in duckdb.connect()
        .execute(
            f"""
            WITH w AS (
              SELECT unnest(list_transform(
                       range(1, greatest(length({t}) - {K - 1}, 0) + 1),
                       i -> {md5_long_sql(gram)})) AS sh
              FROM '{p}/*.parquet'
            )
            SELECT sh FROM w GROUP BY sh HAVING COUNT(*) >= {MIN_COUNT}
            """
        )
        .fetchall()
    )
    assert got == want and len(got) > 0


def test_span_table_invariants(docs):
    rows = repeated_spans(docs, k=K, min_count=MIN_COUNT).collect()
    by_doc: dict = {}
    for r in rows:
        assert r["span_end"] - r["span_start"] >= K  # at least one window
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 < s2  # disjoint AND non-adjacent (maximal merge)
    # docs 4 and 5 have no repeated window at k=8
    assert set(by_doc) == {0, 1, 2, 3}


def test_all_occurrences_scrubbed_not_first_kept(docs):
    """Contract: every occurrence of a repeated span goes (order-free at
    any partitioning), including the 'first' one."""
    out = {
        r["doc_id"]: r["text"]
        for r in scrub_repeated_spans(docs, k=K, min_count=MIN_COUNT).collect()
    }
    for i in (0, 1, 2):
        assert "license" not in out[i]


def test_short_docs_pass_through(spark):
    tiny = spark.createDataFrame(
        [(0, "one two three"), (1, "one two three")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_repeated_spans(tiny, k=8).collect()
    }
    # shorter than k: no windows exist, nothing scrubbed — even though
    # the docs are identical (that is document-level dedup's job)
    assert out == {0: ("one two three", 0), 1: ("one two three", 0)}


def test_against_form_matches_full_corpus_semantics(spark, docs):
    """Scrubbing a batch against the standing corpus's window_counts
    artifact equals running the full operator over corpus ∪ batch and
    reading the batch rows — per-batch cost without the corpus rescan."""
    from polars_w_inverted_index_spark.operators.span_dedup import (
        scrub_repeated_spans_against,
        window_counts,
    )

    corpus = docs  # the module fixture is the standing corpus
    batch = spark.createDataFrame(
        [
            (100, f"fresh opening words {PASSAGE} fresh closing words"),
            (101, "entirely novel batch document with unique phrasing"),
            # repeats a batch-internal window with doc 102 (not corpus)
            (102, "b1 b2 b3 b4 b5 b6 b7 b8 only in batch"),
            (103, "b1 b2 b3 b4 b5 b6 b7 b8 also batch only"),
        ],
        "doc_id long, text string",
    )
    counts = window_counts(corpus, k=K)
    got = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_repeated_spans_against(
            counts, batch, k=K, min_count=MIN_COUNT
        ).collect()
    }
    full = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_repeated_spans(
            corpus.unionByName(batch), k=K, min_count=MIN_COUNT
        ).collect()
        if r["doc_id"] >= 100
    }
    assert got == full
    assert "license" not in got[100][0]  # corpus passage caught
    assert got[101][1] == 0  # novel doc untouched
    assert got[102][1] >= K and got[103][1] >= K  # batch-internal repeat


def test_streaming_span_scrub_batches(spark, tmp_path):
    """Micro-batch ingest: a passage first seen in batch 0 is scrubbed
    from batch 1; replayed committed batch is an empty no-op with the
    exact output schema; behind batch_id fails loudly; delta state
    accumulates and compacts."""
    from polars_w_inverted_index_spark.streaming import (
        read_window_state,
        span_scrub_batch,
    )

    state = str(tmp_path / "span_state")
    b0 = spark.createDataFrame(
        [
            (0, f"intro words {PASSAGE} outro words"),
            (1, "first batch unique content nothing shared at all here"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (10, f"later document quoting {PASSAGE} verbatim again"),
            (11, "second batch fresh content unrelated to anything prior"),
        ],
        "doc_id long, text string",
    )
    out0 = {
        r["doc_id"]: r["n_removed_tokens"]
        for r in span_scrub_batch(b0, state, k=K, batch_id=0).collect()
    }
    # passage seen ONCE so far: batch 0 keeps it (min_count=2)
    assert out0 == {0: 0, 1: 0}
    out1 = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in span_scrub_batch(b1, state, k=K, batch_id=1).collect()
    }
    assert "license" not in out1[10][0] and out1[10][1] >= 15
    assert out1[11][1] == 0

    # committed replay: empty, schema matches the scrub output
    replay = span_scrub_batch(b1, state, k=K, batch_id=1)
    assert replay.count() == 0
    assert replay.columns == ["doc_id", "text", "n_removed_tokens"]
    with pytest.raises(ValueError, match="behind committed"):
        span_scrub_batch(b0, state, k=K, batch_id=0)

    # state accumulated both batches' windows (delta dirs, summed read)
    st = read_window_state(spark, state)
    n_state = st.groupBy("sh").agg(F.sum("n")).count()
    assert n_state > 0

    # drive enough batches to cross max_delta_dirs and force compaction
    for i in range(2, 12):
        bi = spark.createDataFrame(
            [(100 + i, f"filler doc {i} with enough distinct words "
                       f"a{i} b{i} c{i} d{i} e{i} f{i} g{i} h{i}")],
            "doc_id long, text string",
        )
        span_scrub_batch(bi, state, k=K, batch_id=i)
    import json as _json
    import os as _os

    meta = _json.load(open(_os.path.join(state, "_LATEST")))
    assert len(meta["dirs"]) <= 9  # compaction bounded the delta list
    # the passage is STILL hot after compaction (counts preserved)
    b_late = spark.createDataFrame(
        [(999, f"final check {PASSAGE} end")], "doc_id long, text string"
    )
    late = span_scrub_batch(b_late, state, k=K, batch_id=12).first()
    assert late["n_removed_tokens"] >= 15


def test_streaming_state_file_count_bounded(spark, tmp_path):
    """r7 VERDICT task 8: a LONG micro-batch sequence must keep the
    window-count state's on-disk file count BOUNDED — deltas coalesce
    to ``delta_partitions`` part-files and the ``max_state_files``
    trigger compacts on the live listing even before the directory dial
    trips.  Counts stay exact across every compaction."""
    from polars_w_inverted_index_spark.streaming._commit import (
        read_marker,
        state_file_count,
    )
    from polars_w_inverted_index_spark.streaming.span_scrub import (
        read_window_state,
        span_scrub_batch,
    )

    state = str(tmp_path / "st")
    n_batches = 14
    all_rows = []
    peak = 0
    for b in range(n_batches):
        rows = [
            (
                b * 10 + i,
                " ".join(f"w{b}x{i}y{j}" for j in range(12)),
            )
            for i in range(3)
        ]
        all_rows += rows
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        span_scrub_batch(
            batch, state, k=8, batch_id=b,
            max_delta_dirs=6, delta_partitions=2, max_state_files=8,
        )
        peak = max(peak, state_file_count(state, read_marker(state)))
    # bound independent of the batch count: at most the trigger's worth
    # of delta files plus one compacted directory (width = shuffle
    # partitions) plus the newest delta
    shuffle_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert peak <= 8 + shuffle_width + 2, peak
    # state is still exact after the compactions it went through
    from polars_w_inverted_index_spark.operators.span_dedup import (
        window_counts,
    )

    everything = spark.createDataFrame(
        all_rows, "doc_id long, text string"
    )
    want = {
        r["sh"]: r["n"] for r in window_counts(everything, k=8).collect()
    }
    got_df = read_window_state(spark, state)
    got = {
        r["sh"]: r["n"]
        for r in got_df.groupBy("sh")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_sink_before_commit_crash_replay(spark, tmp_path):
    """Exactly-once across the sink/commit boundary: a crash AFTER the
    output write but BEFORE the state commit replays into identical
    rows overwritten in place; after a successful commit the replay is
    a no-op with the output directory already present."""
    import os as _os

    from polars_w_inverted_index_spark.streaming import span_scrub_batch

    state = str(tmp_path / "sc_state")
    out = str(tmp_path / "sc_out")

    def sink_for(bid):
        return lambda rows: rows.write.mode("overwrite").parquet(
            _os.path.join(out, f"batch={bid}")
        )

    b0 = spark.createDataFrame(
        [(0, f"prelude {PASSAGE} coda")], "doc_id long, text string"
    )
    span_scrub_batch(b0, state, k=K, batch_id=0, sink=sink_for(0))

    b1 = spark.createDataFrame(
        [(10, f"another doc with {PASSAGE} inside")],
        "doc_id long, text string",
    )

    class Boom(RuntimeError):
        pass

    def crashing_sink(rows):
        sink_for(1)(rows)
        raise Boom("simulated crash between output write and commit")

    with pytest.raises(Boom):
        span_scrub_batch(b1, state, k=K, batch_id=1, sink=crashing_sink)
    # state NOT committed: marker still at batch 0
    import json as _json

    assert _json.load(open(_os.path.join(state, "_LATEST")))["batch_id"] == 0

    # replay: recomputes (state unchanged), overwrites the same dir,
    # commits — passage now seen twice, so batch 1's copy is scrubbed
    got = span_scrub_batch(b1, state, k=K, batch_id=1, sink=sink_for(1))
    assert got.first()["n_removed_tokens"] >= 15
    assert _json.load(open(_os.path.join(state, "_LATEST")))["batch_id"] == 1

    # committed replay: no-op, output intact with exactly-once rows
    assert span_scrub_batch(
        b1, state, k=K, batch_id=1, sink=sink_for(1)
    ).count() == 0
    all_rows = spark.read.parquet(out)
    assert all_rows.count() == 2
    assert all_rows.select("doc_id").distinct().count() == 2


def test_k_mismatch_gated_loudly(spark, tmp_path):
    from polars_w_inverted_index_spark.streaming import span_scrub_batch

    state = str(tmp_path / "k_state")
    b = spark.createDataFrame(
        [(0, "some words here repeated nowhere else at all today")],
        "doc_id long, text string",
    )
    span_scrub_batch(b, state, k=8, batch_id=0)
    with pytest.raises(ValueError, match="built with k=8"):
        span_scrub_batch(b, state, k=10, batch_id=1)


def test_hash_variant_recorded_and_gated(spark, tmp_path):
    """The state marker records WHICH hash built the window counts; a
    state carrying a different variant fails loudly instead of silently
    joining nothing (the k-gate discipline).  Markers from before the
    field existed (all xxhash64-built) are accepted and stamped."""
    import json as _json
    import os as _os

    from polars_w_inverted_index_spark.operators.span_dedup import (
        HASH_XXH64,
    )
    from polars_w_inverted_index_spark.streaming import span_scrub_batch

    state = str(tmp_path / "h_state")
    b = spark.createDataFrame(
        [(0, "plain words with no repeats across this tiny corpus")],
        "doc_id long, text string",
    )
    span_scrub_batch(b, state, k=K, batch_id=0)
    mp = _os.path.join(state, "_LATEST")
    meta = _json.load(open(mp))
    assert meta["hash"] == HASH_XXH64

    # legacy marker (pre-field): accepted, re-stamped on the next commit
    del meta["hash"]
    _json.dump(meta, open(mp, "w"))
    span_scrub_batch(b, state, k=K, batch_id=1)
    assert _json.load(open(mp))["hash"] == HASH_XXH64

    # foreign variant: loud failure, state untouched
    meta = _json.load(open(mp))
    meta["hash"] = "md5-gram-v1"
    _json.dump(meta, open(mp, "w"))
    with pytest.raises(ValueError, match="hash variant"):
        span_scrub_batch(b, state, k=K, batch_id=2)


def test_min_count_mismatch_gated_loudly(spark, tmp_path):
    """Changing min_count mid-stream silently alters scrub semantics
    across batches of one state — gated like k (ADVICE r5)."""
    from polars_w_inverted_index_spark.streaming import span_scrub_batch

    state = str(tmp_path / "mc_state")
    b = spark.createDataFrame(
        [(0, "entirely fresh sentence content for the min count gate")],
        "doc_id long, text string",
    )
    span_scrub_batch(b, state, k=K, min_count=2, batch_id=0)
    with pytest.raises(ValueError, match="min_count=2"):
        span_scrub_batch(b, state, k=K, min_count=3, batch_id=1)


def test_scrub_is_byte_fidelity(spark):
    """VERDICT r5 task 2: detection keys on normalized tokens, but the
    rebuild preserves ORIGINAL bytes outside spans — unscrubbed
    documents pass through byte-identical (casing, tabs, run-length
    whitespace intact), scrubbed ones keep original casing/whitespace
    outside the removed char range."""
    P = PASSAGE.title()  # mixed case: normalization still detects it
    docs = spark.createDataFrame(
        [
            (0, f"Alpha  BETA\tgamma {P} Delta  epsilon"),
            (1, f"one two three {P}"),            # span at text end
            (2, f"{P} Trailing Words here"),      # span at text start
            (3, P),                               # whole-document span
            (4, "Unique WORDING   with\t odd   spacing kept verbatim"),
            (5, None),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_repeated_spans(docs, k=K, min_count=2).collect()
    }
    n_p = len(PASSAGE.split())
    # interior span: kept regions join on their original separator
    assert out[0] == ("Alpha  BETA\tgamma Delta  epsilon", n_p)
    # tail span swallows its preceding separator
    assert out[1] == ("one two three", n_p)
    # leading span swallows its following separator
    assert out[2] == ("Trailing Words here", n_p)
    assert out[3] == ("", n_p)
    # no-span documents: byte-identical passthrough (the old normalized
    # rebuild would have lowercased and single-spaced these)
    assert out[4] == (
        "Unique WORDING   with\t odd   spacing kept verbatim", 0
    )
    assert out[5] == (None, 0)
    assert out[6] == ("", 0)


def test_scrub_long_document_near_linear(spark):
    """VERDICT r6 task 2: the byte-fidelity rebuild (and detection) must
    stay near-linear in document length — the previous array-fold offsets
    computation was O(tokens²) per spanned doc, and a hidden
    size(tokens())-above-Generate collapse made detection itself
    quadratic.  A 100k-token spanned document (books, concatenated code
    at 100 TB) must cost ~10× a 10k-token one, not ~100×."""
    import time

    from pyspark.sql import functions as F

    span = " ".join(f"dup{i}" for i in range(20))

    def corpus(n_tokens):
        words = " ".join(f"w{i}" for i in range(n_tokens))
        half = len(words) // 2
        return spark.createDataFrame(
            [
                (1, f"{words[:half]} {span} {words[half:]}"),
                (2, f"other text {span} more text here"),
            ],
            "doc_id long, text string",
        )

    def run(df):
        t = time.perf_counter()
        row = (
            scrub_repeated_spans(df, k=K, min_count=2)
            .select(
                F.sum(F.length("text")).alias("chars"),
                F.sum("n_removed_tokens").alias("removed"),
            )
            .collect()[0]
        )
        return time.perf_counter() - t, row

    run(corpus(1_000))  # warm the plan/codegen caches
    t_small, small = run(corpus(10_000))
    t_big, big = run(corpus(100_000))
    # both corpora scrub exactly the two span occurrences (2 × 20 tokens)
    assert small["removed"] == 40 and big["removed"] == 40
    # 10× the tokens: allow generous constant overhead, but a quadratic
    # rebuild or detection would be ~100× and trip this by an order of
    # magnitude (pre-fix: the 100k doc did not finish in 8 minutes)
    assert t_big < 25 * max(t_small, 0.5), (t_small, t_big)


def test_scrub_many_disjoint_spans_exact(spark):
    """Boilerplate-dense documents: a doc alternating a hot k-gram with
    unique separator tokens carries one disjoint span per repeat.  The
    rebuild must keep exactly the separators (each interior span
    swallows its FOLLOWING separator boundary, i.e. removal runs to the
    next kept token's start) — and stay linear in span count (two
    quadratics hid here historically: a concat-growing parts fold and
    Spark map element_at's linear scan)."""
    n_rep = 50
    hot = " ".join(f"h{j}" for j in range(K))
    d1 = " ".join(f"{hot} sep{i}" for i in range(n_rep))
    d2 = " ".join(f"{hot} alt{i}" for i in range(n_rep))
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_repeated_spans(docs, k=K, min_count=2).collect()
    }
    assert out[1] == (" ".join(f"sep{i}" for i in range(n_rep)), n_rep * K)
    assert out[2] == (" ".join(f"alt{i}" for i in range(n_rep)), n_rep * K)


# --- property-based: random corpora vs the independent reference -------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = ["aa", "bb", "cc", "dd"]  # tiny vocab forces window collisions
_CORPUS = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


# Messy-whitespace corpus: tokens with mixed case separated by runs of
# space/tab/newline (all of which mean "whitespace" to BOTH Java's and
# Python's \s — exotic classes like NBSP/\x1f differ between the two
# regex engines and are deliberately excluded), optional leading runs.
_SEP = st.text(alphabet=" \t\n", min_size=1, max_size=3)
_MESSY_TOKEN = st.sampled_from(["Aa", "bB", "cc", "DD"])
_MESSY_DOC = st.builds(
    lambda lead, pairs: lead + "".join(t + s for t, s in pairs),
    st.sampled_from(["", " ", "\t "]),
    st.lists(st.tuples(_MESSY_TOKEN, _SEP), min_size=0, max_size=10),
)
_MESSY_CORPUS = st.lists(_MESSY_DOC, min_size=1, max_size=6)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_MESSY_CORPUS, k=st.integers(2, 3), min_count=st.integers(2, 3))
def test_property_byte_fidelity_messy_whitespace(spark, texts, k, min_count):
    """Byte-fidelity against an INDEPENDENT char-offset model on corpora
    with tab/newline/run-length separators and mixed case.  The engine
    resolves spans in CHUNK-INDEX space (whitespace-run slicing); the
    model here works purely in character offsets (re.finditer token
    spans), so a chunk-boundary arithmetic bug cannot hide in a shared
    formulation."""
    import re

    rows = list(enumerate(texts))
    parsed = {}
    for i, t in rows:
        spans = [(m.start(), m.end()) for m in re.finditer(r"\S+", t)]
        parsed[i] = (t, spans, [t[a:b].lower() for a, b in spans])
    cnt: Counter = Counter()
    for _, (_, _, toks) in parsed.items():
        for p in range(len(toks) - k + 1):
            cnt[tuple(toks[p : p + k])] += 1
    want = {}
    for i, (t, spans, toks) in parsed.items():
        n = len(toks)
        marks = [False] * n
        for p in range(n - k + 1):
            if cnt[tuple(toks[p : p + k])] >= min_count:
                for j in range(p, p + k):
                    marks[j] = True
        runs, s0 = [], None
        for idx in range(n + 1):
            m = idx < n and marks[idx]
            if m and s0 is None:
                s0 = idx
            if not m and s0 is not None:
                runs.append((s0, idx))
                s0 = None
        rem = []
        for rs, re_ in runs:
            if re_ < n:  # interior: through the next token's start
                rem.append((spans[rs][0], spans[re_][0]))
            else:  # tail: swallow the PRECEDING separator
                rem.append((spans[rs - 1][1] if rs > 0 else 0, len(t)))
        kept, cur = [], 0
        for a, b in rem:
            kept.append(t[cur:a])
            cur = b
        kept.append(t[cur:])
        want[i] = ("".join(kept), sum(e - s for s, e in runs))
    got = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_repeated_spans(
            spark.createDataFrame(rows, "doc_id long, text string"),
            k=k,
            min_count=min_count,
        ).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_CORPUS, k=st.integers(2, 4), min_count=st.integers(2, 3))
def test_property_scrub_matches_reference(spark, texts, k, min_count):
    """Any corpus/k/min_count: the Spark plan (hot windows → interval
    merge → rebuild) equals the mark-every-hot-window reference."""
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    toks = {i: t.lower().split() for i, t in rows}
    cnt: Counter = Counter()
    for tk in toks.values():
        for p in range(len(tk) - k + 1):
            cnt[tuple(tk[p : p + k])] += 1
    want = {}
    for i, tk in toks.items():
        marks = [False] * len(tk)
        for p in range(len(tk) - k + 1):
            if cnt[tuple(tk[p : p + k])] >= min_count:
                for j in range(p, p + k):
                    marks[j] = True
        want[i] = (
            " ".join(t for t, m in zip(tk, marks) if not m),
            sum(marks),
        )
    got = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in scrub_repeated_spans(
            docs, k=k, min_count=min_count
        ).collect()
    }
    assert got == want


def test_fast_and_portable_hash_paths_agree(spark, docs):
    """The codegen xxhash64 path (default) and the md5 portable path
    (DuckDB-verifiable) are different hash families over the same
    windows — hot-window DECISIONS and the scrubbed output must be
    identical (hashes are opaque keys)."""
    from polars_w_inverted_index_spark.operators.span_dedup import (
        _window_rows,
    )

    fast = _window_rows(docs, K, "text", "doc_id")
    portable = _window_rows(docs, K, "text", "doc_id", portable=True)
    # same windows: identical (doc_id, pos) sets and per-key df profile
    assert sorted(
        (r["doc_id"], r["pos"]) for r in fast.collect()
    ) == sorted((r["doc_id"], r["pos"]) for r in portable.collect())

    def dfs(win):
        return sorted(
            r["n"]
            for r in win.groupBy("sh").agg(F.count("*").alias("n")).collect()
        )

    assert dfs(fast) == dfs(portable)

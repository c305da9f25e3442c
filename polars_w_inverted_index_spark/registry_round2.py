"""Driver-verification round 2: oracle-gated queries for surfaces that
previously had pytest-only coverage (VERDICT.md r1 "untested by driver"
rows), plus the as-of join operator.

Each entry turns an engine capability into a hard CORRECTNESS row:
- general predicates (engine.where)            → engine_predicate_stats
- dotted field-path resolution (functions/paths)→ engine_dotted_path_stats
- optimized sorted parquet write + lazy scan    → source_sorted_write_roundtrip
- in-memory rows source                         → source_inmemory_rows
- synthetic generator + JSON source roundtrip   → source_json_roundtrip
- as-of temporal join (operators/asof)          → events_asof_join
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import Engine
from .functions.canon import csv_array
from .functions.pickling import guard_import_caches
from .operators.asof import asof_join
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
# Engine surface: general predicates + dotted paths
# ---------------------------------------------------------------------------

def q_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General predicates (SURVEY.md §2.2 extension): ``Engine.where``
    composes with every query; the filter reaches the scan as pushdown."""
    eng = Engine(
        spark, df=load_table(spark, sf_dir, "lineitem"),
        doc_id_col="l_orderkey",
    )
    df = eng.where("l_quantity > 25").get_numeric_stats("l_extendedprice")
    return df.select("min", "max", F.round("avg", 4).alias("avg"))


_register(
    "engine_predicate_stats",
    q_predicate_stats,
    """
    SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS min,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max,
           ROUND(AVG(CAST(l_extendedprice AS DOUBLE)), 4) AS avg
    FROM lineitem WHERE l_quantity > 25
    """,
)


def q_dotted_path_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dotted field-path resolution (main.rs:260-262): ``metrics.price``
    addresses the flattened ``metrics_price`` column."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice").alias("metrics_price")
    )
    eng = Engine(spark, df=li, doc_id_col="l_orderkey")
    df = eng.get_numeric_stats("metrics.price")
    assert eng.resolve("metrics.price") == "metrics_price"
    return df.select("min", "max", F.round("avg", 4).alias("avg"))


_register(
    "engine_dotted_path_stats",
    q_dotted_path_stats,
    """
    SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS min,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max,
           ROUND(AVG(CAST(l_extendedprice AS DOUBLE)), 4) AS avg
    FROM lineitem
    """,
)


# ---------------------------------------------------------------------------
# Sources: optimized write, in-memory rows, generator → JSON → reader
# ---------------------------------------------------------------------------

def q_sorted_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/O1 (main.rs:197-257): range-partitioned sorted zstd write, read
    back lazily — contents must survive the optimized layout exactly."""
    from .registry import scratch_dir
    from .sources.parquet import scan_parquet, write_sorted_parquet

    li = load_table(spark, sf_dir, "lineitem")
    d = scratch_dir("sorted_rt", sf_dir)
    write_sorted_parquet(li, d, sort_col="l_orderkey", target_partitions=8)
    back = scan_parquet(spark, d)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


_register(
    "source_sorted_write_roundtrip",
    q_sorted_write_roundtrip,
    """
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
    FROM lineitem GROUP BY 1
    """,
)


def q_inmemory_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: literal in-memory rows → DataFrame → postings.  Null value rows
    dropped (main.rs:338-342).  Folded into ``source_inmemory_json_roundtrip``
    as two pivoted columns — the driver's correctness sweep records at most
    50 rows, so the trivial sources share one row."""
    rows = [(1, "a"), (2, "b"), (3, "a"), (4, None), (5, "b"), (6, "a")]
    df = spark.createDataFrame(rows, "doc_id long, val string")
    return csv_array(postings(df, "val"), "doc_ids")


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 + JSON source: the seeded Spark-native generator (1000 records)
    nested back to the LogRecord wire shape (main.rs:46-58), written as
    NDJSON, re-read schema-explicit (sources/json.py) and flattened.  The
    oracle pins literal aggregate constants, so this row proves BOTH
    generator determinism (same (n, seed) → same table, anywhere) and the
    JSON reader's parse/flatten fidelity — any drift in either breaks the
    hash."""
    from .sources.generator import generate_logs
    from .sources.json import read_logs_json

    flat = generate_logs(spark, 1000)
    nested = flat.select(
        F.to_json(
            F.struct(
                F.col("doc_id"),
                F.date_format(
                    "timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
                ).alias("timestamp"),
                F.col("level"),
                F.col("message"),
                F.struct(
                    F.col("source_ip").alias("ip"),
                    F.col("source_host").alias("host"),
                    F.col("source_region").alias("region"),
                ).alias("source"),
                F.struct(
                    F.col("user_id").alias("id"),
                    F.col("user_session_id").alias("session_id"),
                    F.struct(
                        F.col("user_metrics_login_time_ms").alias(
                            "login_time_ms"
                        ),
                        F.col("user_metrics_clicks").alias("clicks"),
                        F.col("user_metrics_active").alias("active"),
                    ).alias("metrics"),
                ).alias("user"),
                F.col("payload_size"),
                F.col("tags"),
                F.col("answers"),
                F.col("processed"),
            )
        ).alias("value")
    )
    from .registry import scratch_dir

    d = scratch_dir("json_rt", sf_dir)
    nested.write.mode("overwrite").text(d)
    back = read_logs_json(spark, d)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("timestamp").alias("n_ts"),
        F.sum("payload_size").alias("sum_payload"),
        F.countDistinct("level").alias("n_levels"),
        F.sum("user_metrics_clicks").alias("sum_clicks"),
        F.sum(F.col("user_metrics_active").cast("long")).alias("n_active"),
        F.sum(F.size("tags")).alias("sum_tags"),
        F.sum(F.size("answers")).alias("sum_answers"),
        F.sum(F.length("message")).alias("sum_msg_len"),
    )


def q_inmemory_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 + S5 + JSON source in one driver row: the JSON-roundtrip
    aggregates (generator → NDJSON → schema-explicit re-read) cross-joined
    with the in-memory-rows postings pivoted to two columns.  Both source
    paths stay fully exercised; they share a row because the driver's
    correctness sweep records at most 50."""
    inm = (
        q_inmemory_rows(spark, sf_dir)
        .groupBy()
        .pivot("value", ["a", "b"])
        .agg(F.first("doc_ids"))
        .select(
            F.col("a").alias("inmem_a"), F.col("b").alias("inmem_b")
        )
    )
    return q_json_roundtrip(spark, sf_dir).crossJoin(inm)


# Constants pinned from the seeded generator (n=1000, seed=42) — see the
# docstring for why literals are the right oracle here.
_register(
    "source_inmemory_json_roundtrip",
    q_inmemory_json_roundtrip,
    """
    SELECT 1000::BIGINT AS n_rows, 1000::BIGINT AS n_ts,
           10168523::BIGINT AS sum_payload, 5::BIGINT AS n_levels,
           47628::BIGINT AS sum_clicks, 730::BIGINT AS n_active,
           3828::BIGINT AS sum_tags, 2020::BIGINT AS sum_answers,
           58890::BIGINT AS sum_msg_len,
           '1,3,6' AS inmem_a, '2,5' AS inmem_b
    """,
)

_register(
    "source_inmemory_rows",
    q_inmemory_rows,
    None,
    registered=False,
    evidence=(
        "folded into source_inmemory_json_roundtrip's driver row "
        "(pivoted inmem_a/inmem_b columns pin its postings)"
    ),
)
_register(
    "source_json_roundtrip",
    q_json_roundtrip,
    None,
    registered=False,
    evidence=(
        "folded into source_inmemory_json_roundtrip's driver row "
        "(its nine aggregate columns are that row's oracle constants)"
    ),
)


# ---------------------------------------------------------------------------
# Multimodal: resize + frame-sample, content-verified byte-for-byte
# ---------------------------------------------------------------------------

def _fake_media(spark: SparkSession, sf_dir: str, kind: str,
                w: int, h: int, n_frames: int = 1) -> DataFrame:
    """Deterministic FAKE-container media table derived from documents:
    payload byte i = (media_id·31 + i·7) mod 256 — the same arithmetic
    convention as the features query, so oracles recompute pixels in SQL."""
    import pandas as pd

    from .operators import multimodal as MM

    n_payload = w * h * n_frames

    def _to_fake(it):
        guard_import_caches()
        for pdf in it:
            rows = []
            for mid in pdf["media_id"]:
                payload = bytes(
                    (int(mid) * 31 + i * 7) % 256 for i in range(n_payload)
                )
                rows.append(
                    (mid, MM.encode_fake(kind, w, h, payload, n_frames))
                )
            yield pd.DataFrame(rows, columns=["media_id", "data"])

    return (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .mapInPandas(_to_fake, "media_id long, data binary")
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16×16 → 8×8 nearest-neighbor resize; the oracle rebuilds the FULL
    output container (header + resized payload) arithmetically and the
    hex rendering must match byte-for-byte."""
    from .operators.multimodal import resize_images

    resized = resize_images(_fake_media(spark, sf_dir, "I", 16, 16), 8, 8)
    return resized.select(
        "media_id", "width", "height",
        F.lower(F.hex("data")).alias("blob_hex"),
    )


from .operators.multimodal import encode_fake as _ef  # noqa: E402

_RESIZE_HDR_HEX = _ef("I", 8, 8, b"").hex()

# resized[y', x'] reads source index 32·y' + 2·x' (nearest-neighbor grid)
_register(
    "multimodal_resize",
    q_media_resize,
    f"""
    SELECT doc_id AS media_id,
           CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           '{_RESIZE_HDR_HEX}' || string_agg(
             format('{{:02x}}',
                    (doc_id * 31 + (32 * (k // 8) + 2 * (k % 8)) * 7) % 256),
             '' ORDER BY k) AS blob_hex
    FROM documents, (SELECT unnest(range(0, 64)) AS k)
    GROUP BY doc_id
    """,
)


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-frame 4×4 FAKE videos, every-2nd-frame sampling (frames 0, 2);
    each emitted frame's bytes verified exactly via hex."""
    from .operators.multimodal import sample_frames

    frames = sample_frames(
        _fake_media(spark, sf_dir, "V", 4, 4, n_frames=3), every_n=2
    )
    return frames.select(
        "media_id", "frame_idx",
        F.length("frame").cast("long").alias("n_bytes"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


_register(
    "multimodal_frame_sample",
    q_media_frames,
    """
    SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
           CAST(16 AS BIGINT) AS n_bytes,
           string_agg(
             format('{:02x}', (doc_id * 31 + (fi * 16 + j) * 7) % 256),
             '' ORDER BY j) AS frame_hex
    FROM documents,
         (SELECT unnest([0, 2]) AS fi),
         (SELECT unnest(range(0, 16)) AS j)
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# Training-pipeline composition (documents table)
# ---------------------------------------------------------------------------

SPLIT_SALT = 1234


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-independent
    id hash — the standard leak-free split for training corpora: the
    assignment is a pure function of doc_id (survives re-shards, joins,
    incremental appends), never of row order or partitioning."""
    from .functions.hashing import md5_long
    from .functions.text import token_count

    doc = load_table(spark, sf_dir, "documents")
    h = md5_long(F.col("doc_id").cast("string"), salt=SPLIT_SALT) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return doc.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("sum_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


from .functions.hashing import md5_long_sql as _md5sql  # noqa: E402
from .functions.text import token_count_sql as _tcsql  # noqa: E402

_register(
    "pipeline_train_val_split",
    q_train_val_split,
    f"""
    SELECT CASE WHEN h < 80 THEN 'train'
                WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs, CAST(SUM(tc) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS min_doc_id
    FROM (
      SELECT doc_id,
             ({_md5sql("CAST(doc_id AS VARCHAR)", salt=SPLIT_SALT)} % 100)
               AS h,
             {_tcsql('text')} AS tc
      FROM documents
    )
    GROUP BY 1
    """,
)


def q_quality_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-prep composition: quality gate (token count) →
    exact dedup (min-id canonical survivor) → per-language counts.  One
    registry row proving the operators COMPOSE — filters still push down
    through the dedup semi-join, the dedup shuffle keys on the content
    hash, and lang-id runs only on surviving rows."""
    from .functions.text import lang_id, token_count
    from .operators.dedup import exact_dedup

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", token_count("text").alias("n_tok")
    )
    kept = exact_dedup(doc.where(F.col("n_tok") >= 30), "text", "doc_id")
    return kept.groupBy(lang_id("text").alias("lang")).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
    )


from .functions.text import lang_id_sql as _langsql  # noqa: E402

_register(
    "pipeline_quality_dedup",
    q_quality_dedup_pipeline,
    f"""
    WITH q AS (
      SELECT doc_id, text, {_tcsql('text')} AS n_tok
      FROM documents
      WHERE {_tcsql('text')} >= 30
    ),
    canon AS (
      SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)
    ),
    kept AS (SELECT q.* FROM q JOIN canon USING (doc_id))
    SELECT {_langsql('text')} AS lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_tok), 4) AS avg_tokens
    FROM kept GROUP BY 1
    """,
)


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document and term frequencies — the
    tokenizer-training / df-cut statistics pass.  One explode + one
    shuffle on the term (map-side partial counts); identical shape to
    the postings build minus the id lists."""
    from .functions.text import tokens

    from .plans.distribution import ensure_parallelism

    doc = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.5): fan tokenize+explode out of the single-partition
    # scan (no-op at scale)
    tok = ensure_parallelism(doc.select("doc_id", "text")).select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    return tok.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


from .functions.text import tokens_sql as _toksql  # noqa: E402

_register(
    "text_vocabulary",
    q_vocabulary,
    f"""
    SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM (
      SELECT doc_id, unnest({_toksql('text')}) AS term FROM documents
    )
    GROUP BY term
    """,
)


CONTAM_SHINGLE_K = 5
BENCHMARK_MAX_ID = 50  # doc_id < 50 stands in for the eval/benchmark set


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training doc, count the
    distinct word 5-grams it shares with the benchmark set and how many
    benchmark docs it hits — docs with any overlap get dropped (or
    flagged) before training.  Candidates meet ONLY through the shingle
    equi-join (hash key), so disjoint docs cost nothing; the benchmark
    side is small by definition and broadcast-joins at scale."""
    from .functions.hashing import md5_long
    from .functions.text import word_shingles

    from .plans.distribution import ensure_parallelism

    doc = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.5): fan shingle+hash out of the single-partition
    # scan (no-op at scale)
    sh = ensure_parallelism(doc.select("doc_id", "text")).select(
        "doc_id",
        F.explode(word_shingles("text", CONTAM_SHINGLE_K)).alias("s"),
    ).select("doc_id", md5_long(F.col("s")).alias("sh"))
    bench = (
        sh.where(F.col("doc_id") < BENCHMARK_MAX_ID)
        .select(F.col("doc_id").alias("bench_id"), "sh")
    )
    train = sh.where(F.col("doc_id") >= BENCHMARK_MAX_ID)
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs_hit"),
        )
    )


from .functions.hashing import md5_long_sql as _md5sql2  # noqa: E402
from .functions.text import word_shingles_sql as _wssql  # noqa: E402

_register(
    "pipeline_contamination",
    q_contamination,
    f"""
    WITH sh AS (
      SELECT doc_id,
             {_md5sql2("unnest(" + _wssql('text', CONTAM_SHINGLE_K) + ")")}
               AS sh
      FROM documents
    ),
    bench AS (
      SELECT doc_id AS bench_id, sh FROM sh
      WHERE doc_id < {BENCHMARK_MAX_ID}
    ),
    train AS (SELECT * FROM sh WHERE doc_id >= {BENCHMARK_MAX_ID})
    SELECT t.doc_id,
           COUNT(DISTINCT t.sh) AS n_shared_shingles,
           COUNT(DISTINCT b.bench_id) AS n_bench_docs_hit
    FROM train t JOIN bench b ON t.sh = b.sh
    GROUP BY t.doc_id
    """,
)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (Efraimidis–Spirakis shape): priority
    key = hash(doc_id)/weight, keep the k smallest — higher-weight docs
    win proportionally, assignment is a pure function of (doc_id, weight)
    so the sample is reproducible under re-shards and engine changes.

    Cross-engine exactness by construction: the hash is 40 bits and the
    weight a small integer, both exactly representable in a double, and
    IEEE division is correctly rounded in every engine — so the keys are
    bit-identical in Spark and DuckDB and the top-k set cannot flake.
    ``orderBy().limit(k)`` plans as TakeOrdered (per-partition partial
    top-k then merge), the distributed top-k shape — never a global sort.
    """
    from .functions.text import token_count

    doc = load_table(spark, sf_dir, "documents")
    h40 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    w = F.greatest(token_count("text"), F.lit(1))
    key = h40.cast("double") / w.cast("double")
    return (
        doc.select(
            "doc_id",
            w.alias("weight"),
            key.alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(50)
    )


_register(
    "pipeline_weighted_sample",
    q_weighted_sample,
    f"""
    SELECT doc_id, weight, priority FROM (
      SELECT doc_id,
             greatest({_tcsql('text')}, 1) AS weight,
             CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                  1, 10))::BIGINT AS DOUBLE)
               / CAST(greatest({_tcsql('text')}, 1) AS DOUBLE) AS priority
      FROM documents
    )
    ORDER BY priority, doc_id LIMIT 50
    """,
)


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized point-in-interval join (operators/interval_join.py):
    events landing in 24 literal 20-minute maintenance windows, counted
    per window.  The plan is an equi-join on the time bucket — never the
    BroadcastNestedLoopJoin a raw range predicate would produce."""
    from .operators.interval_join import interval_join

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    iv = spark.range(24).select(
        F.col("id").cast("int").alias("window_id"),
        (base + F.make_dt_interval(F.lit(0), F.col("id").cast("int"))).alias(
            "start"
        ),
        (
            base
            + F.make_dt_interval(
                F.lit(0), F.col("id").cast("int"), F.lit(20)
            )
        ).alias("end"),
    )
    joined = interval_join(e, iv, bucket_width_sec=3600)
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_register(
    "events_interval_join",
    q_events_interval_join,
    """
    WITH iv AS (
      SELECT CAST(h AS INTEGER) AS window_id,
             TIMESTAMP '2024-01-01 00:00:00' + h * INTERVAL 1 HOUR
               AS w_start,
             TIMESTAMP '2024-01-01 00:00:00' + h * INTERVAL 1 HOUR
               + INTERVAL 20 MINUTE AS w_end
      FROM (SELECT unnest(range(0, 24)) AS h)
    )
    SELECT window_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts < iv.w_end
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# As-of temporal join (events table)
# ---------------------------------------------------------------------------

def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the user's most recent prior-or-simultaneous
    view (operators/asof.py) — the training-pipeline "attach latest
    context snapshot" shape."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks, views, on="user_id", right_cols=["event_id", "value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.col("event_id_asof").alias("view_event_id"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "view_ts"
        ),
        F.round("value_asof", 4).alias("view_value"),
    )


_register(
    "events_asof_join",
    q_events_asof,
    # Same union-window construction as the Spark operator (not DuckDB's
    # ASOF JOIN syntax) so the inclusive-bound and tie semantics are
    # mirrored by definition rather than by vendor coincidence.  The
    # matched view row travels as ONE struct (NULL on click rows) so
    # last_value is row-atomic exactly like the operator's _rp struct —
    # per-column IGNORE NULLS would mix columns from two view rows the
    # moment a view carries a NULL payload value.
    """
    WITH u AS (
      SELECT user_id, ts AS _ts, 1 AS _tag, NULL::BIGINT AS _tb,
             event_id, ts,
             NULL::STRUCT(v_id BIGINT, v_val DOUBLE, v_ts TIMESTAMP) AS _rp
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, 0, event_id,
             NULL, NULL,
             {'v_id': event_id, 'v_val': value, 'v_ts': ts}
      FROM events WHERE event_type = 'view'
    ),
    m AS (
      SELECT user_id, _tag, event_id, ts,
             last_value(_rp IGNORE NULLS) OVER w AS rp
      FROM u
      WINDOW w AS (
        PARTITION BY user_id
        ORDER BY _ts NULLS FIRST, _tag, _tb
        ROWS UNBOUNDED PRECEDING
      )
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           rp.v_id AS view_event_id,
           strftime(rp.v_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
           ROUND(rp.v_val, 4) AS view_value
    FROM m WHERE _tag = 1
    """,
)

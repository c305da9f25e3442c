"""IndexCatalog: materialization, index-answered queries, chunked merge,
QueryStats instrumentation, and postings invariants (SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from polars_w_inverted_index_spark import Engine
from polars_w_inverted_index_spark.operators.inverted_index import (
    postings,
    value_lookup,
)
from polars_w_inverted_index_spark.plans.catalog import IndexCatalog
from polars_w_inverted_index_spark.stats import QueryStats


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _vm(df):
    return {r["value"]: list(r["doc_ids"]) for r in df.collect()}


def test_build_and_lookup(spark, lineitem, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    cat = IndexCatalog(spark, root)
    cat.build(lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey")
    hit = cat.lookup("lineitem", "l_returnflag")
    assert hit is not None
    want = _vm(postings(lineitem, "l_returnflag", "l_orderkey"))
    assert _vm(hit) == want
    # a fresh catalog instance over the same root sees the index (metadata
    # is persisted, not in-process state)
    assert _vm(IndexCatalog(spark, root).lookup("lineitem", "l_returnflag")) \
        == want


def test_engine_answers_from_index(spark, lineitem, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    cat = IndexCatalog(spark, root)
    cat.build(lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey")
    eng = Engine(
        spark,
        df=lineitem,
        doc_id_col="l_orderkey",
        index_catalog=cat,
        table_name="lineitem",
    )
    out = eng.get_field_values("l_returnflag")
    # the plan reads the materialized index, not the base table
    files = out.inputFiles()
    assert files and all(root in f for f in files)
    assert not any("lineitem.parquet" in f for f in files)
    assert _vm(out) == _vm(postings(lineitem, "l_returnflag", "l_orderkey"))
    # un-indexed fields fall back to the base-table plan
    fallback = eng.get_field_values("l_linestatus")
    assert any("lineitem.parquet" in f for f in fallback.inputFiles())


def test_lookup_by_doc_ids_served_from_index(
    spark, lineitem, tmp_path_factory
):
    from polars_w_inverted_index_spark.plans.rewrite import (
        ISIN_THRESHOLD,
        filter_by_doc_ids,
    )

    root = str(tmp_path_factory.mktemp("idx"))
    cat = IndexCatalog(spark, root)
    cat.build(lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey")
    ids = list(range(0, 1500, 15))

    hit = cat.lookup_by_doc_ids("lineitem", "l_returnflag", ids)
    assert hit is not None
    # plan is index-only: no base-table scan anywhere
    files = hit.inputFiles()
    assert files and all(root in f for f in files)
    assert "lineitem.parquet" not in hit._jdf.queryExecution() \
        .executedPlan().toString()
    # equals the base-table id-set build exactly (values, multiplicity)
    want = _vm(
        postings(
            filter_by_doc_ids(lineitem, ids, "l_orderkey"),
            "l_returnflag",
            "l_orderkey",
        )
    )
    assert _vm(hit) == want

    # semantics gates: duplicate requested ids (join-multiplicity — a
    # posting filter can't reproduce it) and oversized id lists decline
    assert cat.lookup_by_doc_ids("lineitem", "l_returnflag", [1, 1]) is None
    big = list(range(ISIN_THRESHOLD + 1))
    assert cat.lookup_by_doc_ids("lineitem", "l_returnflag", big) is None

    # Engine wiring: by-ids query is answered from the index when attached
    eng = Engine(
        spark, df=lineitem, doc_id_col="l_orderkey",
        index_catalog=cat, table_name="lineitem",
    )
    out = eng.get_field_values_by_doc_ids("l_returnflag", ids)
    assert all(root in f for f in out.inputFiles())
    assert _vm(out) == want


def test_composite_index_serves_conjunction_index_only(
    spark, lineitem, tmp_path_factory
):
    """build_composite → get_doc_ids_where: the conjunctive lookup is
    answered FROM the tuple-keyed postings (base table untouched), each
    equality reaching the index scan as a pushed filter, and equals the
    base-table conjunction exactly — values AND multiplicity."""
    root = str(tmp_path_factory.mktemp("idxc"))
    cat = IndexCatalog(spark, root)
    cat.build_composite(
        lineitem, "lineitem", ["l_linestatus", "l_returnflag"],
        doc_id_col="l_orderkey",
    )
    eng = Engine(
        spark, df=lineitem, doc_id_col="l_orderkey",
        index_catalog=cat, table_name="lineitem",
    )
    # field order in the lookup differs from the build order: the
    # conjunction is order-free, the key is normalized
    out = eng.get_doc_ids_where(
        {"l_returnflag": "R", "l_linestatus": "F"}
    )
    files = out.inputFiles()
    assert files and all(root in f for f in files)
    assert not any("lineitem.parquet" in f for f in files)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "v_l_returnflag" in plan
    want = sorted(
        r["l_orderkey"]
        for r in lineitem.where(
            (F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F")
        ).select("l_orderkey").collect()
    )
    got = sorted(r["l_orderkey"] for r in out.collect())
    assert got == want and len(got) > 0


def test_composite_index_declines_subset_and_mismatch(
    spark, lineitem, tmp_path_factory
):
    """A (a, b) composite index must NOT serve a single-field or
    differently-shaped lookup — those fall back to the base plan."""
    root = str(tmp_path_factory.mktemp("idxc"))
    cat = IndexCatalog(spark, root)
    cat.build_composite(
        lineitem, "lineitem", ["l_returnflag", "l_linestatus"],
        doc_id_col="l_orderkey",
    )
    # subset of the indexed fields: decline
    assert cat.lookup_composite("lineitem", {"l_returnflag": "R"}) is None
    # different doc_id_col: decline
    assert (
        cat.lookup_composite(
            "lineitem",
            {"l_returnflag": "R", "l_linestatus": "F"},
            doc_id_col="l_partkey",
        )
        is None
    )
    # engine falls back to the base scan for the subset conjunction
    # (no single-field index exists in this catalog)
    eng = Engine(
        spark, df=lineitem, doc_id_col="l_orderkey",
        index_catalog=cat, table_name="lineitem",
    )
    fb = eng.get_doc_ids_where({"l_returnflag": "R"})
    assert any("lineitem.parquet" in f for f in fb.inputFiles())
    # '+' in a composite field name is rejected loudly (it would alias
    # the order-normalized catalog key)
    with pytest.raises(ValueError, match=r"\+"):
        cat.build_composite(
            lineitem, "lineitem", ["a+b", "l_returnflag"],
            doc_id_col="l_orderkey",
        )


def test_single_equality_served_from_single_field_index(
    spark, lineitem, tmp_path_factory
):
    """get_doc_ids_where with ONE equality rides the single-field
    postings index (value point-filter + explode) — zero base-table
    scan, multiplicity preserved."""
    root = str(tmp_path_factory.mktemp("idx1"))
    cat = IndexCatalog(spark, root)
    cat.build(
        lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey"
    )
    eng = Engine(
        spark, df=lineitem, doc_id_col="l_orderkey",
        index_catalog=cat, table_name="lineitem",
    )
    out = eng.get_doc_ids_where({"l_returnflag": "R"})
    files = out.inputFiles()
    assert files and all(root in f for f in files)
    want = sorted(
        r["l_orderkey"]
        for r in lineitem.where(
            (F.col("l_returnflag") == "R")
            & F.col("l_orderkey").isNotNull()
        ).select("l_orderkey").collect()
    )
    assert sorted(r["l_orderkey"] for r in out.collect()) == want


def test_lookup_declines_on_doc_id_col_mismatch(
    spark, lineitem, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("idx"))
    cat = IndexCatalog(spark, root)
    cat.build(lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey")
    # identity gate: an l_orderkey postings index must never answer a
    # query expecting l_partkey postings (silently wrong data otherwise)
    assert cat.lookup(
        "lineitem", "l_returnflag", doc_id_col="l_partkey"
    ) is None
    assert cat.lookup_by_doc_ids(
        "lineitem", "l_returnflag", [1, 2, 3], doc_id_col="l_partkey"
    ) is None
    # Engine wired with a different doc_id_col falls back to the base
    # plan and computes the CORRECT l_partkey postings
    eng = Engine(
        spark, df=lineitem, doc_id_col="l_partkey",
        index_catalog=cat, table_name="lineitem",
    )
    out = eng.get_field_values_by_doc_ids("l_returnflag", [1, 2, 3])
    assert any("lineitem.parquet" in f for f in out.inputFiles())
    want = _vm(
        postings(
            lineitem.where(F.col("l_partkey").isin([1, 2, 3])),
            "l_returnflag",
            "l_partkey",
        )
    )
    assert _vm(out) == want


def test_build_many_equals_per_field_builds(
    spark, lineitem, tmp_path_factory
):
    import json
    import os

    root_a = str(tmp_path_factory.mktemp("idx_many"))
    root_b = str(tmp_path_factory.mktemp("idx_single"))
    fields = ["l_returnflag", "l_linestatus"]
    cat_a = IndexCatalog(spark, root_a)
    paths = cat_a.build_many(
        lineitem, "lineitem", fields, doc_id_col="l_orderkey"
    )
    cat_b = IndexCatalog(spark, root_b)
    for f in fields:
        cat_b.build(lineitem, "lineitem", f, doc_id_col="l_orderkey")
    for f in fields:
        assert _vm(cat_a.lookup("lineitem", f)) == _vm(
            cat_b.lookup("lineitem", f)
        )
        # same markers/metadata the per-field build writes → the Catalyst
        # rule and lookup_by_doc_ids treat both builds identically
        assert os.path.exists(os.path.join(paths[f], "_SUCCESS"))
        meta = json.load(
            open(os.path.join(paths[f], "_index_meta.json"))
        )
        assert meta["doc_id_col"] == "l_orderkey"
        assert meta["chunked"] is False
    # a fresh catalog over the root sees all indexes (metadata persisted)
    fresh = IndexCatalog(spark, root_a)
    for f in fields:
        assert fresh.lookup("lineitem", f) is not None
    # id-set serving works off a build_many index too
    ids = list(range(0, 1500, 15))
    hit = cat_a.lookup_by_doc_ids("lineitem", "l_returnflag", ids)
    assert hit is not None and hit.count() > 0


def test_build_on_filtered_frame_records_no_source(
    spark, lineitem, tmp_path_factory
):
    import os

    root = str(tmp_path_factory.mktemp("idx"))
    cat = IndexCatalog(spark, root)
    path = cat.build(
        lineitem.where(F.col("l_quantity") > 25),
        "lineitem", "l_returnflag", doc_id_col="l_orderkey",
    )
    # subset build → identity markers withheld → the Catalyst rule can
    # never serve this index for full-table queries
    assert not os.path.exists(os.path.join(path, "_index_source"))
    assert not os.path.exists(os.path.join(path, "_index_meta.json"))
    # an unfiltered build writes both
    path2 = cat.build(
        lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey"
    )
    assert os.path.exists(os.path.join(path2, "_index_source"))
    import json as _json

    meta = _json.load(open(os.path.join(path2, "_index_meta.json")))
    assert meta["doc_id_col"] == "l_orderkey"
    assert meta["chunked"] is False


def test_stale_index_not_served_after_append(spark, lineitem, tmp_path):
    """Append to the base table after the build: the lookup's fingerprint
    gate must DECLINE (fall back to the base plan) instead of serving
    pre-append postings; a rebuild re-validates.  The reference can't go
    stale (it rebuilds per query, main.rs:325-385) — a materializing
    engine must prove this or users hit it on their first table update."""
    base = str(tmp_path / "tbl")
    small = lineitem.limit(200)
    small.write.mode("overwrite").parquet(base)
    tbl = spark.read.parquet(base)

    root = str(tmp_path / "idx")
    cat = IndexCatalog(spark, root)
    cat.build(tbl, "tbl", "l_returnflag", doc_id_col="l_orderkey")
    assert cat.lookup("tbl", "l_returnflag") is not None

    # the table moves: an append lands new part-files
    lineitem.limit(50).write.mode("append").parquet(base)
    assert cat.lookup("tbl", "l_returnflag") is None
    assert (
        cat.lookup_by_doc_ids("tbl", "l_returnflag", [1, 2, 3]) is None
    )

    # the engine path stays green by falling back to the base table
    eng = Engine(
        spark,
        df=spark.read.parquet(base),
        doc_id_col="l_orderkey",
        index_catalog=cat,
        table_name="tbl",
    )
    out = eng.get_field_values("l_returnflag")
    want = _vm(
        postings(spark.read.parquet(base), "l_returnflag", "l_orderkey")
    )
    assert _vm(out) == want  # post-append truth, not the stale index

    # rebuild over the current table re-validates the index
    cat.build(
        spark.read.parquet(base), "tbl", "l_returnflag",
        doc_id_col="l_orderkey",
    )
    hit = cat.lookup("tbl", "l_returnflag")
    assert hit is not None and _vm(hit) == want


def test_build_closes_fingerprint_toctou(spark, lineitem, tmp_path):
    """ADVICE r5: an append landing DURING the index write must not
    produce a stale index stamped with the post-append fingerprint.
    The build takes the fingerprint before and after the write: one
    mid-build append triggers a single rebuild against the settled
    table (the recorded fingerprint then matches both the table and the
    index contents); a table that is still moving on the second attempt
    fails loudly."""
    base = str(tmp_path / "tbl")
    lineitem.limit(200).write.mode("overwrite").parquet(base)
    tbl = spark.read.parquet(base)
    cat = IndexCatalog(spark, str(tmp_path / "idx"))

    # one mid-build append: first write sees listing A→B, rebuild sees
    # B→B and records B.  (Save the staticmethod DESCRIPTOR — grabbing
    # the attribute would restore a plain function that then binds self.)
    real_tf = IndexCatalog.__dict__["_table_fingerprint"]
    seq = iter(["A", "B", "B"])
    IndexCatalog._table_fingerprint = staticmethod(
        lambda src, use_cache=True: next(seq)
    )
    try:
        cat.build(tbl, "tbl", "l_returnflag", doc_id_col="l_orderkey")
    finally:
        IndexCatalog._table_fingerprint = real_tf
    assert cat._meta["tbl::l_returnflag"]["fingerprint"] == "B"

    # a table that never settles: loud failure, not a silent stale stamp
    seq2 = iter(["A", "B", "C", "D"])
    IndexCatalog._table_fingerprint = staticmethod(
        lambda src, use_cache=True: next(seq2)
    )
    try:
        with pytest.raises(RuntimeError, match="raced concurrent writes"):
            cat.build(tbl, "tbl2", "l_returnflag", doc_id_col="l_orderkey")
    finally:
        IndexCatalog._table_fingerprint = real_tf

    # the undisturbed path still records the REAL fingerprint and serves
    cat.build(tbl, "tbl", "l_returnflag", doc_id_col="l_orderkey")
    assert cat.lookup("tbl", "l_returnflag") is not None


def test_fingerprint_cache_no_rewalk_and_append_flips(
    spark, lineitem, tmp_path, monkeypatch
):
    """r8 VERDICT task 3: the O(#files) fingerprint walk must be cached
    behind the O(#dirs) mtime token — (a) a warm lookup does NOT
    re-walk (interposed _fingerprint_walk, the os.replace-interposition
    pattern from test_delta_state_chaos), (b) an append to the base
    table still flips the gate, and the stale verdict itself is then
    served from cache, (c) a racily-fresh tree (modified inside the
    2 s window) is never cached, so active ingest can't be masked."""
    import os
    import time

    from polars_w_inverted_index_spark.functions.listing import (
        invalidate_listing_cache,
    )
    from polars_w_inverted_index_spark.plans import catalog as catalog_mod

    def backdate(path, secs=10.0):
        # age every dir mtime past the race window so caching engages
        t = time.time() - secs
        for dirpath, _dn, _fn in os.walk(path):
            os.utime(dirpath, (t, t))

    base = str(tmp_path / "tbl")
    lineitem.limit(200).write.mode("overwrite").parquet(base)
    cat = IndexCatalog(spark, str(tmp_path / "idx"))
    cat.build(
        spark.read.parquet(base), "tbl", "l_returnflag",
        doc_id_col="l_orderkey",
    )

    invalidate_listing_cache()
    walks: list[str] = []
    real_walk = catalog_mod._fingerprint_walk
    monkeypatch.setattr(
        catalog_mod,
        "_fingerprint_walk",
        lambda src: (walks.append(src), real_walk(src))[1],
    )

    # (c) freshly-written tree: inside the race window, NEVER cached
    assert cat.lookup("tbl", "l_returnflag") is not None
    assert cat.lookup("tbl", "l_returnflag") is not None
    assert len(walks) == 2, walks

    # (a) settled tree: one cold walk, then token hits — no re-walk
    backdate(base)
    walks.clear()
    for _ in range(3):
        assert cat.lookup("tbl", "l_returnflag") is not None
    assert len(walks) == 1, walks

    # (b) an append moves a dir mtime -> token changes -> real walk ->
    # digest mismatch -> gate DECLINES (fail-closed through the cache)
    lineitem.limit(50).write.mode("append").parquet(base)
    assert cat.lookup("tbl", "l_returnflag") is None

    # ... and once the appended tree settles, the STALE verdict is
    # itself served from cache without re-walking
    backdate(base)
    walks.clear()
    assert cat.lookup("tbl", "l_returnflag") is None
    assert cat.lookup("tbl", "l_returnflag") is None
    assert len(walks) == 1, walks


def test_fingerprint_toctou_rebuild_reads_appended_files(spark, tmp_path):
    """ADVICE r6: the TOCTOU retry must rebuild from a RE-RESOLVED file
    listing.  Spark pins a frame's InMemoryFileIndex at frame creation,
    so re-executing the original build frame after a mid-build append
    would produce an index missing the appended rows yet stamped with
    the post-append fingerprint — which lookup() would then validate as
    fresh and serve stale.  This test REALLY appends a part-file between
    the fingerprint snapshots (no mocked fingerprints) and asserts the
    rebuilt index contains the appended value."""
    from polars_w_inverted_index_spark.operators.inverted_index import (
        postings,
    )

    src = str(tmp_path / "tbl")
    out = str(tmp_path / "out_idx")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, v string"
    ).write.mode("overwrite").parquet(src)
    cat = IndexCatalog(spark, str(tmp_path / "idx"))

    stale_frame = spark.read.parquet(src)  # listing pinned pre-append
    calls = []

    def write_fn(frame):
        if not calls:
            # a concurrent writer appends DURING the first build
            spark.createDataFrame(
                [(3, "appended")], "doc_id long, v string"
            ).write.mode("append").parquet(src)
        calls.append(1)
        postings(frame, "v").write.mode("overwrite").parquet(out)

    fp = cat._write_with_stable_fingerprint(src, stale_frame, write_fn)
    assert len(calls) == 2  # mismatch detected, one rebuild
    values = {r["value"] for r in spark.read.parquet(out).collect()}
    assert "appended" in values, values
    # the recorded fingerprint matches the settled post-append table
    assert fp == cat._table_fingerprint(src)


def test_chunked_index_merges_on_lookup(spark, tmp_path_factory):
    rows = [Row(doc_id=i, v="hot" if i < 90 else "cold") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, v string")
    root = str(tmp_path_factory.mktemp("idx"))
    cat = IndexCatalog(spark, root)
    cat.build(df, "t", "v", chunked=True, max_postings_per_row=25)
    got = _vm(cat.lookup("t", "v"))
    assert got == {"hot": list(range(90)), "cold": list(range(90, 100))}


def test_value_lookup(spark, lineitem):
    idx = postings(lineitem, "l_returnflag", "l_orderkey")
    only_r = value_lookup(idx, "R").collect()
    assert len(only_r) == 1 and only_r[0]["value"] == "R"


def test_drop(spark, lineitem, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    cat = IndexCatalog(spark, root)
    cat.build(lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey")
    cat.drop("lineitem", "l_returnflag")
    assert cat.lookup("lineitem", "l_returnflag") is None


def test_query_stats_phases_and_printer(spark, lineitem, capsys):
    eng = Engine(spark, df=lineitem, doc_id_col="l_orderkey")
    result, st = eng.get_numeric_stats_collected("l_quantity", [1, 2, 3])
    assert st.result_rows == 1  # honest count (SURVEY.md §2.9/I4)
    assert {"setup", "join_operation", "collect", "processing"} <= set(
        st.phase_times
    )
    assert st.total_time >= st.phase_times["collect"]
    st.print_summary()
    out = capsys.readouterr().out
    # reference layout parity (query_stats.rs:84-143): section headers,
    # identity rows incl. field + id count, per-phase timing, 4 memory rows
    assert "QUERY STATS SUMMARY" in out
    for label in (
        "│ Query:", "│ Field:", "│ Doc IDs:", "│ Scan #:", "│ Result Rows:",
        "│   Setup:", "│   Filter:", "│   Join:", "│   Collect:",
        "│   Processing:", "│   Total:",
        "│   Before:", "│   After:", "│   Peak:", "│   Diff:",
    ):
        assert label in out, label
    assert "3 ids" in out and "l_quantity" in out
    # every line the same width (box alignment holds for any content)
    widths = {len(line) for line in out.rstrip("\n").split("\n")}
    assert len(widths) == 1, widths
    assert st.as_dict()["query"].startswith("get_numeric_stats_by_doc_ids")
    assert "'l_quantity'" in st.compact() and "rows" in st.compact()


def test_query_stats_executor_peak_from_task_metrics(spark, capsys):
    """VERDICT r5 task 4: the stats object reports EXECUTOR-side peak
    execution memory from TaskMetrics (AppStatusStore stage data), not
    just the driver-process RSS (which at cluster scale measures the
    wrong process).  Driven through the reference workload's own query
    shape: get_field_values over the synthetic logs table.  Its
    collect_list aggregation is an UNTRACKED operator
    (ObjectHashAggregate never touches the task memory manager), so the
    tracked memory this plan reports comes from its shuffle write — which
    is why session.py pins bypassMergeThreshold=1: the bypass writer the
    default would pick at 32 partitions acquires nothing, while the
    serialized writer (the only one production partition counts use)
    acquires tracked pages."""
    from polars_w_inverted_index_spark.sources.generator import (
        generate_logs,
    )

    logs = generate_logs(spark, 50_000)
    eng = Engine(spark, df=logs, doc_id_col="doc_id")
    _, st = eng.get_field_values_collected("level")
    assert st.executor_peak_mem_kb > 0
    assert st.as_dict()["executor_peak_mem_kb"] == st.executor_peak_mem_kb
    st.print_summary()
    out = capsys.readouterr().out
    assert "Exec peak:" in out
    widths = {len(line) for line in out.rstrip("\n").split("\n")}
    assert len(widths) == 1, widths  # box alignment holds with the row

    # stage attribution: a SECOND stats object must not inherit the
    # first query's stages — floor snapshots isolate per-query peaks
    from polars_w_inverted_index_spark.stats import QueryStats

    st2 = QueryStats("noop").attach_spark(spark)
    assert st2.finalize().executor_peak_mem_kb == 0


def test_query_stats_job_group_scoped_attribution(spark):
    """ADVICE r6: executor-memory attribution is scoped by job group, not
    by a global stage-id floor — a second query interleaving between
    another query's attach and finalize must not be folded into it.
    Interleave deterministically on one thread: st1 attaches, st2
    attaches+runs+finalizes inside st1's window, then st1 runs+finalizes.
    Each stats object's group must have tagged only its own stages."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.stats import (
        QueryStats,
        _group_stage_ids,
    )

    st1 = QueryStats("outer").attach_spark(spark)
    st2 = QueryStats("inner").attach_spark(spark)
    spark.range(0, 200_000).groupBy((F.col("id") % 5).alias("k")).count().collect()
    st2.finalize()
    spark.range(0, 100_000).groupBy((F.col("id") % 3).alias("k")).count().collect()
    st1.finalize()

    s1 = set(_group_stage_ids(spark, st1._group_id))
    s2 = set(_group_stage_ids(spark, st2._group_id))
    assert s1 and s2 and not (s1 & s2), (s1, s2)
    assert st1.executor_peak_mem_kb > 0
    assert st2.executor_peak_mem_kb > 0
    # the thread's job-group property is restored after finalize
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_query_stats_restores_group_when_query_raises(spark):
    """ADVICE r7: a query raising between attach and finalize must not
    leave the thread tagged with the dead group id (later untracked
    jobs would inherit it).  The engine wraps execution in try/finally
    around restore_group(); the restore is idempotent so finalize after
    a manual restore stays correct."""
    from polars_w_inverted_index_spark import Engine
    from polars_w_inverted_index_spark.stats import QueryStats

    prev = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    eng = Engine(
        spark,
        df=spark.createDataFrame([(1, "a")], "doc_id long, f string"),
    )
    with pytest.raises(Exception):
        eng.get_numeric_stats_collected("no_such_column")
    assert (
        spark.sparkContext.getLocalProperty("spark.jobGroup.id") == prev
    )
    # idempotence: restore + finalize double-call restores once
    st = QueryStats("noop").attach_spark(spark)
    st.restore_group()
    st.restore_group()
    st.finalize()
    assert (
        spark.sparkContext.getLocalProperty("spark.jobGroup.id") == prev
    )


def test_query_stats_printer_truncates_long_names(capsys):
    from polars_w_inverted_index_spark.stats import QueryStats

    st = QueryStats("q" * 80, field_name="f" * 80).finalize()
    st.print_summary()
    out = capsys.readouterr().out
    widths = {len(line) for line in out.rstrip("\n").split("\n")}
    assert len(widths) == 1, widths  # box survives oversized values


def test_postings_invariants(spark, lineitem):
    """§5.3: postings partition the non-null filtered id multiset."""
    idx = postings(lineitem, "l_linestatus", "l_orderkey")
    rows = idx.collect()
    total = sum(len(r["doc_ids"]) for r in rows)
    want = lineitem.where(
        F.col("l_linestatus").isNotNull() & F.col("l_orderkey").isNotNull()
    ).count()
    assert total == want  # Σ|postings| = filtered row count
    # per-value postings match a direct filter (spot-check every value —
    # cardinality is tiny for this field)
    for r in rows:
        n = lineitem.where(F.col("l_linestatus") == r["value"]).count()
        assert len(r["doc_ids"]) == n


def test_adopt_streaming_index_serves_engine_queries(spark, tmp_path):
    """The maintenance→query bridge: an index kept current by streaming
    merges, adopted into the catalog, answers Engine postings queries —
    and reflects later merges without re-registration (the _LATEST
    pointer is resolved per lookup)."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.engine import Engine
    from polars_w_inverted_index_spark.operators.inverted_index import (
        postings,
    )
    from polars_w_inverted_index_spark.plans.catalog import IndexCatalog
    from polars_w_inverted_index_spark.streaming import merge_postings_batch

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    half1 = events.where(F.col("event_id") % 2 == 0)
    half2 = events.where(F.col("event_id") % 2 == 1)

    idx = str(tmp_path / "stream_idx")
    merge_postings_batch(half1, "event_type", idx, "event_id", batch_id=0)

    cat = IndexCatalog(spark, str(tmp_path / "cat"))
    cat.adopt_streaming("events", "event_type", idx, doc_id_col="event_id")
    eng = Engine(
        spark, df=events, doc_id_col="event_id",
        index_catalog=cat, table_name="events",
    )

    def rows(df):
        return sorted((r["value"], tuple(r["doc_ids"])) for r in df.collect())

    # after the first merge, the engine serves the half-table postings
    assert rows(eng.get_field_values("event_type")) == rows(
        postings(half1, "event_type", "event_id")
    )
    # second merge: same engine/catalog, fresh pointer → full postings
    merge_postings_batch(half2, "event_type", idx, "event_id", batch_id=1)
    assert rows(eng.get_field_values("event_type")) == rows(
        postings(events, "event_type", "event_id")
    )
    # identity gate: a different doc_id_col declines the adopted index
    assert cat.lookup("events", "event_type", doc_id_col="other") is None


@pytest.mark.parametrize("chunk", [None, 3], ids=["plain", "chunked"])
def test_streaming_point_lookup_equals_base_filter(spark, tmp_path, chunk):
    """A single-equality lookup on a streaming entry reads only its
    value's bucket, computed on the driver, and returns its rows
    unmerged: the exploded doc ids equal the base-table filter's, for a
    plain and a chunked index (several segments per bucket) and for a
    value the index does not hold."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.engine import Engine
    from polars_w_inverted_index_spark.streaming import merge_postings_batch

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    idx = str(tmp_path / "stream_idx")
    for i in range(2):
        merge_postings_batch(
            events.where(F.col("event_id") % 2 == i), "event_type", idx,
            "event_id", batch_id=i, n_buckets=4,
            max_postings_per_row=chunk, max_segments_per_bucket=None,
        )
    cat = IndexCatalog(spark, str(tmp_path / "cat"))
    cat.adopt_streaming("events", "event_type", idx, doc_id_col="event_id")
    eng = Engine(
        spark, df=events, doc_id_col="event_id",
        index_catalog=cat, table_name="events",
    )
    values = sorted(
        r["event_type"]
        for r in events.select("event_type").distinct().collect()
        if r["event_type"] is not None
    )
    for v in values + ["no-such-type"]:
        got = eng.get_doc_ids_where({"event_type": v})
        want = events.where(
            (F.col("event_type") == v) & F.col("event_id").isNotNull()
        )
        assert sorted(r["event_id"] for r in got.collect()) == sorted(
            r["event_id"] for r in want.select("event_id").collect()
        ), v


def test_driver_xxhash64_is_sparks(spark):
    """The driver-side bucket hash equals Spark's ``xxhash64`` on every
    length class of the algorithm (empty, < 4, < 8, < 32, >= 32 bytes)
    and on multi-byte UTF-8."""
    from polars_w_inverted_index_spark.functions.hashing import xxhash64

    vals = ["", "a", "abc", "user_1", "héllo wörld ✓", "𝄞" * 9,
            "x" * 31, "y" * 32, "z" * 33, "q" * 100] + [
        f"user_{i}" for i in range(0, 50_000, 997)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r["h"] for r in df.selectExpr("xxhash64(v) AS h").collect()]
    assert got == [xxhash64(v.encode("utf-8")) for v in vals]


def test_static_composite_deserved_on_append_pinned(spark, lineitem, tmp_path):
    """r8 VERDICT task 8 (contract half): a statically-built composite
    index is REBUILD-ONLY — any base append flips its staleness gate and
    every conjunctive lookup visibly falls back to the base plan (None /
    base-scan answer), never a silently-stale tuple serve."""
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.engine import Engine

    base = str(tmp_path / "tbl")
    lineitem.limit(300).write.mode("overwrite").parquet(base)
    tbl = spark.read.parquet(base)
    cat = IndexCatalog(spark, str(tmp_path / "idx"))
    cat.build_composite(
        tbl, "tbl", ["l_returnflag", "l_linestatus"],
        doc_id_col="l_orderkey",
    )
    eq = {"l_returnflag": "R", "l_linestatus": "F"}
    assert cat.lookup_composite("tbl", eq) is not None

    lineitem.limit(50).write.mode("append").parquet(base)
    assert cat.lookup_composite("tbl", eq) is None  # visible fallback

    # the engine path stays green (and post-append CORRECT) via the base
    eng = Engine(
        spark, df=spark.read.parquet(base), doc_id_col="l_orderkey",
        index_catalog=cat, table_name="tbl",
    )
    got = sorted(
        r["l_orderkey"] for r in eng.get_doc_ids_where(eq).collect()
    )
    want = sorted(
        r["l_orderkey"]
        for r in spark.read.parquet(base)
        .where(
            (F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F")
            & F.col("l_orderkey").isNotNull()
        )
        .select("l_orderkey")
        .collect()
    )
    assert got == want and len(want) > 0


def test_streaming_composite_index_serves_and_stays_fresh(spark, tmp_path):
    """r8 VERDICT task 8 (maintenance half): tuple-keyed postings kept
    current by foreachBatch merges — adopted into the catalog, a
    post-append (second micro-batch) conjunctive lookup serves the
    UPDATED postings with no rebuild; replay is a no-op; a rewound
    batch raises; the single-field read/merge paths refuse the
    composite layout."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.engine import Engine
    from polars_w_inverted_index_spark.streaming.index_maintenance import (
        merge_composite_postings_batch,
        merge_postings_batch,
        read_composite_index,
        read_index_postings,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    half1 = events.where(F.col("event_id") % 2 == 0)
    half2 = events.where(F.col("event_id") % 2 == 1)
    fields = ["event_type", "user_id"]

    idx = str(tmp_path / "stream_cidx")
    merge_composite_postings_batch(
        half1, fields, idx, "event_id", batch_id=0
    )
    cat = IndexCatalog(spark, str(tmp_path / "cat"))
    cat.adopt_streaming_composite(
        "events", fields, idx, doc_id_col="event_id"
    )
    eng = Engine(
        spark, df=events, doc_id_col="event_id",
        index_catalog=cat, table_name="events",
    )

    def truth(df, eq):
        cond = F.col("event_id").isNotNull()
        for f, v in eq.items():
            cond = cond & (F.col(f).cast("string") == str(v))
        return sorted(r["event_id"] for r in df.where(cond).collect())

    # pick a tuple that actually occurs
    sample = events.select("event_type", "user_id").first()
    eq = {
        "event_type": sample["event_type"],
        "user_id": str(sample["user_id"]),
    }

    hit = cat.lookup_composite("events", eq, doc_id_col="event_id")
    assert hit is not None
    got1 = sorted(
        r["event_id"] for r in eng.get_doc_ids_where(eq).collect()
    )
    assert got1 == truth(half1, eq)

    # second micro-batch: SAME catalog entry now serves the full corpus
    merge_composite_postings_batch(
        half2, fields, idx, "event_id", batch_id=1
    )
    got2 = sorted(
        r["event_id"] for r in eng.get_doc_ids_where(eq).collect()
    )
    assert got2 == truth(events, eq) and len(got2) > len(got1)

    # exact replay: no-op (not a double merge)
    merge_composite_postings_batch(
        half2, fields, idx, "event_id", batch_id=1
    )
    assert sorted(
        r["event_id"] for r in eng.get_doc_ids_where(eq).collect()
    ) == got2
    # rewound checkpoint: loud
    with _pytest.raises(ValueError, match="behind"):
        merge_composite_postings_batch(
            half1, fields, idx, "event_id", batch_id=0
        )
    # field-set and layout cross-guards
    with _pytest.raises(ValueError, match="one key"):
        merge_composite_postings_batch(
            half1, ["event_type", "value"], idx, "event_id", batch_id=2
        )
    with _pytest.raises(ValueError, match="COMPOSITE"):
        merge_postings_batch(half1, "event_type", idx, "event_id")
    with _pytest.raises(ValueError, match="COMPOSITE"):
        read_index_postings(spark, idx)
    # subset lookups must not be answered by the composite entry
    assert cat.lookup_composite(
        "events", {"event_type": eq["event_type"]}
    ) is None
    assert read_composite_index(spark, idx).count() > 0


def test_streaming_composite_chunked_lsm_converges_and_appends(
    spark, tmp_path
):
    """r9 VERDICT task 1: the composite merge's chunked/LSM mode —
    per-merge writes hold ONLY the batch's chunk rows (committed
    segments byte-identical on disk), the logical view converges to the
    plain (full-rewrite) build, compaction folds segments, and the
    catalog serves conjunctive lookups from it unchanged."""
    import json
    import os

    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.streaming.index_maintenance import (
        compact_index,
        merge_composite_postings_batch,
        read_composite_index,
        rebucket_index,
    )

    def files(root):
        out = {}
        for dirpath, dirnames, fs in os.walk(root):
            dirnames[:] = [
                d for d in dirnames if not d.startswith(("_", "."))
            ]
            for f in fs:
                if not f.startswith(("_", ".")):
                    p = os.path.join(dirpath, f)
                    out[os.path.relpath(p, root)] = os.path.getsize(p)
        return out

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    half1 = events.where(F.col("event_id") % 2 == 0)
    half2 = events.where(F.col("event_id") % 2 == 1)
    fields = ["event_type", "user_id"]

    # plain (full-rewrite) reference build over the same batches
    plain = str(tmp_path / "comp_plain")
    merge_composite_postings_batch(half1, fields, plain, "event_id",
                                   batch_id=0)
    merge_composite_postings_batch(half2, fields, plain, "event_id",
                                   batch_id=1)

    chunked = str(tmp_path / "comp_lsm")
    merge_composite_postings_batch(half1, fields, chunked, "event_id",
                                   batch_id=0, max_postings_per_row=3)
    before = files(chunked)
    merge_composite_postings_batch(half2, fields, chunked, "event_id",
                                   batch_id=1)
    after = files(chunked)
    for rel, size in before.items():  # segments are immutable
        assert after.get(rel) == size, rel
    assert all(
        r.startswith("m=1/") for r in after if r not in before
    )
    with open(os.path.join(chunked, "_LATEST")) as f:
        marker = json.load(f)
    assert marker["max_postings_per_row"] == 3
    assert any(len(v) == 2 for v in marker["buckets"].values())

    def logical(path):
        return sorted(
            (r["v_event_type"], r["v_user_id"], tuple(r["doc_ids"]))
            for r in read_composite_index(spark, path).collect()
        )

    want = logical(plain)
    assert logical(chunked) == want
    # chunk arrays are bounded by the cap
    from polars_w_inverted_index_spark.streaming.index_maintenance import (
        read_index,
    )

    raw = read_index(spark, chunked)
    assert raw.agg(F.max(F.size("doc_ids"))).first()[0] <= 3
    # compaction: one segment per bucket, content unchanged
    compact_index(spark, chunked)
    with open(os.path.join(chunked, "_LATEST")) as f:
        marker2 = json.load(f)
    assert all(len(v) == 1 for v in marker2["buckets"].values())
    assert logical(chunked) == want
    # rebucket: composite indexes re-dial too, lookups unchanged
    rebucket_index(spark, chunked, 32)
    with open(os.path.join(chunked, "_LATEST")) as f:
        assert json.load(f)["n_buckets"] == 32
    assert logical(chunked) == want
    # the catalog serves the chunked streaming composite unchanged
    cat = IndexCatalog(spark, str(tmp_path / "cat_lsm"))
    cat.adopt_streaming_composite(
        "events", fields, chunked, doc_id_col="event_id"
    )
    sample = events.select("event_type", "user_id").first()
    eq = {
        "event_type": sample["event_type"],
        "user_id": str(sample["user_id"]),
    }
    hit = cat.lookup_composite("events", eq, doc_id_col="event_id")
    assert hit is not None
    got_ids = sorted(
        i for r in hit.select("doc_ids").collect() for i in r["doc_ids"]
    )
    truth = sorted(
        r["event_id"]
        for r in events.where(
            (F.col("event_type").cast("string") == eq["event_type"])
            & (F.col("user_id").cast("string") == eq["user_id"])
            & F.col("event_id").isNotNull()
        ).collect()
    )
    assert got_ids == truth and len(truth) > 0


# -- scan-handle reuse: stale-memo paths ----------------------------------


def _backdate(path, secs=10.0):
    """Age every directory mtime under ``path`` past the listing
    token's race window, so the memos keyed on it engage."""
    import os
    import time

    t = time.time() - secs
    for dirpath, _dn, _fn in os.walk(path):
        os.utime(dirpath, (t, t))


def test_index_handle_reused_until_rebuild(spark, lineitem, tmp_path):
    """A settled static index's lazy scan handle is reused across
    lookups; a base append still makes a warm lookup decline (the
    fingerprint gate runs every time), and rebuilding in place — by
    build and by build_many — moves the listing token, so the next
    lookup serves the new postings, not the old handle."""
    base = str(tmp_path / "tbl")
    lineitem.limit(200).write.mode("overwrite").parquet(base)
    root = str(tmp_path / "idx")
    cat = IndexCatalog(spark, root)
    pair = {"l_returnflag": "N", "l_linestatus": "O"}

    def build_all():
        tbl = spark.read.parquet(base)
        cat.build(tbl, "tbl", "l_returnflag", doc_id_col="l_orderkey")
        cat.build_many(tbl, "tbl", ["l_linestatus"], doc_id_col="l_orderkey")
        cat.build_composite(tbl, "tbl", list(pair), doc_id_col="l_orderkey")
        _backdate(base)
        _backdate(root)

    build_all()
    first = {}
    for f in ("l_returnflag", "l_linestatus"):
        first[f] = cat.lookup("tbl", f)
        assert first[f] is not None
        assert cat.lookup("tbl", f) is first[f]  # warm: same handle
    assert cat.lookup_composite("tbl", pair) is not None

    lineitem.where(F.col("l_orderkey") > 3000).limit(50).write.mode(
        "append"
    ).parquet(base)
    for f in first:
        assert cat.lookup("tbl", f) is None
    assert cat.lookup_composite("tbl", pair) is None

    build_all()
    fresh = spark.read.parquet(base)
    for f in first:
        hit = cat.lookup("tbl", f)
        assert hit is not None and hit is not first[f]
        assert _vm(hit) == _vm(postings(fresh, f, "l_orderkey"))
    got = cat.lookup_composite("tbl", pair).collect()
    want = sorted(
        r["l_orderkey"]
        for r in fresh.where(
            (F.col("l_returnflag") == "N") & (F.col("l_linestatus") == "O")
        ).collect()
    )
    assert len(got) == 1 and list(got[0]["doc_ids"]) == want


def test_fresh_index_read_uncached(spark, lineitem, tmp_path):
    """An index written inside the 2 s race window has no listing
    token: every lookup reads it afresh instead of memoizing."""
    cat = IndexCatalog(spark, str(tmp_path / "idx"))
    cat.build(lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey")
    a = cat.lookup("lineitem", "l_returnflag")
    b = cat.lookup("lineitem", "l_returnflag")
    assert a is not None and b is not None and a is not b


def test_second_session_never_reuses_handle(spark, lineitem, tmp_path):
    """The handle memo lives on the session object: another session
    over the same catalog root builds its own."""
    root = str(tmp_path / "idx")
    cat = IndexCatalog(spark, root)
    cat.build(lineitem, "lineitem", "l_returnflag", doc_id_col="l_orderkey")
    _backdate(root)
    mine = cat.lookup("lineitem", "l_returnflag")
    assert cat.lookup("lineitem", "l_returnflag") is mine
    other = spark.newSession()
    theirs = IndexCatalog(other, root).lookup("lineitem", "l_returnflag")
    assert theirs is not None and theirs is not mine
    assert theirs.sparkSession is other
    assert _vm(theirs) == _vm(mine)

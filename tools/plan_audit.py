"""Physical-plan audit over every registered query → PLANS.md.

For each of the 50 driver queries (at sf0.01), records the plan-shape
facts that matter at 100 TB: parquet scans, shuffle exchanges, join
strategies, whole-stage-codegen coverage, and any Python evaluation
nodes in the hot path.  The table makes plan regressions diffable —
a new exchange or a BatchEvalPython appearing in a query's row is a
scale bug before it is a wall-clock bug.

Usage:  python tools/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Python nodes that are DESIGNED into specific operators (Arrow-batched,
# documented in SCALE.md) — flagged separately from accidental ones.
EXPECTED_PYTHON = {
    "similarity_bruteforce_topk_gemm",
    "multimodal_fingerprint",
    "multimodal_image_features",
    "multimodal_resize",
    "multimodal_frame_sample",
    "dedup_embedding_cosine_pairs",
    "similarity_pq_rerank_topk",
    "streaming_session_windows",
    "similarity_lsh_topk",       # r11 GEMM signature pass (mapInArrow)
    "similarity_ivf_topk",       # r11 GEMM cell assignment (mapInArrow)
    "similarity_ann_auto_topk",  # r11 auto-dispatch float serve (GEMM)
}

# Extension (ext_*) operators with designed Arrow-batched Python stages
# (each documented in SCALE.md).
EXPECTED_PYTHON_EXT = {
    "ext_pack_documents",       # shard-local BFD packer
    "ext_semantic_dedup",       # GEMM-per-bucket pair scoring
    "ext_pq_search",            # ADC scan over PQ codes (mapInArrow, r10)
    "ext_ann_pq_search",        # probe-pruned ADC over the codes sidecar
    "ext_ann_pq_probe",         # r9 GEMM cell assignment (query probes)
    "ext_ann_pq_adc",           # r9 join-free ADC candidate stage
    "ext_ann_index_search",     # r9 GEMM serve over probed float cells
    "ext_streaming_near_dedup",  # GEMM path inside the batch self-join
    "ext_bpe_train_encode",     # ranked-merge encoding (sequential/word)
    "ext_heavy_hitters_approx",  # per-partition Misra-Gries summaries
}

# Queries whose single nested-loop join is a DOCUMENTED 1-row broadcast
# (a whole-table aggregate — normalizer / totals / avg-doclen — crossed
# back onto the frame; Spark plans a 1-row broadcast side as
# BroadcastNestedLoopJoin because there is no join key).  Constant-size
# build side ⇒ scale-safe at any corpus size; anything NLJ outside this
# set is flagged (r12 VERDICT task 7).
EXPECTED_NLJ_1ROW = {
    "source_inmemory_json_roundtrip",  # flatten_logs' 1-row id-base agg
    "ext_unigram_surprisal",           # LM normalizer (1-row totals)
    "ext_bm25_search",                 # corpus avg-doclen (1-row agg)
    "ext_corpus_divergence",           # union-LM totals (1-row agg)
}


def audit(plan: str) -> dict:
    # an executed AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — audit only the final (runtime) plan
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange RoundRobinPartitioning")
        + plan.count("Exchange SinglePartition"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "python": plan.count("BatchEvalPython")
        + plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("MapInArrow")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("FlatMapGroupsInPandasWithState"),
        # WholeStageCodegen prints as "*(n)" node prefixes in
        # executedPlan().toString(); count distinct codegen stage ids
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "takeordered": int("TakeOrderedAndProject" in plan),
    }


def main() -> None:
    import __spark_entry__ as mod
    from polars_w_inverted_index_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("plan_audit")

    rows = []
    for name, fn in mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            df.collect()  # finalize the AQE plan + codegen markers
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append((name, audit(plan)))
        except Exception as e:  # pragma: no cover - diagnostic path
            rows.append((name, {"error": str(e).splitlines()[0][:80]}))

    print("# PLANS — physical-plan audit of the 50 driver queries")
    print()
    print(f"Generated by tools/plan_audit.py at {sf_dir}.  Columns:")
    print("parquet scans / shuffle exchanges / broadcast-hash joins /")
    print("sort-merge joins / nested-loop+cartesian (want 0 unless the")
    print("operator is a documented 1-row broadcast, marked ‡: a")
    print("whole-table 1-row aggregate crossed back onto the frame —")
    print("constant-size build side, scale-safe) / Python eval nodes")
    print("(† = designed Arrow-batched path, see SCALE.md) / codegen")
    print("spans / TakeOrdered top-k.")
    print()
    print("Scan counts are PLAN-TREE occurrences, not physical I/O:")
    print("operators that persist() an intermediate (ngram-jaccard's")
    print("shingle frame) show one 'scan' per cached-plan reference but")
    print("execute ONE physical scan + cache reads — the InMemoryRelation")
    print("nodes confirm it in the full plan text.")
    print()
    print("ann_search_pq's returned tree depends on the probed-bytes")
    print("gate (r10/r11): when the probed float cells are big enough")
    print("(>= min_pushdown_bytes, or unlistable) the candidate-ID")
    print("pushdown collects the bounded ADC candidates at construction")
    print("and the returned plan is the RERANK stage only; at this")
    print("audit's small sf the gate correctly declines the extra job,")
    print("so the row shows the full join tree with the ADC python node")
    print("(the pushdown shape is pinned by the forced-pushdown test).")
    print()
    print(
        "| query | scans | exch | BHJ | SMJ | NLJ | py | codegen | topk |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    bad = []
    for name, a in rows:
        if "error" in a:
            print(f"| {name} | ERROR: {a['error']} | | | | | | | |")
            bad.append(name)
            continue
        nlj_n = a["bnlj"] + a["cartesian"]
        nlj = str(nlj_n) + (
            "‡" if nlj_n and name in EXPECTED_NLJ_1ROW else ""
        )
        if nlj_n and name not in EXPECTED_NLJ_1ROW:
            bad.append(name)
        py = str(a["python"]) + (
            "†" if a["python"] and name in EXPECTED_PYTHON else ""
        )
        if a["python"] and name not in EXPECTED_PYTHON:
            bad.append(name)
        print(
            f"| {name} | {a['scans']} | {a['exchanges']} | {a['bhj']} |"
            f" {a['smj']} | {nlj} | {py} | {a['codegen']} |"
            f" {a['takeordered'] or ''} |"
        )
    # ---- extension operators (pytest-gated, benched as ext_*) ----
    import bench as benchmod

    ext_rows = []
    for name, fn in benchmod._extension_workload().items():
        try:
            df = fn(spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            ext_rows.append((name, audit(plan)))
        except Exception as e:  # pragma: no cover - diagnostic path
            ext_rows.append((name, {"error": str(e).splitlines()[0][:80]}))

    print()
    print("## Extension operators (ext_* bench workload)")
    print()
    print(
        "| query | scans | exch | BHJ | SMJ | NLJ | py | codegen | topk |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for name, a in ext_rows:
        if "error" in a:
            print(f"| {name} | ERROR: {a['error']} | | | | | | | |")
            bad.append(name)
            continue
        nlj_n = a["bnlj"] + a["cartesian"]
        nlj = str(nlj_n) + (
            "‡" if nlj_n and name in EXPECTED_NLJ_1ROW else ""
        )
        if nlj_n and name not in EXPECTED_NLJ_1ROW:
            bad.append(name)
        py = str(a["python"]) + (
            "†" if a["python"] and name in EXPECTED_PYTHON_EXT else ""
        )
        if a["python"] and name not in EXPECTED_PYTHON_EXT:
            bad.append(name)
        print(
            f"| {name} | {a['scans']} | {a['exchanges']} | {a['bhj']} |"
            f" {a['smj']} | {nlj} | {py} | {a['codegen']} |"
            f" {a['takeordered'] or ''} |"
        )
    print()
    if bad:
        # set(): a query with BOTH an unexpected NLJ and an unexpected
        # Python node is appended twice above (r13 ADVICE)
        print(
            f"**Flagged (unexpected python/NLJ/error): {sorted(set(bad))}**"
        )
    else:
        print(
            "No unexpected Python evaluation nodes; every Python node is"
            " a documented Arrow-batched operator."
        )


if __name__ == "__main__":
    main()

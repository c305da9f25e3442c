"""Measure the pandas-vs-Arrow bridge cost on the repo's two remaining
``mapInPandas`` hot paths (r10 VERDICT task: the vector family's move
to ``mapInArrow`` saved ~2 s/M rows, but those were float ARRAY
columns — per-row numpy objects; these are STRING batches, so the
saving does not transfer by argument, only by measurement).

Shapes measured at ~10 M rows on local[32]:

1. **bridge-identity**: a pass-through over 10 M short strings via
   ``mapInPandas`` vs ``mapInArrow`` — isolates pure bridge cost on the
   string shape (the vector family's equivalent measurement).
2. **Misra-Gries** (operators/sketches.py:heavy_hitters_approx): the
   current pandas ``Series.value_counts`` kernel vs an Arrow
   ``pc.value_counts`` kernel (which never materializes a Python str
   per ROW — only per DISTINCT value in each batch).
3. **BPE encode** (functions/bpe.py:bpe_encode): current pandas kernel
   vs an Arrow-decoded variant, at 300k docs (the per-word Python merge
   loop dominates; the question is whether the bridge share is
   measurable at all).

Prints one JSON line; the measured row lives in SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _t(fn, reps=2):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.session import get_session

    spark = get_session("string-bridge-bench")
    N = 10_000_000

    # Zipf-ish short strings: ~(id%97)**2 skew via nested mod — the
    # n-gram frequency shape MG exists for
    strings = (
        spark.range(N)
        .select(
            F.concat(
                F.lit("tok_"),
                ((F.col("id") * F.col("id")) % 9973 % 400).cast("string"),
            ).alias("value")
        )
        .persist()
    )
    strings.count()

    # -- 1. bridge identity ------------------------------------------
    def _id_pandas(it):
        for pdf in it:
            yield pdf

    def _id_arrow(it):
        for rb in it:
            yield rb

    ident_pandas = _t(
        lambda: strings.mapInPandas(_id_pandas, "value string").count()
    )
    ident_arrow = _t(
        lambda: strings.mapInArrow(_id_arrow, "value string").count()
    )
    plain_count = _t(lambda: strings.count())

    # -- 2. Misra-Gries kernels --------------------------------------
    support = 1000

    def _mg_core(counters, pairs):
        for v, c in pairs:
            c = int(c)
            if v in counters:
                counters[v] += c
            elif len(counters) < support:
                counters[v] = c
            else:
                dec = min(c, min(counters.values()))
                counters = {
                    x: n - dec for x, n in counters.items() if n > dec
                }
                if c > dec:
                    counters[v] = c - dec
        return counters

    def _mg_pandas(it):
        import pandas as pd

        counters: dict = {}
        for pdf in it:
            counters = _mg_core(counters, pdf["value"].value_counts().items())
        yield pd.DataFrame(
            {"value": list(counters), "freq_lower": list(counters.values())}
        )

    def _mg_arrow(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        counters: dict = {}
        for rb in it:
            vc = pc.value_counts(rb.column(0))
            counters = _mg_core(
                counters,
                zip(vc.field("values").to_pylist(),
                    vc.field("counts").to_pylist()),
            )
        yield pa.RecordBatch.from_arrays(
            [pa.array(list(counters), type=pa.string()),
             pa.array(list(counters.values()), type=pa.int64())],
            names=["value", "freq_lower"],
        )

    mg_pandas = _t(
        lambda: strings.mapInPandas(
            _mg_pandas, "value string, freq_lower long"
        ).groupBy("value").agg(F.sum("freq_lower")).count()
    )
    mg_arrow = _t(
        lambda: strings.mapInArrow(
            _mg_arrow, "value string, freq_lower long"
        ).groupBy("value").agg(F.sum("freq_lower")).count()
    )

    # -- 3. BPE encode ----------------------------------------------
    from polars_w_inverted_index_spark.functions import bpe

    docs = (
        spark.range(300_000)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit("the quick brown fox jumps over"),
                ((F.col("id") * 31) % 1000).cast("string"),
                F.lit("lazy dogs and some repeated words appear here"),
                ((F.col("id") * 7) % 100).cast("string"),
            ).alias("text"),
        )
        .persist()
    )
    docs.count()
    merges = bpe.bpe_train(docs.limit(20_000), n_merges=200)

    bpe_pandas = _t(
        lambda: bpe.bpe_encode(docs, merges)
        .agg(F.sum("n_bpe_tokens")).collect(),
        reps=2,
    )

    # Arrow variant: same kernel, strings decoded from the Arrow column
    ranks = {pair: i for i, pair in enumerate(merges)}

    def _enc_arrow(it):
        import pyarrow as pa

        memo: dict = {}

        def enc(word):
            got = memo.get(word)
            if got is not None:
                return got
            syms = list(word)
            if syms:
                syms[-1] = syms[-1] + bpe.EOW
            while len(syms) >= 2:
                best_rank, best_i = None, -1
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_rank is None:
                    break
                syms[best_i: best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            memo[word] = syms
            return syms

        for rb in it:
            toks = []
            for text in rb.column(1).to_pylist():
                words = (text or "").lower().split()
                t: list = []
                for w in words:
                    t.extend(enc(w))
                toks.append(t)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(toks, type=pa.list_(pa.string()))],
                names=["doc_id", "bpe_tokens"],
            )

    bpe_arrow = _t(
        lambda: docs.mapInArrow(
            _enc_arrow, "doc_id long, bpe_tokens array<string>"
        ).agg(F.sum(F.size("bpe_tokens"))).collect(),
        reps=2,
    )

    print(json.dumps({
        "n_rows_strings": N,
        "plain_count_s": plain_count,
        "identity_mapInPandas_s": ident_pandas,
        "identity_mapInArrow_s": ident_arrow,
        "mg_pandas_s": mg_pandas,
        "mg_arrow_s": mg_arrow,
        "bpe_docs": 300_000,
        "bpe_pandas_s": bpe_pandas,
        "bpe_arrow_s": bpe_arrow,
        "ts": time.strftime("%Y-%m-%d"),
    }))


if __name__ == "__main__":
    main()

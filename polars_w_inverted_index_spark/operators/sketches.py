"""One-pass sketch profiling: corpus statistics at metadata cost.

Before mixing or filtering a 100 TB corpus you need its shape — column
cardinalities, quantiles, null rates — and computing those exactly means
global sorts and count-distinct shuffles.  Spark's sketch aggregates
(HyperLogLog++ behind ``approx_count_distinct``, KLL/GK behind
``percentile_approx``) are partial-aggregatable: every executor folds
its partitions into a fixed-size sketch and only sketches cross the
wire — ONE pass, no shuffle of data rows, error bounds set by sketch
parameters, not data size.

``corpus_profile`` emits one row per profiled column so the result is
driver-sized regardless of corpus size (long-format: adding columns
never widens the schema).  Exact twins exist in tests, which pin the
documented error bounds on real data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.pickling import guard_import_caches

DEFAULT_QUANTILES = (0.5, 0.95, 0.99)
DEFAULT_RSD = 0.05  # HLL++ relative standard deviation
DEFAULT_PCT_ACCURACY = 10_000  # percentile_approx accuracy knob


def corpus_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    quantiles: tuple[float, ...] = DEFAULT_QUANTILES,
    rsd: float = DEFAULT_RSD,
    accuracy: int = DEFAULT_PCT_ACCURACY,
) -> DataFrame:
    """Per-column profile: rows, nulls, approx distinct, and (for numeric
    columns) approx quantiles — one aggregation pass over the corpus.

    Output: ``[column, n_rows, n_nulls, approx_distinct, q50, q95, q99]``
    (quantile columns null for non-numeric types; header names follow
    ``quantiles``).
    """
    cols = columns or df.columns
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName()
        in ("byte", "short", "integer", "long", "float", "double", "decimal")
    }
    aggs = []
    for c in cols:
        aggs.append(F.count(F.lit(1)).alias(f"{c}__rows"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls")
        )
        aggs.append(
            F.approx_count_distinct(c, rsd).alias(f"{c}__distinct")
        )
        if c in numeric:
            aggs.append(
                F.percentile_approx(
                    F.col(c).cast("double"), list(quantiles), accuracy
                ).alias(f"{c}__q")
            )
    wide = df.agg(*aggs)

    parts = []
    for c in cols:
        qcols = (
            [
                F.col(f"{c}__q")[i].alias(f"q{int(p * 100)}")
                for i, p in enumerate(quantiles)
            ]
            if c in numeric
            else [
                F.lit(None).cast("double").alias(f"q{int(p * 100)}")
                for p in quantiles
            ]
        )
        parts.append(
            wide.select(
                F.lit(c).alias("column"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("approx_distinct"),
                *qcols,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def heavy_hitters(df: DataFrame, col: str, k: int = 20) -> DataFrame:
    """Exact top-``k`` most frequent values: ``[value, freq]``.

    ``groupBy + orderBy().limit(k)``: map-side partial aggregation means
    a hot value contributes one partial count per partition (skew cannot
    concentrate rows), and the limit plans as TakeOrdered — partial
    top-k per partition, never a global sort.  The shuffle carries one
    row per distinct value; when distinct values themselves are corpus-
    scale (n-grams), use :func:`heavy_hitters_approx`.
    """
    return (
        df.select(F.col(col).cast("string").alias("value"))
        .where(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("value").asc())
        .limit(k)
    )


def heavy_hitters_approx(
    df: DataFrame, col: str, k: int = 20, support: int = 1000
) -> DataFrame:
    """Approximate top-``k`` via per-partition Misra–Gries summaries:
    ``[value, freq_lower]``.

    Each task keeps at most ``support`` counters over its partition
    (classic MG: on overflow, decrement all counters and evict zeros),
    so the shuffle carries ≤ ``support`` rows **per partition no matter
    how many distinct values exist** — the regime where
    :func:`heavy_hitters`' one-row-per-distinct-value shuffle stops
    scaling (n-grams over 100 TB have trillions of distinct keys).

    Guarantees (standard MG, preserved by summing partial summaries):
    every value with true frequency > N/(support+1) survives to the
    output candidate set, and each reported ``freq_lower`` is an
    undercount by at most (partition rows)/(support+1) summed across
    partitions.  Exactness check = :func:`heavy_hitters` on a sample.

    r11: ``mapInArrow`` — measured at 10 M strings
    (a one-shot A/B since deleted): Arrow ``pc.value_counts`` counts a
    batch without materializing a Python str per ROW (only per distinct
    value per batch), 0.58 s vs the pandas kernel's 0.69 s.  A modest
    win (strings are ~100× cheaper across the bridge than the vector
    family's per-row numpy objects were), but this operator exists for
    corpus-scale exploded n-gram frames, where per-row costs compound.
    """

    def _mg(it):
        guard_import_caches()
        import pyarrow as pa
        import pyarrow.compute as pc

        counters: dict = {}
        for rb in it:
            vc = pc.value_counts(rb.column(0))
            values = vc.field("values").to_pylist()
            counts = vc.field("counts").to_pylist()
            for v, c in zip(values, counts):
                c = int(c)
                if v in counters:
                    counters[v] += c
                elif len(counters) < support:
                    counters[v] = c
                else:
                    # batch decrement: remove min(c, smallest counter)
                    # weight from every counter (vectorized MG step)
                    dec = min(c, min(counters.values()))
                    counters = {
                        x: n - dec for x, n in counters.items() if n > dec
                    }
                    if c > dec:
                        counters[v] = c - dec
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(list(counters.keys()), type=pa.string()),
                pa.array(list(counters.values()), type=pa.int64()),
            ],
            names=["value", "freq_lower"],
        )

    partials = (
        df.select(F.col(col).cast("string").alias("value"))
        .where(F.col("value").isNotNull())
        .mapInArrow(_mg, "value string, freq_lower long")
    )
    return (
        partials.groupBy("value")
        .agg(F.sum("freq_lower").alias("freq_lower"))
        .orderBy(F.col("freq_lower").desc(), F.col("value").asc())
        .limit(k)
    )


def frequent_ngrams(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` word n-grams by DOCUMENT frequency: ``[shingle, df]``.

    The tuning input for the n-gram-Jaccard df-cut
    (`operators/dedup.ngram_jaccard_pairs`'s ``max_shingle_freq``): a
    shingle present in m docs emits m²/2 candidate pairs, so the hot
    shingles ARE the cost — measure them before picking the cut.
    Distinct (doc, shingle) first so a shingle repeated inside one
    document counts once, matching the df-cut's semantics.
    """
    from ..functions.text import word_shingles
    from ..plans.distribution import ensure_parallelism

    # r14 (guide §2.5): fan shingle+explode out of a single-partition
    # scan (no-op at scale)
    pairs = (
        ensure_parallelism(docs.select(id_col, text_col))
        .select(
            F.col(id_col).alias("_id"),
            F.explode(word_shingles(text_col, n)).alias("shingle"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("shingle").asc())
        .limit(k)
    )

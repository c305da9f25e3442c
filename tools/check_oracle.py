"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry through Spark and its ``oracle_sql()`` twin
through DuckDB on the same parquet tables, then compares row count, column
names, and order-insensitive values.  Usage:

    python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from polars_w_inverted_index_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_session("check_oracle")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only check) rows={len(srows)}")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        # The driver hashes pandas values, so an int64-vs-float64 split
        # (e.g. DuckDB SUM(INTEGER) -> HUGEINT -> float64) hash-fails even
        # when values are numerically identical.  Compare dtype *kinds*.
        _KIND = {
            "tinyint": "i", "smallint": "i", "int": "i", "bigint": "i",
            "float": "f", "double": "f",
        }
        skinds = {
            f.name: _KIND.get(f.dataType.simpleString(), "O")
            for f in sdf.schema.fields
        }
        dtype_fail = False
        for c in dcols:
            dk = ddf[c].dtype.kind
            sk = skinds.get(c, "O")
            if {dk, sk} == {"i", "f"} and not ddf[c].isna().any():
                dtype_fail = True
                print(
                    f"FAIL {name}: dtype mismatch on '{c}': "
                    f"spark kind={sk} duckdb kind={dk} "
                    f"(driver hash is dtype-sensitive; CAST the oracle)"
                )
        if dtype_fail:
            failures.append(name)
            continue
        a, b = _norm_rows(scols, srows), _norm_rows(dcols, drows)
        ok_vals = a == b
        if ok_cols and ok_vals:
            print(f"PASS {name}: rows={len(srows)}")
        else:
            failures.append(name)
            print(
                f"FAIL {name}: cols_ok={ok_cols} spark_cols={scols} "
                f"duck_cols={dcols} rows {len(srows)} vs {len(drows)}"
            )
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"  first diff row {i}:\n   spark={x}\n   duck ={y}")
                    break
    print(("ALL PASS" if not failures else f"FAILURES: {failures}"))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

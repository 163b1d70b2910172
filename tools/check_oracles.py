"""Local replica of the driver's correctness gate: run every entry in
``queries()`` on Spark and its ``oracle_sql()`` on DuckDB at sf0.01 and
compare row count, column names, and the canonicalized pandas frames.

The comparison deliberately mirrors the driver's hash layer, which works
on pandas DataFrames (``toPandas()`` vs duckdb ``.df()``), sorts columns
by name, sorts rows by all columns, and hashes the values: we compare
the sorted frames via ``astype(str)`` so a pandas DTYPE divergence fails
even when the numeric values are equal.  Round 3 proved this matters:
DuckDB ``sum(BIGINT)`` returns HUGEINT, which lands in pandas as
float64, so an oracle without an outer ``::BIGINT`` cast hash-misses
against Spark's int64 despite value-for-value equality (the r2/r3
``stats_profile_lineitem`` / ``agg_rollup_orders`` red cells).

Usage: python tools/check_oracles.py [query ...]

No names checks every query. A name that is not in ``queries()`` is
reported and the run exits with status 2 before any Spark session
starts; ``-h`` / ``--help`` prints this text.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon_frame(df):
    """Sort columns by name, rows by all columns, stringify values.

    Mirrors the driver's canonicalization (pandas ``sort_values`` over
    every column) and is dtype-sensitive: int64 0 -> "0" while float64
    0.0 -> "0.0", so engine-side type drift is caught, not papered over.
    """
    cols = sorted(df.columns)
    out = df[cols]
    if len(out):
        out = out.sort_values(by=cols, kind="mergesort")
    out = out.reset_index(drop=True).astype(str)
    # the driver's hasher tolerates null-spelling drift (None vs NaN in
    # object columns — r3's dsl_coerce_orders was green with exactly
    # that); dtype drift (int64 vs float64) must STAY visible
    return out.replace({"None": "NULL", "nan": "NULL", "NaT": "NULL",
                        "<NA>": "NULL"})


def main(selected: list[str]) -> int:
    if "-h" in selected or "--help" in selected:
        print(__doc__.strip())
        return 0
    import __spark_entry__ as entrymod
    from valico_spark.session import get_spark

    unknown = [name for name in selected if name not in entrymod.queries()]
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}; see "
              f"queries() in __spark_entry__.py", file=sys.stderr)
        return 2

    spark = get_spark("oracle_check", master="local[8]",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if selected and name not in selected:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {type(e).__name__}: "
                  f"{str(e)[:500]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(spdf)} rows, "
                  f"cols={list(spdf.columns)}")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb error: {type(e).__name__}: "
                  f"{str(e)[:500]}")
            failures += 1
            continue
        ok = True
        if sorted(spdf.columns) != sorted(opdf.columns):
            print(f"[FAIL] {name}: columns differ: "
                  f"spark={list(spdf.columns)} duck={list(opdf.columns)}")
            ok = False
        elif len(spdf) != len(opdf):
            print(f"[FAIL] {name}: row count spark={len(spdf)} "
                  f"duck={len(opdf)}")
            ok = False
        else:
            try:
                cs, co = canon_frame(spdf), canon_frame(opdf)
            except Exception as e:  # noqa: BLE001
                print(f"[FAIL] {name}: canonicalize error: "
                      f"{type(e).__name__}: {str(e)[:300]}")
                failures += 1
                continue
            if not cs.equals(co):
                bad = [c for c in cs.columns if not cs[c].equals(co[c])]
                detail = []
                for c in bad[:3]:
                    mism = cs.index[cs[c] != co[c]][:3]
                    detail.append(
                        f"{c} (spark dtype {spdf[c].dtype} vs duck "
                        f"{opdf[c].dtype}): " + "; ".join(
                            f"{cs[c][i]!r}!={co[c][i]!r}" for i in mism))
                print(f"[FAIL] {name}: frame mismatch cols={bad}: "
                      + " | ".join(detail))
                ok = False
        if ok:
            print(f"[ok] {name}: {len(spdf)} rows")
        else:
            failures += 1
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

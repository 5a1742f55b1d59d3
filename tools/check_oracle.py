"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given scale factor and
compares it against ``oracle_sql()`` the way the driver does: row count,
column names, and order-insensitive values (columns sorted by name, rows
sorted by all columns). Floats are compared bit-exact first and with a 1e-9
tolerance as a fallback diagnostic, so any FP-order sensitivity shows up here
before the driver sees it.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Known SF-pinned exception: ``classifier_fit`` — its oracle applies the
PINNED sf0.01 ridge fit (_RIDGE_EXPECT, seeded-literal policy), so the
hash match only holds at the correctness-gate scale; at other SFs Spark
re-fits in-engine and the weights legitimately differ. Every other
query is expected green at sf0.001 / sf0.01 / sf0.1 (verified round 15).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# the checkout this file belongs to, wherever it was cloned
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from airflow_retail_etl_spark.session import get_spark
from airflow_retail_etl_spark.sources.tables import TABLE_NAMES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            # date objects / Decimals / None → canonical string
            df[c] = s.map(lambda v: None if v is None else str(v))
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), na_position="first", kind="mergesort")
    return df.reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
        return problems
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
            # The driver hashes BYTES, so the local gate must compare bytes:
            # `==` hides sign-of-zero (-0.0 == 0.0) — exactly the class that
            # passed here for 14 rounds and failed the driver's hash on
            # embedding_gram (round-14 verdict). Bit-compare via u8 views;
            # both-NaN counts as equal (a single quiet-NaN pattern reaches
            # pandas from both engines).
            a = sv.to_numpy(dtype="float64")
            b = ov.to_numpy(dtype="float64")
            both_nan = np.isnan(a) & np.isnan(b)
            bit_eq = (a.view("u8") == b.view("u8")) | both_nan
            if not bit_eq.all():
                sign_zero = (a == b) & ~bit_eq
                if sign_zero.any():
                    idx = int(np.argmax(sign_zero))
                    problems.append(
                        f"col {c}: {int(sign_zero.sum())} SIGN-OF-ZERO "
                        f"mismatches (==-equal, byte-different), e.g. row "
                        f"{idx}: spark={a[idx]!r} oracle={b[idx]!r} — "
                        f"WOULD FAIL hash; publish via pub_round/+0.0"
                    )
                value_bad = ~bit_eq & ~sign_zero
                if value_bad.any():
                    close = np.isclose(
                        np.nan_to_num(a), np.nan_to_num(b), rtol=1e-9, atol=1e-12
                    ) & ~(np.isnan(a) ^ np.isnan(b))
                    n_bad = int(value_bad.sum())
                    if close.all():
                        problems.append(
                            f"col {c}: {n_bad} values only approx-equal "
                            f"(max abs diff {float(np.nanmax(np.abs(a - b)))}) — WOULD FAIL hash"
                        )
                    else:
                        idx = int(np.argmax(value_bad))
                        problems.append(
                            f"col {c}: {n_bad} mismatches, e.g. row {idx}: "
                            f"spark={a[idx]} oracle={b[idx]}"
                        )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                idx = int(np.argmax(~eq.values))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches (dtypes {sv.dtype}/{ov.dtype}), "
                    f"e.g. row {idx}: spark={sv.iloc[idx]!r} oracle={ov.iloc[idx]!r}"
                )
    return problems


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {exc}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        status = "OK  " if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"{status} {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
        for p in problems[:8]:
            print(f"     - {p}")
    print(f"\n{failures} failing / {len(only) if only else len(queries)} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

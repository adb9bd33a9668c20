#!/usr/bin/env python
"""Local simulation of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on DuckDB
over the same parquet tables, then compares:
  - row count
  - sorted column names
  - order-insensitive multiset of row values (floats compared exactly after
    both sides' own rounding, falling back to 1e-9 relative tolerance, so we
    catch anything the driver's value-hash would flag)

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
Default sf_dir: /root/testdata/sf0.01 (the driver's gate SF).
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time
from collections import Counter
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from parquet_to_clickhouse_schema_spark import registry  # noqa: E402
from parquet_to_clickhouse_schema_spark.session import get_spark  # noqa: E402
from parquet_to_clickhouse_schema_spark.sources.io import TABLES  # noqa: E402


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _type_category(v) -> str:
    """Coarse type category for cross-engine dtype comparison. The driver's
    value-hash is type-sensitive (pandas canonicalization), so int vs float
    vs Decimal drift fails there even when Python `==` says equal — r1's
    q_grouping_sets (decimal(27,6) vs double) slipped through this script."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, datetime):
        return "datetime"
    if isinstance(v, date):
        return "date"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (list, tuple, dict)):
        return "collection"
    return type(v).__name__


_TYPE_SCAN_CAP = 20_000  # rows scanned per column; covers every gated result


def _col_categories(rows, idx, cap=_TYPE_SCAN_CAP) -> set[str]:
    """Distinct type categories over (up to cap) ALL cells of a column —
    not just the first non-null: an int-vs-float drift appearing mid-result
    or an all-NULL column must not escape (ADVICE r2)."""
    cats = set()
    for r in rows[:cap]:
        if r[idx] is not None:
            cats.add(_type_category(r[idx]))
    return cats


def _type_problems(s_rows, s_cols, d_rows, d_cols) -> list[str]:
    """Per-column type checks mirroring the driver's sensitivities:
    - Decimal cells on either side (hash diverges from double);
    - category mismatch between Spark and DuckDB for the same column,
      including drift WITHIN a column (mixed int/float cells);
    - collection-typed (array/map/struct) Spark cells in a GATED key: the
      driver's pandas row canonicalizer crashes on numpy.ndarray (r1's
      q_agg_collect) — gated outputs must be scalar columns."""
    problems = []
    order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])

    for si, di in zip(order_s, order_d):
        name = s_cols[si]
        scs = _col_categories(s_rows, si)
        dcs = _col_categories(d_rows, di)
        if "decimal" in scs or "decimal" in dcs:
            problems.append(
                f"col {name!r}: Decimal-typed cells (spark={scs} duckdb={dcs}) — "
                "driver hash treats decimal != double; use D-suffixed literals"
            )
            continue
        if "collection" in scs:
            problems.append(
                f"col {name!r}: array/map-typed Spark output in a gated key — "
                "driver canonicalizer crashes on ndarray; serialize (concat_ws)"
            )
            continue
        if len(scs) > 1 or len(dcs) > 1:
            problems.append(
                f"col {name!r}: mixed in-column types spark={scs} duckdb={dcs}"
            )
            continue
        if scs and dcs and scs != dcs:
            problems.append(
                f"col {name!r}: type drift spark={scs} duckdb={dcs}"
            )
    return problems


def _rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _approx_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_approx_equal(x, y) for x, y in zip(a, b))
    return a == b


def _multiset_diff(ms_a, ms_b, max_report=3):
    """Return list of (row_a, row_b_or_None) mismatches, tolerant on floats."""
    only_a = list((ms_a - ms_b).elements())
    only_b = list((ms_b - ms_a).elements())
    unmatched = []
    used = [False] * len(only_b)
    for ra in only_a:
        hit = False
        for j, rb in enumerate(only_b):
            if not used[j] and _approx_equal(ra, rb):
                used[j] = True
                hit = True
                break
        if not hit:
            unmatched.append(ra)
    leftovers = [rb for j, rb in enumerate(only_b) if not used[j]]
    # pair them up for reporting
    out = []
    for i, ra in enumerate(unmatched[:max_report]):
        out.append((ra, leftovers[i] if i < len(leftovers) else None))
    return out, len(unmatched), len(leftovers)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) if len(sys.argv) > 2 else (
        set(sys.argv[1:2]) - {sf_dir} or None
    )
    if only is not None and not only:
        only = None

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passes, rows_only = [], [], []

    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with registry.key_scope(spark, name):
                sdf = fn(spark, sf_dir)
                s_cols = sdf.columns
                s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name:28s} spark error: {str(e)[:200]}")
            continue
        el = time.time() - t0

        if name not in oracles:
            rows_only.append(name)
            print(f"rows  {name:28s} {len(s_rows):>8d} rows  {el:5.1f}s (rows-only)")
            continue

        try:
            # q_parquet_meta's oracle names the driver's gate-SF files
            # literally (the driver only ever runs oracles at sf0.01);
            # when THIS script sweeps another SF, point it at the same
            # files the Spark side was handed so the check stays apples
            # to apples.
            o_sql = oracles[name].replace("/root/testdata/sf0.01", sf_dir)
            res = con.execute(o_sql)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name:28s} duckdb error: {str(e)[:200]}")
            continue

        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            problems.extend(_type_problems(s_rows, s_cols, d_rows, d_cols))
        if not problems:
            ms_s = _rows_to_multiset(s_rows, s_cols)
            ms_d = _rows_to_multiset(d_rows, d_cols)
            if ms_s != ms_d:
                diffs, n_a, n_b = _multiset_diff(ms_s, ms_d)
                if diffs:
                    problems.append(
                        f"values differ beyond tolerance ({n_a} spark-only / {n_b} duckdb-only); "
                        f"sample: {diffs[0]}"
                    )
                else:
                    problems.append(
                        "EXACT-HASH RISK: values equal only within tolerance "
                        "(driver hash may mismatch)"
                    )
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name:28s} {'; '.join(str(p)[:300] for p in problems)}")
        else:
            passes.append(name)
            print(f"ok    {name:28s} {len(s_rows):>8d} rows  {el:5.1f}s")

    print(
        f"\n{len(passes)} exact-match, {len(rows_only)} rows-only, {len(failures)} failing"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

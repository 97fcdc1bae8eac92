"""Local replica of the driver's DuckDB oracle check.

Runs every queries() entry at the given sf_dir, runs the matching
oracle_sql() through DuckDB over the same parquet, and compares
row count, column names/types, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified).

Comparison is TYPE-SENSITIVE and pandas-fetched on BOTH sides, like
the driver: DuckDB results come through ``fetchdf()`` (HUGEINT widens
to float64, NULL timestamps to NaT) and values stringify with
``str()`` — so an integer column on one side vs a float column on the
other ("6000" vs "6000.0") fails here exactly as it fails the driver.
The round-6 checker fetched DuckDB rows with ``fetchall()`` (HUGEINT
-> Python int) and normalized floats with ``%.6f``, which masked the
type divergence behind the round's only red row. A row that fails
type-sensitively but would pass the old loose compare is reported as
``TYPE-ONLY`` to separate representation bugs from value bugs.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(rows: list[tuple], cols: list[str], norm) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def value_hash(rows: list[tuple], cols: list[str], norm=None) -> str:
    h = hashlib.md5()
    for row in _canon(rows, cols, norm or _norm):
        h.update(("\x1f".join(row) + "\x1e").encode("utf-8"))
    return h.hexdigest()


def _null(v) -> bool:
    try:
        return v is None or v != v  # None, float NaN, pandas NaT
    except (TypeError, ValueError):  # non-scalar v
        return False


def _norm(v) -> str:
    """Type-sensitive stringification (the driver's behavior): int 6000
    and float 6000.0 are DIFFERENT."""
    if _null(v):
        return "<NULL>"
    return str(v)


def _norm_loose(v) -> str:
    """Round-6 loose normalization (%.6f floats, ints as ints) — used
    only to label a mismatch as TYPE-ONLY vs a real value divergence."""
    if _null(v):
        return "<NULL>"
    if isinstance(v, bool):
        return str(int(v))
    try:
        import numpy as np

        if isinstance(v, (float, np.floating, int, np.integer)) and not isinstance(
            v, bool
        ):
            return f"{float(v):.6f}"
    except ImportError:
        if isinstance(v, (float, int)):
            return f"{float(v):.6f}"
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from rlr_spark.session import get_spark

    # get_spark's defaults size the session to this host: one task
    # slot and one shuffle partition per core it may run on
    # (os.sched_getaffinity, or SPARK_GRAFT_CPUS)
    spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    # full registry: the driver's 50-row budget PLUS the extended
    # entries (retired near-duplicate variants) — this tool is the
    # correctness record for the extended set
    qs = {**entrymod.queries(), **entrymod.extended_queries()}
    oracles = {**entrymod.oracle_sql(), **entrymod.extended_oracle_sql()}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_pdf = sdf.toPandas()  # Arrow path — py4j collect() is 100x slower
            s_rows = list(s_pdf.itertuples(index=False, name=None))
            s_cols = list(s_pdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(s_rows)} (no oracle, rows-only)")
            continue
        try:
            # pandas fetch, like the driver: HUGEINT -> float64, etc.
            d_pdf = con.execute(oracles[name]).fetchdf()
            d_cols = list(d_pdf.columns)
            d_rows = list(d_pdf.itertuples(index=False, name=None))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            hs = value_hash(s_rows, list(s_cols))
            hd = value_hash(d_rows, list(d_cols))
            if hs != hd:
                loose_match = value_hash(
                    s_rows, list(s_cols), _norm_loose
                ) == value_hash(d_rows, list(d_cols), _norm_loose)
                problems.append(
                    "TYPE-ONLY mismatch (values agree loosely; "
                    "representation/type differs — the driver fails this)"
                    if loose_match
                    else "value-hash mismatch"
                )
                cs = _canon(s_rows, list(s_cols), _norm)
                cd = _canon(d_rows, list(d_cols), _norm)
                for a, b in zip(cs, cd):
                    if a != b:
                        problems.append(f"  first diff:\n   spark : {a}\n   duckdb: {b}")
                        break
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
        else:
            print(f"ok    {name}: rows={len(s_rows)}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

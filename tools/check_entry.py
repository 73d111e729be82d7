"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given SF dir, comparing row count, sorted-column schema and
order-insensitive values. Usage:

    python tools/check_entry.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from slog_agent_spark.session import build_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _arrow_types(schema) -> dict[str, str]:
    """name → normalized arrow type string (large_string≡string etc.)."""
    out = {}
    for f in schema:
        t = str(f.type)
        t = t.replace("large_string", "string").replace("large_binary", "binary")
        if t.startswith("timestamp"):
            t = "timestamp"
        # int width is hash-neutral for the driver (r1 evidence: int32 vs
        # int64 columns hashed green); int128/decimal (DuckDB HUGEINT) is not.
        if t in ("int8", "int16", "int32", "int64", "uint8", "uint16",
                 "uint32", "uint64"):
            t = "int"
        out[f.name] = t
    return out


def type_mismatches(df, cur) -> list[str]:
    """Driver's value-hash is TYPE-sensitive: a DuckDB HUGEINT sum vs a
    Spark BIGINT sum hash-differs even with identical values. Compare the
    two result sets at the Arrow level to catch that locally."""
    try:
        s_types = _arrow_types(df.limit(1).toArrow().schema)
        d_types = _arrow_types(cur.fetch_arrow_table().schema)
    except Exception as e:  # arrow export unavailable → skip, don't fail
        print(f"  (type check skipped: {type(e).__name__}: {str(e)[:120]})")
        return []
    return [
        f"{c}: spark={s_types[c]} duckdb={d_types[c]}"
        for c in s_types
        if c in d_types and s_types[c] != d_types[c]
    ]


def _fresh_con(sf_dir: str):
    """One DuckDB connection PER QUERY, bounded memory/threads.

    A single shared connection accumulated buffer-pool memory across the
    29 oracle runs until mallocs failed mid-gate (observed: bad_alloc on
    2KB blocks with >100GB system free before/after) — a fresh
    connection releases everything, and the explicit limit makes DuckDB
    spill instead of dying if one oracle spikes.
    """
    con = duckdb.connect()
    con.execute("SET memory_limit='24GB'")
    con.execute("SET threads=8")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session(shuffle_partitions=16)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        con = _fresh_con(sf_dir)
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = sorted(df.columns)
            s_rows = sorted(
                tuple(norm(r[c]) for c in cols) for r in df.collect()
            )
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(s_rows)} (no oracle — rows-only)")
            continue
        try:
            cur = con.execute(oracles[name])
            tmism = type_mismatches(df, cur)
            cur = con.execute(oracles[name])  # re-run: arrow fetch drained it
            d_names = [c[0] for c in cur.description]
            idx = [d_names.index(c) for c in cols] if sorted(d_names) == cols else None
            if idx is None:
                print(f"FAIL {name}: schema {sorted(d_names)} != {cols}")
                failures += 1
                continue
            d_rows = sorted(tuple(norm(row[i]) for i in idx) for row in cur.fetchall())
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if tmism:
            print(f"FAIL {name}: arrow type mismatch (hash-breaking): {tmism}")
            failures += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount {len(s_rows)} != {len(d_rows)}")
            failures += 1
            continue
        bad = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
        if bad:
            for a, b in zip(s_rows, d_rows):
                if a != b:
                    print(f"  spark: {a}\n   duck: {b}")
                    break
            print(f"FAIL {name}: {bad}/{len(s_rows)} rows differ")
            failures += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows in {time.time()-t0:.1f}s")
        con.close()
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

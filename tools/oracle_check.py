"""Local replica of the driver's differential-oracle check.

Runs a registered Spark query and its DuckDB oracle side-by-side on the same
parquet tables and compares row count, schema (column names),
order-insensitive values (columns sorted by name, rows sorted, exact equality
after canonicalization), AND per-column engine output types (canonicalized —
see _canon_type). The type-parity leg exists because value canonicalization
alone is NOT stricter than the driver's hash: round 6 produced two
counterexamples (DuckDB HUGEINT vs Spark BIGINT in events_running_reset's
segment column hashed differently driver-side while `.item()` masked it here;
an FP-order-dependent double sum in rel_bloom_prune_join landed on opposite
half-cent sides only under the driver's partitioning). Passing here is strong
evidence, not proof, of a driver hash pass — type parity closes the known
representation gaps, value equality at one partitioning cannot close
FP-order dependence (the FP-sum lint in tests/test_oracle.py does).

Usage:
    python tools/oracle_check.py [query ...]      # default: all [Q] queries
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/oracle_check.py
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_type(t: str) -> str:
    """Map a Spark dtype string / DuckDB type string to the lattice of
    hash-visible representations. Engines agreeing here means the driver's
    serialized values (pandas/Arrow-side) have the same dtype; disagreeing
    means a latent hash mismatch even when Python-level values compare
    equal (Decimal("1.5") == 1.5, HUGEINT.item() == int — both masked by
    value comparison alone).

    Collapsed on purpose: all <=64-bit ints are one kind "i" (driver rows
    since r2 prove int32 row_number vs BIGINT oracle hashes identically);
    float/double are "f"; decimals keep their SCALE (the rendered-digits
    part) but not precision. HUGEINT maps to its own kind so DuckDB's
    default sum(integer) widening is always flagged. struct/map types
    compare as opaque "complex" (engine spellings differ irreconcilably;
    their element values still hit the value leg)."""
    import re

    t = t.strip().lower()
    if t.endswith("[]"):
        return _canon_type(t[:-2]) + "[]"
    if t.startswith("array<") and t.endswith(">"):
        return _canon_type(t[6:-1]) + "[]"
    if t.startswith(("struct", "map", "row", "union", "variant")):
        return "complex"
    if t.startswith(("decimal", "numeric")):
        m = re.search(r"\(\s*\d+\s*,\s*(\d+)\s*\)", t)
        return f"dec(s={m.group(1)})" if m else "dec(s=?)"
    if t in ("tinyint", "smallint", "int", "integer", "bigint",
             "utinyint", "usmallint", "uinteger", "long", "short", "byte"):
        return "i"
    if t in ("hugeint", "uhugeint", "ubigint"):
        return "i128"
    if t in ("float", "double", "real"):
        return "f"
    if t in ("varchar", "string", "text", "char", "bpchar"):
        return "str"
    if t.startswith("timestamp"):
        return "ts"
    if t in ("boolean", "bool"):
        return "bool"
    if t in ("binary", "blob", "bytea", "varbinary"):
        return "bin"
    return t


def _canon(v):
    """Canonicalize a cell for exact cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            # Signed-zero parity leg (r9 find, the third value-equal/
            # hash-different class after HUGEINT and FP-order): -0.0
            # compares == 0.0 in Python but serializes with a different
            # sign bit, so the driver hash diverges when the engines
            # disagree (sim_dim_covariance cell (6,10): DuckDB
            # round() -> -0.0, Spark -> +0.0). Keep it DISTINCT here so
            # local sweeps catch the class the driver would flag.
            return "-0.0"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def normalize(rows: list[dict], columns: list[str]):
    cols = sorted(columns)
    out = [tuple(_canon(r[c]) for c in cols) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return cols, out


def compare_query(spark, con, name: str, fn, sql: str, sf_dir: str):
    sdf = fn(spark, sf_dir)
    spark_rows = [r.asDict() for r in sdf.collect()]
    spark_cols = list(sdf.columns)
    spark_types = {c: _canon_type(t) for c, t in sdf.dtypes}

    rel = con.sql(sql)
    duck_cols = list(rel.columns)
    duck_types = {
        c: _canon_type(str(t)) for c, t in zip(duck_cols, rel.types)
    }
    duck_rows = [dict(zip(duck_cols, row)) for row in rel.fetchall()]

    problems = []
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"schema mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
    else:
        type_diffs = [
            f"{c}: spark={spark_types[c]} duck={duck_types[c]}"
            for c in sorted(spark_cols)
            if spark_types[c] != duck_types[c]
        ]
        if type_diffs:
            problems.append("type mismatch: " + "; ".join(type_diffs))
    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}")
    if not problems:
        _, s_norm = normalize(spark_rows, spark_cols)
        _, d_norm = normalize(duck_rows, duck_cols)
        if s_norm != d_norm:
            diffs = [
                (a, b) for a, b in zip(s_norm, d_norm) if a != b
            ][:3]
            problems.append(f"value mismatch ({len([1 for a, b in zip(s_norm, d_norm) if a != b])} rows differ); first diffs: {diffs}")
    return problems, len(spark_rows)


def check_queries(spark, names: list[str], sf_dir: str) -> int:
    """Compare each named query against its DuckDB oracle, printing one
    OK / FAIL / ERROR / SKIP line per query and an "n/m passed" total.
    Returns the exit status: 1 if any query failed or errored. Callers pin
    the process TZ to UTC first (see main)."""
    import __spark_entry__ as entry_mod
    from posts_vectorizer_spark.cache import release_caches

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duckdb_connection(sf_dir)

    failed = []
    skipped = 0
    slowest: list[tuple[float, str]] = []
    for name in names:
        if name not in oracles:
            print(f"SKIP  {name} (no oracle)")
            skipped += 1
            continue
        t0 = time.perf_counter()
        try:
            problems, n = compare_query(spark, con, name, qs[name], oracles[name], sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            failed.append(name)
            continue
        elapsed = time.perf_counter() - t0
        slowest.append((elapsed, name))
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            failed.append(name)
        else:
            print(f"OK    {name} ({n} rows, {elapsed:.2f}s)")
        release_caches()  # per-query caches don't outlive their comparison
    if len(slowest) > 5:
        top = ", ".join(
            f"{n}={t:.1f}s" for t, n in sorted(slowest, reverse=True)[:5]
        )
        print(f"\nslowest: {top}")
    n_ran = len(names) - skipped
    suffix = f" ({skipped} skipped)" if skipped else ""
    print(f"\n{n_ran - len(failed)}/{n_ran} passed{suffix}")
    return 1 if failed else 0


def main(argv: list[str]) -> int:
    # Timestamps compare as UTC instants: the engine pins the SESSION TZ to
    # UTC (registry.prep_session), but PySpark's collect() renders
    # TimestampType through the PYTHON PROCESS timezone — outside any
    # query's control. Pin the process TZ so the harness is deterministic
    # under any shell TZ (the driver runs in UTC; a non-UTC driver process
    # would need TIMESTAMP_NTZ output columns instead).
    os.environ["TZ"] = "UTC"
    time.tzset()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as entry_mod
    from posts_vectorizer_spark.session import get_spark

    names = argv or sorted(entry_mod.oracle_sql())
    return check_queries(get_spark("oracle-check"), names, sf_dir)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

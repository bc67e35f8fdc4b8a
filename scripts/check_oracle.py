"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every __spark_entry__.queries() entry at a given sf dir, runs the
matching oracle_sql() in DuckDB over the same parquet files, and compares
row count, column-name set, and order-insensitive values (columns sorted
by name, rows sorted, exact string compare of values — floats compared
both exactly and with 1e-9 relative tolerance so we can see whether a
mismatch is real or float noise).

Additionally (round-2 hardening): compares through the PANDAS layer the
way the driver's value hash does — ``sdf.toPandas()`` vs DuckDB
``rel.df()`` — including the Python type of every cell. This catches
wire-type decay the row-value compare cannot see: DuckDB HUGEINT sums
and DECIMAL results decay to float64 in ``.df()`` (``6`` → ``6.0``)
while Spark keeps int64/Decimal, which made 10 value-identical queries
hash-red in round 1 (VERDICT.md).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Named queries must be registered: an unknown name exits 2 before the
Spark session starts, so a typo can never report "all exact" over
nothing. The summary states how many queries were compared.
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    return [cols[i] for i in order], sorted(out, key=lambda t: tuple(str(x) for x in t))


def pandas_canon(df):
    """Canonicalize a pandas frame the way a type-sensitive hasher sees
    it: columns sorted by name, rows sorted by string repr, each cell
    rendered as (type_name, repr)."""
    df = df[sorted(df.columns)]
    rows = [tuple((type(v).__name__, repr(v)) for v in row)
            for row in df.itertuples(index=False, name=None)]
    return sorted(rows)


def driver_canon_ok(df):
    """Round-5 hardening: replay the DRIVER's canonicalization, which is
    pandas ``sort_values`` over all result columns. That path throws
    ``TypeError: unhashable type: 'list'`` on array-typed cells — the
    exact failure that made the value-exact ``length_quantiles_by_lang``
    driver-red in r04 while this script's string-repr sort passed it.
    Returns (ok, err_str)."""
    try:
        cols = sorted(df.columns)
        df[cols].sort_values(by=cols)
        return True, ""
    except Exception as exc:  # noqa: BLE001 - report any canon failure
        return False, f"{type(exc).__name__}: {exc}"


def values_close(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry
    from datacanary_spark.session import get_spark

    qs = entry.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query name(s): {', '.join(unknown)}", file=sys.stderr)
        sys.exit(2)

    spark = get_spark(app_name="oracle_check", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    import os
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark writes parquet as a directory of part files; DuckDB
        # needs a glob for those, a plain path for single-file tables.
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    oracles = entry.oracle_sql()
    failures = []
    compared = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        spark_sec = time.time() - t0
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:35s} rows-only: {len(srows)} rows "
                  f"[spark {spark_sec:.1f}s]")
            continue
        compared += 1
        rel = con.sql(oracles[name])
        drows = rel.fetchall()
        dcols = [d[0] for d in rel.description]
        status = []
        if len(srows) != len(drows):
            status.append(f"ROWCOUNT {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            status.append(f"SCHEMA {sorted(scols)} vs {sorted(dcols)}")
        if not status:
            _, sn = norm_rows(scols, srows)
            _, dn = norm_rows(dcols, drows)
            exact = sn == [tuple(r) for r in dn]
            if exact:
                # Value-exact; now the type-sensitive pandas-layer check
                # (mimics the driver hash — see module docstring).
                spdf = sdf.toPandas()
                sp = pandas_canon(spdf)
                dp = pandas_canon(rel.df())
                if sp == dp:
                    canon_ok, canon_err = driver_canon_ok(spdf)
                    if canon_ok:
                        status.append("OK exact")
                    else:
                        status.append(f"DRIVERCANON-ERR {canon_err}")
                else:
                    bad = next((a, b) for a, b in zip(sp, dp) if a != b)
                    status.append(f"TYPEDIFF pandas-layer: {bad[0]} vs {bad[1]}")
            else:
                n_bad = 0
                for a, b in zip(sn, dn):
                    if not all(values_close(x, y) for x, y in zip(a, b)):
                        n_bad += 1
                        if n_bad <= 2:
                            status.append(f"DIFF {a} vs {b}")
                if n_bad == 0:
                    status.append("OK approx (float-noise only — hash gate may flag!)")
                else:
                    status.append(f"MISMATCH {n_bad}/{len(sn)} rows")
        line = (f"{name:35s} {'; '.join(status)} "
                f"[spark {spark_sec:.1f}s]")
        print(line)
        if "OK exact" not in status:
            failures.append(line)
    print("\n== summary ==")
    print(f"{compared} queries compared against the oracle")
    if failures:
        print(f"{len(failures)} non-exact:")
        for f in failures:
            print(" ", f)
        sys.exit(1)
    print("all exact")


if __name__ == "__main__":
    main()

"""Local mirror of the driver's correctness gate.

Runs every queries()[name] on Spark and its oracle_sql()[name] on DuckDB over
the same sf dir and compares row counts + schema + values.

Two deliberate strictness choices (round-1 postmortem, VERDICT.md):

- The Spark session is a VANILLA one (master + shuffle partitions only), NOT
  session.py's tuned factory — the driver builds its own bare session, so any
  engine code that silently depends on factory conf (nanosAsLong, timezone,
  mapKeyDedupPolicy) must fail here too.
- Values are compared as typed canonical strings with NO re-rounding: int vs
  float is a mismatch, -0.0 vs 0.0 is a mismatch — exactly the distinctions
  the driver's value-hash sees after pandas materialization.

Usage:

    python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def vanilla_spark() -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName("parity-vanilla")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def norm_cell(v) -> str:
    """Typed canonical form. Distinct types never compare equal, and float
    bit-level oddities (-0.0, NaN) are preserved in the string."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"  # repr keeps -0.0 distinct from 0.0
    if isinstance(v, decimal.Decimal):
        # pandas materializes DECIMAL/HUGEINT as float64 — mirror that
        return f"f:{float(v)!r}"
    if isinstance(v, datetime):
        return f"ts:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, date):
        return f"d:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if isinstance(v, dict):
        items = sorted((str(k), norm_cell(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}={x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return f"s:{v}"


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    only = set(a for a in args if not a.startswith("/"))

    spark = vanilla_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        sys.exit(f"unknown queries: {sorted(unknown)}")
    # the summary counts the SELECTED set (a subset run used to print the
    # full-registry denominator — VERDICT r9 What's-wrong #3)
    selected = [n for n in qs if not only or n in only]
    failures = []
    for name, fn in qs.items():
        if name not in selected:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows={len(srows)} (no oracle — rows-only check)")
            continue
        try:
            # HUGEINT guard: fetchall() hands HUGEINT over as a plain Python
            # int, but the driver materializes through pandas where int128
            # becomes float64 and the value-hash diverges from Spark's int.
            # Any un-CAST integer sum in an oracle is therefore a latent
            # driver failure — surface it here as a hard parity failure.
            huge = [
                (r[0], r[1])
                for r in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
                if "HUGEINT" in str(r[1]).upper()
            ]
            if huge:
                failures.append(name)
                print(f"FAIL {name}: oracle emits HUGEINT columns {huge} — CAST(... AS BIGINT)")
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            failures.append(name)
            print(f"FAIL {name}: columns differ spark={sc} oracle={oc}")
            continue
        if len(sr) != len(orr):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(sr)} oracle={len(orr)}")
            continue
        if sr != orr:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs: {diffs}")
            continue
        print(f"PASS {name}: rows={len(sr)}")

    print(
        f"\n{len(selected) - len(failures)}/{len(selected)} queries pass"
        + (f" (subset of {len(qs)})" if len(selected) < len(qs) else "")
        + (f"; FAILED: {failures}" if failures else "")
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark at sf0.01 and the matching
oracle_sql() on DuckDB over the same parquet, compare row count + column
names + an order-insensitive value hash. Values are canonicalized in the
driver's terms: floats by ``repr`` (no rounding), rows sorted, and a
value the driver cannot hash (list, tuple/struct, dict, Decimal, bytes)
fails the query instead of being stringified.

Usage: python tools/verify_contract.py [sf_dir] [query ...]
The Spark session is sized by SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import hashlib
import sys
from datetime import datetime
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as ent  # noqa: E402
from bistro_spark.caching import pin_scope  # noqa: E402
from bistro_spark.session import get_spark  # noqa: E402
from bistro_spark.sources.io import TESTDATA_TABLES  # noqa: E402


class Unhashable(TypeError):
    """A value of a type the driver's canonicalizer cannot hash."""


def canon(v):
    if isinstance(v, (list, tuple, dict, Decimal, bytes, bytearray)):
        raise Unhashable(
            f"{type(v).__name__} value {str(v)[:60]} is not driver-hashable"
        )
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if v is None:
        return ""
    return str(v)


def canon_lines(cols, rows):
    """Rows as sorted canonical lines, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def table_sig(cols, rows):
    lines = canon_lines(cols, rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="verify_contract", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )

    qs, oracles = ent.queries(), ent.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            with pin_scope(spark):
                sdf = fn(spark, sf)
                srows = sdf.collect()
                scols = sdf.columns
            if name not in oracles:
                print(f"{name:32s} rows={len(srows):7d}  (no oracle — rows-only)")
                continue
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            s_sig = table_sig(scols, [[r[c] for c in scols] for r in srows])
            o_sig = table_sig(ocols, orows)
            ok_rows = len(srows) == len(orows)
            ok_cols = sorted(scols) == sorted(ocols)
            ok_hash = s_sig == o_sig
            status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
            cols_msg = "=" if ok_cols else f"{sorted(scols)}<>{sorted(ocols)}"
            hash_msg = "=" if ok_hash else f"{s_sig}<>{o_sig}"
            print(
                f"{name:32s} {status}  rows {len(srows)}/{len(orows)} "
                f"cols={cols_msg} hash={hash_msg}"
            )
            if status == "FAIL":
                failures.append(name)
                if not ok_hash and ok_rows and ok_cols:
                    # show first differing canonical row
                    a = canon_lines(scols, [[r[c] for c in scols] for r in srows])
                    b = canon_lines(ocols, orows)
                    for x, y in zip(a, b):
                        if x != y:
                            print(f"   spark : {x[:200]}")
                            print(f"   oracle: {y[:200]}")
                            break
        except Unhashable as e:
            failures.append(name)
            print(f"{name:32s} FAIL  {e}")
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name:32s} ERROR {type(e).__name__}: {str(e)[:300]}")
    print("\nFAILED:" if failures else "\nALL OK", ", ".join(failures))
    ent.release_dedup_assignments()
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

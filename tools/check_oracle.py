"""Local twin of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, column
names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [names...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from datetime import datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, ".")

# override with CHECK_ORACLE_SF_DIR=/root/testdata/sf0.1 for the large-sf
# spot-check (catches scale-dependent plan changes: AQE re-plans,
# broadcast-threshold flips)
SF_DIR = os.environ.get("CHECK_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, Decimal):
        # DRIVER-FAITHFUL: the external driver does NOT round Decimals
        # through float, so a Decimal('4136837.705500') from Spark and a
        # float64 4136837.7055 from DuckDB's pandas bridge hash differently
        # (round-4 j2 red).  Keep the representation clash VISIBLE here so
        # the local gate catches it before the driver does; gated entries
        # must not emit DECIMAL at all (see tests/test_entry.py).
        return str(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    import __spark_entry__ as e
    from archive_query_log_spark.session import get_spark

    spark = get_spark(master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    names = sys.argv[1:] or list(qs)
    n_pass = n_fail = 0
    for name in names:
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            hs, ho = value_hash(srows, scols), value_hash(orows, ocols)
            if hs != ho:
                problems.append(f"valuehash {hs[:10]} != {ho[:10]}")
                # show first differing row for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("|".join(normalize(r[i]) for i in order_s) for r in srows)
                lo = sorted("|".join(normalize(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f"  spark:  {a[:200]}")
                        problems.append(f"  duckdb: {b[:200]}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print("      " + p)
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows {hs[:12]}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

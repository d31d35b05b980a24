"""Driver-mimic: run every __spark_entry__.queries() entry in Spark and
its oracle_sql() in DuckDB on the same sf dir; compare row counts,
column names, and order-insensitive values (exact — floats must match
to the bit after the in-query rounding, like the driver's value-hash).
Each passing query prints the time its builder took to return the
DataFrame (the driver-side build, plus any eager checkpoint jobs the
builder runs) next to its total.

    python3 tools/oracle_check.py [sf_dir] [query ...]

``check`` also runs inside an existing Spark session (the tier-1 parity
test passes its own).
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from simple_html_parser_spark.runtime.session import (  # noqa: E402
    get_spark, release,
)
from simple_html_parser_spark.sources.documents import TABLES  # noqa: E402


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 vs 0.0 and representation noise at 1e-9
        return round(v + 0.0, 9)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def check(sf_dir: str, only: list[str] | None = None,
          spark=None) -> int:
    """Number of failing queries.  A session passed in is left running;
    otherwise one is started and stopped here."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")

    own_session = spark is None
    if own_session:
        spark = get_spark(shuffle_partitions=16)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            t_build = time.time() - t0
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            failures += 1
            continue
        finally:
            release(spark)
        try:
            rel = con.sql(oracles[name])
            duck_cols = [c.lower() for c in rel.columns]
            duck_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            failures += 1
            continue
        sc, srows = _norm_rows([c.lower() for c in spark_cols], spark_rows)
        dc, drows = _norm_rows(duck_cols, duck_rows)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            print(f"  spark[:2]={srows[:2]}\n  duck[:2]={drows[:2]}")
            failures += 1
            continue
        bad = [(a, b) for a, b in zip(srows, drows) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(srows)} rows differ; "
                  f"first: \n  spark={bad[0][0]}\n  duck ={bad[0][1]}")
            failures += 1
            continue
        print(f"ok  {name}: {len(srows)} rows "
              f"(build {t_build:.2f}s, {time.time()-t0:.1f}s)")
    if own_session:
        spark.stop()
    print("FAILURES:", failures)
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    raise SystemExit(1 if check(sf, only) else 0)

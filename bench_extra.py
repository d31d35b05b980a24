"""Extra benchmarks for optimization work (guide §1) — bench.py is
FROZEN for measurement, so every diagnostic run lives here.

Times any subset of the headline queries with bench.py's exact
methodology (count() force, ``release`` between queries,
Spark-free host control around every query, min-of-trials), and can
additionally dump .explain("formatted") per query and time with the
noop sink (guide §1.4) to isolate computation from the count() path.

Usage:
  python3 bench_extra.py [--trials N] [--explain DIR] [--noop]
                         [--sf SF_DIR] [query ...]
No query names = the full bench.py headline list.
Output: one JSON line {"queries": {...}, "ctl": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from bench import HEADLINE_QUERIES, _host_control  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    trials = 2
    explain_dir: str | None = None
    use_noop = False
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--trials":
            trials = int(args[i + 1]); i += 2
        elif a == "--explain":
            explain_dir = args[i + 1]; i += 2
        elif a == "--noop":
            use_noop = True; i += 1
        elif a == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(a); i += 1

    import __spark_entry__ as entry
    from simple_html_parser_spark.runtime.session import (
        default_cores, get_spark, release,
    )

    spark = get_spark("bench-extra", shuffle_partitions=2 * default_cores())
    qs = entry.queries()
    if not names:
        names = list(HEADLINE_QUERIES)

    def _force(df):
        if use_noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    def _timed(name: str) -> float:
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        _force(qs[name](spark, sf_dir))
        spark.sparkContext.setJobDescription(None)
        return round(time.perf_counter() - t0, 3)

    # warm the Python worker pool + codegen (bench.py does the same)
    qs["extract_parity"](spark, sf_dir).limit(32).count()

    out, walls_all, ctls = {}, {}, {}
    for name in names:
        if explain_dir:
            Path(explain_dir).mkdir(parents=True, exist_ok=True)
            import io
            from contextlib import redirect_stdout
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[name](spark, sf_dir).explain("formatted")
            (Path(explain_dir) / f"{name}.txt").write_text(
                buf.getvalue(), encoding="utf-8")
            release(spark)
        c0 = _host_control(400_000)
        walls = [_timed(name) for _ in range(trials)]
        if len(walls) >= 2 and max(walls) > 2 * min(walls):
            walls.append(_timed(name))
        c1 = _host_control(400_000)
        out[name] = min(walls)
        walls_all[name] = walls
        ctls[name] = [c0, c1]
        print(f"  {name}: {out[name]}s {walls} ctl={c0}/{c1}",
              file=sys.stderr, flush=True)
        release(spark)
    spark.stop()
    print(json.dumps({"queries": out, "walls": walls_all, "ctl": ctls,
                      "total": round(sum(out.values()), 3),
                      "noop": use_noop, "trials": trials}))


if __name__ == "__main__":
    main()

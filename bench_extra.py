"""Extra benchmarks for optimization work (guide §1) — bench.py is
FROZEN for measurement, so every diagnostic run lives here.

Times any subset of the headline queries through bench.py's own loop
(``bench.headline_queries``: count() force, ``release`` between
queries, Spark-free host control around every query, min-of-trials),
and can additionally dump .explain("formatted") per query and time
with the noop sink (guide §1.4) to isolate computation from the
count() path.

Usage:
  python3 bench_extra.py [--trials N] [--explain DIR] [--noop]
                         [--sf SF_DIR] [query ...]
No query names = the full bench.py headline list.
Output: one JSON line {"queries": {...}, "walls": {...}, "ctl": {...},
"total", "noop", "trials"}.
"""

from __future__ import annotations

import io
import json
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from bench import (  # noqa: E402
    HEADLINE_QUERIES, HEADLINE_TRIALS, SF_DIR, _count, headline_queries,
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = sys.argv[1:]
    trials = HEADLINE_TRIALS
    explain_dir: str | None = None
    use_noop = False
    sf_dir = SF_DIR
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
    names = names or list(HEADLINE_QUERIES)

    import __spark_entry__ as entry
    from simple_html_parser_spark.runtime.session import (
        default_cores, get_spark, release,
    )

    spark = get_spark("bench-extra", shuffle_partitions=2 * default_cores())
    if explain_dir:
        Path(explain_dir).mkdir(parents=True, exist_ok=True)
        for name in names:
            buf = io.StringIO()
            with redirect_stdout(buf):
                entry.queries()[name](spark, sf_dir).explain("formatted")
            (Path(explain_dir) / f"{name}.txt").write_text(
                buf.getvalue(), encoding="utf-8")
            release(spark)
    out, walls, ctl = headline_queries(
        spark, sf_dir, names, force=_noop if use_noop else _count,
        trials=trials)
    spark.stop()
    print(json.dumps({"queries": out, "walls": walls, "ctl": ctl,
                      "total": round(sum(out.values()), 3),
                      "noop": use_noop, "trials": trials}))


if __name__ == "__main__":
    main()

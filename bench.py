"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1
testdata dir) on local[$SPARK_GRAFT_CPUS] (default: the cores this
process may run on) and prints ONE JSON line:  {"metric", "value"
(sec), "unit": "sec", "queries": {...}, "sf", "extraction_docs_per_sec",
"extraction_mb_per_sec", "scaling": {...}}, and appends a summary with
the host's cores and RAM to BENCH/history.jsonl.

Scaling evidence (a one-machine stand-in for N→4N executors): the
same extraction job runs in two PERSISTENT subprocess JVMs at local[1]
and local[4], each pinned to that many CPUs, over an identical
deterministically-replicated corpus;
interleaved pairs of back-to-back timed runs alternate between them
(order flipped per pair) and the committed efficiency is the MEDIAN
per-pair (rate_4 / rate_1)/4 over pairs a Spark-free host control
calls clean.
On a 4-core host the 4-core side and the 4-process host control both
use every core, so the pair measures the engine and the whole host
together (BENCH/BASELINE.md).

All progress goes to stderr; stdout carries exactly one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the SCALING pair trades two constraints: enough work per run that
# the ~1s fixed per-run cost (scan + 2 stage boundaries + agg collect)
# is small vs the high-side wall, but runs short enough that one
# lo+hi pair fits inside a single host-noise window (a pair that
# straddles one gets a garbage ratio).  The 1-core wall must stay
# >= 60 s (below it the fixed cost caps the measurable ratio), and how
# many replicas that takes depends on the host's speed, so the
# multiplier stays settable at invocation.  On a 4-vCPU host the
# pinned local[1] worker took 54-72 s per run at 24 replicas.
SCALING_MULT = int(os.environ.get("SPARK_GRAFT_SCALING_MULT", "36"))
# paragraphs per bench page (~12-15 KB pages at sf0.1 text lengths)
BENCH_PARAS = 40
# headline trials per query (min kept), and the host-control floor
# below which a measurement is flagged noisy and retried
HEADLINE_TRIALS = 2
BENCH_CTL_MIN = 0.85
# scaling pair N -> 4N, the clean pairs wanted, and the pairs allowed
# in total before settling for the noisy ones too
BENCH_LOW = 1
BENCH_PAIRS = 5
BENCH_MAX_PAIRS = 10
# the timed headline queries, in run order
HEADLINE_QUERIES = (
    "extract_parity", "extract_main_content", "nodes_type_counts",
    "doc_links", "doc_roundtrip", "doc_edit_pipeline",
    "dedup_exact", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_simhash", "sim_topk", "ann_ivf_topk",
    "embedding_srp_lsh", "ann_kmeans_topk", "token_stats",
    "quality_score",
    "doc_fingerprint", "lang_id", "clean_text", "repetition_stats",
    "warc_extract",
    "dedup_lines", "decontaminate", "crawl_dedup_latest",
    "crawl_domain_sample", "crawl_domain_quota", "pii_scrub",
    "oov_stats",
    "curation_pipeline", "curate_web", "curate_full",
    "lm_fluency", "gopher_rules", "dsir_weights", "binary_meta",
    "image_features",
    "audio_features", "pdf_text_extract", "css_serialize_api",
    "kernel_iterator_api",
    "q1_pricing",
    "q3_top_orders", "events_topk", "part_shipped",
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _replicated_docs(spark, sf_dir: str, mult: int, partitions: int):
    """Deterministic corpus of n_docs × mult pages with distinct urls.

    The exchange happens on the COMPACT pre-render rows (a few hundred
    bytes each) and the page render AFTER it, so no task ever renders
    the whole corpus serially and the shuffle never carries html bytes
    — the same render-after-exchange pattern a production job uses to
    explode snapshots into pages."""
    from pyspark.sql import functions as F

    from simple_html_parser_spark.sources.documents import (
        render_html_heavy,
    )
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if mult > 1:
        raw = raw.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
        ).withColumn(
            "doc_id", F.col("doc_id") * mult + F.col("rep")
        ).drop("rep")
    raw = raw.repartition(partitions, F.xxhash64("doc_id"))
    return render_html_heavy(raw, paras=BENCH_PARAS)


def serve_extraction_worker(master: str, sf_dir: str, mult: int) -> None:
    """Persistent worker: one Spark session at ``master``; each 'run'
    line on stdin executes ONE timed parity extraction over the
    replicated corpus and prints a JSON result line.  Keeping both
    pair configs alive lets the driver alternate measurements
    back-to-back in the SAME host-noise window — JVM start never sits
    between the two sides of a pair."""
    from pyspark.sql import functions as F

    from simple_html_parser_spark.operators.extraction import (
        extract_documents,
    )
    from simple_html_parser_spark.runtime.session import (
        driver_memory, get_spark,
    )

    cores = int(master[6:-1])
    spark = get_spark(
        "bench-extract", master=master,
        shuffle_partitions=max(2 * cores, 8),
        # fixed partitioning; AQE re-planning only adds latency here.
        # Half a session's heap each, so the two pair JVMs together fit
        # in what one session takes.  ActiveProcessorCount=N makes
        # local[N] an honest analog of an N-core executor: GC/netty/
        # thread pools size to N, not to every core of the host.
        # Python workers talk to the JVM over Unix domain sockets: over
        # loopback TCP, a worker pinned to one CPU stalled for minutes
        # in retransmission backoff (ss: backoff 11, rto 120 s).
        extra_confs={
            "spark.sql.adaptive.enabled": "false",
            "spark.python.unix.domain.socket.enabled": "true",
            "spark.driver.memory": f"{int(driver_memory()[:-1]) // 2}m",
            "spark.driver.extraJavaOptions":
                f"-XX:ActiveProcessorCount={cores} "
                f"-XX:ParallelGCThreads={max(2, cores)}",
        })
    try:
        # pre-partitioned upstream → no post-render exchange needed
        docs = _replicated_docs(spark, sf_dir, mult, 4 * cores)
        # warmup: ONE FULL unmeasured run — JIT + Python worker pool +
        # codegen; a cold first run measures the JVM, not the engine
        # (observed 2x on the first measured run without this)
        extract_documents(docs).agg(F.count("*")).collect()
        print(json.dumps({"ready": True}), flush=True)
        for line in sys.stdin:
            if line.strip() != "run":
                break
            t0 = time.perf_counter()
            agg = extract_documents(docs).agg(
                F.count("*").alias("n"),
                F.sum("n_bytes").alias("b"),
                F.sum("parse_ms").alias("cpu_ms"),
                F.sum(F.length("extracted_text")).alias("chars"),
                F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
                .alias("errs"),
            ).collect()[0]
            wall = time.perf_counter() - t0
            print(json.dumps({
                "docs": agg.n, "bytes": agg.b, "errors": agg.errs,
                "wall_s": round(wall, 3),
                "docs_per_s": round(agg.n / wall, 1),
                "mb_per_s": round(agg.b / wall / 1e6, 2),
                # kernel CPU per doc: constancy across parallelism
                # levels shows the ENGINE adds no per-core cost
                "kernel_cpu_ms_per_doc": round(agg.cpu_ms / agg.n, 4),
            }), flush=True)
    finally:
        spark.stop()


def _count(df) -> None:
    df.count()


def headline_queries(spark, sf_dir: str, names=HEADLINE_QUERIES,
                     force=_count, trials: int = HEADLINE_TRIALS):
    """Time each query in ``names``, run by ``force`` (default
    ``count()``), as the min of ``trials`` runs on a released executor,
    with a Spark-free host control before and after each query.
    Returns three dicts keyed by name: best wall, every wall, and the
    (before, after) controls."""
    import __spark_entry__ as entry
    from simple_html_parser_spark.runtime.session import release
    qs = entry.queries()

    def _timed(name: str) -> float:
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        force(qs[name](spark, sf_dir))
        spark.sparkContext.setJobDescription(None)
        return round(time.perf_counter() - t0, 3)

    # warm the Python worker pool + codegen before the timed loop
    qs["extract_parity"](spark, sf_dir).limit(32).count()
    best, walls, ctls = {}, {}, {}
    noisy: list[str] = []
    ctl = _host_control(400_000)
    for name in names:
        w = walls[name] = [_timed(name) for _ in range(trials)]
        # in-flight noise guard: if the trials disagree by >2x, a
        # noise window straddled them — one extra trial, keep the min
        if len(w) >= 2 and max(w) > 2 * min(w):
            w.append(_timed(name))
        best[name] = min(w)
        # Spark-free host control AFTER the trials: a measurement taken
        # while a noisy neighbor holds the vCPUs times the neighbor,
        # not the engine — flag it and re-measure in a clean window in
        # the second pass below (one full run here was 2-3x slower on
        # IDENTICAL code purely from such a window)
        ctl_after = _host_control(400_000)
        ctls[name] = [ctl, ctl_after]
        if min(ctl, ctl_after) < BENCH_CTL_MIN:
            noisy.append(name)
        log(f"  {name}: {best[name]}s {w} ctl={ctl}/{ctl_after}"
            + ("  [NOISY]" if name in noisy else ""))
        ctl = ctl_after
        # each query is measured on a quiet executor (r3: cached frames
        # left in place made a kmeans trial 146s and q3 11.5s)
        release(spark)
    # second pass: one clean-window retrial per noise-flagged query
    for name in noisy:
        ctl = _host_control(400_000)
        if ctl < BENCH_CTL_MIN:
            log(f"  retry {name}: host still noisy (ctl={ctl}), keeping "
                f"{best[name]}s")
            continue
        walls[name].append(_timed(name))
        log(f"  retry {name}: {walls[name][-1]}s (was {best[name]}s, "
            f"ctl={ctl})")
        best[name] = min(walls[name])
        release(spark)
    return best, walls, ctls


class _Worker:
    """Driver-side handle on a persistent extraction worker."""

    def __init__(self, cores: int, sf_dir: str, mult: int):
        self.cores = cores
        # pinned to the first ``cores`` CPUs this process may run on,
        # with the JVM's Python workers inheriting the pin: unpinned,
        # the local[1] side's JVM threads and Python worker spread over
        # about 1.33 cores, so the pair would not measure N→4N
        self.proc = subprocess.Popen(
            [sys.executable, "-u", __file__, "--serve",
             f"local[{cores}]", sf_dir, str(mult)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True,
            preexec_fn=lambda: os.sched_setaffinity(
                0, sorted(os.sched_getaffinity(0))[:cores]))
        line = self.proc.stdout.readline()
        assert json.loads(line).get("ready"), line

    def run(self) -> dict:
        self.proc.stdin.write("run\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def close(self) -> None:
        try:
            self.proc.stdin.write("exit\n")
            self.proc.stdin.flush()
        except Exception:  # noqa: BLE001
            pass
        self.proc.wait(timeout=60)


def _ctl_spin(n: int) -> float:
    """Pure-CPU spin (sha256 chain, zero I/O, zero Spark) — the
    per-pair host-noise control workload."""
    import hashlib
    import time as _t

    h = b"x" * 1000
    t0 = _t.perf_counter()
    for _ in range(n):
        h = hashlib.sha256(h).digest() + b"y" * 968
    return _t.perf_counter() - t0


def _host_control(n: int = 1_000_000) -> float:
    """Spark-free 1→4-process scaling efficiency of the HOST right
    now (~2 s).  On a quiet host this is ~0.95-1.0; inside one of the
    VM's multi-minute interference windows it collapses to 0.5-0.8.
    Measured around every scaling pair so pairs that straddle a noise
    window are identified by instrument, not by eyeball."""
    import multiprocessing as mp

    t1 = _ctl_spin(n)
    with mp.Pool(4) as p:
        t0 = time.perf_counter()
        p.map(_ctl_spin, [n] * 4)
        wall4 = time.perf_counter() - t0
    return round(t1 / wall4, 3)


def _median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def scaling_pairs(low: int) -> dict:
    """Interleaved low↔4·low pairs on two persistent workers, with a
    Spark-free host control before and after each pair.  A pair is
    CLEAN when both controls clear BENCH_CTL_MIN (it did not straddle
    an interference window); noisy pairs are retried up to
    BENCH_MAX_PAIRS and still recorded.  The committed number is the
    median over clean pairs when at least BENCH_PAIRS of them exist,
    else over every pair, with the controls published either way."""
    hi = 4 * low
    log(f"scaling: starting persistent workers local[{low}] / "
        f"local[{hi}], mult={SCALING_MULT}, {BENCH_PAIRS} pairs ...")
    w_lo = _Worker(low, SF_DIR, SCALING_MULT)
    w_hi = _Worker(hi, SF_DIR, SCALING_MULT)
    pairs: list[dict] = []
    try:
        ctl = _host_control()
        for i in range(BENCH_MAX_PAIRS):
            order = (w_lo, w_hi) if i % 2 == 0 else (w_hi, w_lo)
            got = {w.cores: w.run() for w in order}
            ctl_after = _host_control()
            eff = round((got[hi]["docs_per_s"]
                         / got[low]["docs_per_s"]) / 4.0, 3)
            clean = min(ctl, ctl_after) >= BENCH_CTL_MIN
            pairs.append({"eff": eff, "clean": clean,
                          "host_ctl": [ctl, ctl_after],
                          "lo": got[low], "hi": got[hi]})
            log(f"  pair {i}: lo {got[low]['wall_s']}s "
                f"hi {got[hi]['wall_s']}s eff={eff} "
                f"ctl={ctl}/{ctl_after}"
                + ("" if clean else "  [NOISY — host, not engine]"))
            ctl = ctl_after
            if sum(p["clean"] for p in pairs) >= BENCH_PAIRS:
                break
    finally:
        w_lo.close()
        w_hi.close()
    clean_pairs = [p for p in pairs if p["clean"]]
    basis = clean_pairs if len(clean_pairs) >= min(
        BENCH_PAIRS, len(pairs)) else pairs
    median = sorted(basis, key=lambda p: p["eff"])[len(basis) // 2]
    lo_run, hi_run = median["lo"], median["hi"]
    rate = {side: [p[side]["docs_per_s"] for p in basis]
            for side in ("lo", "hi")}
    return {
        "corpus_docs": hi_run["docs"],
        f"local[{low}]": lo_run,
        f"local[{hi}]": hi_run,
        "efficiency": median["eff"],
        "efficiency_method": "median over host-control-CLEAN "
                             "interleaved N<->4N pairs (target %d "
                             "clean; Spark-free CPU control >= "
                             "%.2f before AND after each pair), "
                             "both JVMs persistent, order "
                             "alternated per pair"
                             % (BENCH_PAIRS, BENCH_CTL_MIN),
        "per_pair_efficiency": [p["eff"] for p in pairs],
        "per_pair_clean": [p["clean"] for p in pairs],
        "per_pair_host_ctl": [p["host_ctl"] for p in pairs],
        "clean_pair_efficiency": [p["eff"] for p in basis],
        # ratio of per-side median rates: immune to a noise spike
        # landing inside one half of one pair
        "efficiency_ratio_of_medians": round(
            _median(rate["hi"]) / _median(rate["lo"]) / 4.0, 3),
        # host interference only ever slows a run, so the best rate per
        # side over every pair is that side's least-contaminated
        # throughput
        "efficiency_best_rates": round(
            max(p["hi"]["docs_per_s"] for p in pairs)
            / max(p["lo"]["docs_per_s"] for p in pairs) / 4.0, 3),
        # 1.0 = the added parallelism costs the kernel no CPU per doc
        "engine_efficiency_cpu_normalized": round(
            lo_run["kernel_cpu_ms_per_doc"]
            / hi_run["kernel_cpu_ms_per_doc"], 3)
        if hi_run["kernel_cpu_ms_per_doc"] else None,
        "gate": ">=0.8 per BASELINE.json north_rule (N->4N)",
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--serve":
        master, sf_dir, mult = sys.argv[2], sys.argv[3], int(sys.argv[4])
        serve_extraction_worker(master, sf_dir, mult)
        return

    from simple_html_parser_spark.runtime.session import (
        default_cores, get_spark, host_ram_bytes,
    )
    cpus = default_cores()
    host = {"cores": len(os.sched_getaffinity(0)),
            "ram_mb": host_ram_bytes() >> 20}
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    hi_cores = 4 * BENCH_LOW
    scaling = scaling_pairs(BENCH_LOW)
    scaling["note"] = (
        f"pair N={BENCH_LOW}->4N={hi_cores} on a {host['cores']}-core "
        "host" + ("; the 4N side and the 4-process host control both "
                  "use every core" if hi_cores >= host["cores"] else ""))

    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus)
    log("headline queries ...")
    queries = headline_queries(spark, SF_DIR)[0]
    # the headline total is the SUM of per-query best walls — the loop
    # wall would double-count the noise-guard retry trials
    total = round(sum(queries.values()), 3)
    spark.stop()

    hi = scaling[f"local[{hi_cores}]"]
    hist_path = ROOT / "BENCH" / "history.jsonl"
    with hist_path.open("a", encoding="utf-8") as f:
        f.write(json.dumps({
            "sf": sf,
            "host": host,
            "master": f"local[{cpus}]",
            "efficiency": scaling["efficiency"],
            "ratio_of_medians": scaling["efficiency_ratio_of_medians"],
            "pair": f"{BENCH_LOW}->{hi_cores}",
            "per_round": scaling["per_pair_efficiency"],
            "per_round_clean": scaling["per_pair_clean"],
            "eff_best_rates": scaling["efficiency_best_rates"],
            "per_round_host_ctl": scaling["per_pair_host_ctl"],
            "engine_efficiency":
                scaling["engine_efficiency_cpu_normalized"],
            "hi_mb_per_s": hi["mb_per_s"],
            "headline_total_s": total,
        }) + "\n")
    # best across runs at this sf on this host (host noise windows
    # make single runs unrepresentative)
    scaling["best_observed_efficiency"] = max(
        e["efficiency"] for e in map(json.loads, hist_path.read_text(
            encoding="utf-8").splitlines())
        if e.get("sf", 0.1) == sf and e.get("host") == host)
    print(json.dumps({
        "metric": "total headline-query wall seconds at "
                  f"local[{cpus}] (extraction + dedup + ANN + "
                  "textstats + relational)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "extraction_docs_per_sec": hi["docs_per_s"],
        "extraction_mb_per_sec": hi["mb_per_s"],
        "scaling": scaling,
    }))


if __name__ == "__main__":
    main()

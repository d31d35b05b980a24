"""Seeded end-to-end benchmark of the extraction engine.

    python3 perfbench/run.py --workload extract_text_heavy --seed 1 \
        --seconds 15 --trace 0

Run from the repository root.  One process, one Spark job at a time
(closed loop), ``local[n]`` with n = the host's cores.  The run
generates its table from ``--seed`` into a scratch directory under
``.perfbench/``, starts a session through ``runtime.session.get_spark``
with host-derived settings, warms up, then repeats the workload's job
for ``--seconds`` and checks every job's output against the closed-form
expectation (perfbench/corpus.py).  It prints one line
``perfbench: {...}`` with the full run record, then the result object
as the last line.  ``--trace 1`` adds Spark's event log, spans around
each layer call and an in-process replay of the kernel, and reports
the per-layer metrics instead.  Workloads and metrics are described in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".perfbench"

N_DOCS = {
    "extract_text_heavy": 2000,
    "near_dup_lsh": 800,
}
# documents replayed in-process per traced run (first batches of the
# table), about a second of one core for each replayed function
REPLAY_DOCS = 600
MIN_TIMED_JOBS = 2
HOST_CONTROL_N = 100_000


# ---- workloads --------------------------------------------------------------


class Workload:
    """One named job over the generated table, with its correctness
    check.  ``run`` returns what the check needs; ``failures`` counts
    failed units against ``attempted``."""

    input_col = "html"
    # full passes after the first batch before timing starts: pass time
    # and CPU time fall over the first passes while the JVM compiles
    # hot code; the few timed passes still on that slope are too few to
    # move the median over passes
    warmup_passes = 8

    def __init__(self, name: str, seed: int) -> None:
        import corpus

        self.name = name
        self.corpus = {
            "extract_text_heavy": corpus.text_heavy,
            "near_dup_lsh": corpus.near_dup,
        }[name](seed, N_DOCS[name])
        self.expect_dir = ""
        self._diagnosed: dict = {}

    def per_url_expect(self) -> dict:
        """url -> expected string, for the per-document diagnosis."""
        return {}

    def write_expect(self, expect_dir: Path) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        exp = self.per_url_expect()
        if exp:
            pq.write_table(
                pa.table({"url": list(exp), "expect": list(exp.values())}),
                expect_dir / "expect.parquet")
        self.expect_dir = str(expect_dir)

    def attempted(self) -> int:
        return self.corpus.n_docs

    def failures(self, spark, src: str, result) -> int:
        key = repr(result)
        if key not in self._diagnosed:
            self._diagnosed[key] = self._failures(spark, src, result)
        return self._diagnosed[key]


class Extract(Workload):
    """extract_documents with the PARITY profile; per-url text is
    checked through an order-independent xxhash64 digest."""

    def __init__(self, name: str, seed: int) -> None:
        from simple_html_parser_spark.kernel.extract import PARITY

        super().__init__(name, seed)
        self.profile = PARITY
        self.expect_digest = None

    def per_url_expect(self) -> dict:
        return self.corpus.expect_text

    def run(self, spark, src: str, tracer):
        from pyspark.sql import functions as F

        from simple_html_parser_spark.operators.extraction import (
            extract_documents,
        )
        with tracer.span("operator.extract_documents",
                         docs=self.corpus.n_docs):
            out = extract_documents(spark.read.parquet(src),
                                    profile=self.profile)
            r = out.agg(F.count("*"), F.count("error"),
                        F.bit_xor(F.xxhash64("url", "extracted_text")),
                        F.collect_list("parse_ms")).first()
        return (r[0], r[1], r[2]), r[3]

    def _failures(self, spark, src, result) -> int:
        from pyspark.sql import functions as F

        from simple_html_parser_spark.operators.extraction import (
            extract_documents,
        )
        exp = spark.read.parquet(self.expect_dir)
        if self.expect_digest is None:
            self.expect_digest = exp.agg(
                F.bit_xor(F.xxhash64("url", "expect"))).first()[0]
        if result == (self.corpus.n_docs, 0, self.expect_digest):
            return 0
        out = extract_documents(spark.read.parquet(src), profile=self.profile)
        return out.join(exp, "url", "full_outer").where(
            F.col("error").isNotNull()
            | ~F.col("extracted_text").eqNullSafe(F.col("expect"))).count()


class NearDup(Workload):
    """dedup_minhash_lsh over the table's text; the planted pair set
    is the expectation, and a failed unit is a pair missed, spurious or
    with another Jaccard."""

    input_col = "text"
    # a pass is ~3 s, mostly planning and scheduling its 20+ stages, so
    # fewer documents would not make it much shorter
    warmup_passes = 4

    def attempted(self) -> int:
        return len(self.corpus.expect_pairs)

    @staticmethod
    def docs(spark, src: str):
        from pyspark.sql import functions as F

        return spark.read.parquet(src).select(
            F.element_at(F.split("url", "/"), -1).cast("long")
            .alias("doc_id"), "text")

    def run(self, spark, src: str, tracer):
        from simple_html_parser_spark.operators.dedup import dedup_minhash_lsh

        handles: list = []
        with tracer.span("operator.dedup_minhash_lsh",
                         docs=self.corpus.n_docs):
            rows = dedup_minhash_lsh(self.docs(spark, src),
                                     unpersist_handles=handles).collect()
        for h in handles:
            h.unpersist()
        return tuple(sorted((r[0], r[1], r[2]) for r in rows)), None

    def _failures(self, spark, src, result) -> int:
        want = self.corpus.expect_pairs
        got = {(a, b): j for a, b, j in result}
        missed = sum(1 for p, j in want.items()
                     if p not in got or abs(got[p] - j) > 1e-6)
        return missed + sum(1 for p in got if p not in want)


def make_workload(name: str, seed: int) -> Workload:
    if name == "extract_text_heavy":
        return Extract(name, seed)
    return NearDup(name, seed)


# ---- session --------------------------------------------------------------


def start_spark(run_dir: Path, trace: bool):
    """A session sized from the host; everything it writes stays in
    ``run_dir``.  The heap is committed and touched at start, so how
    far the JVM happens to grow its heap before a collection does not
    move ``peak_rss_mb``; what the heap holds is in the traced run."""
    from layers import driver_memory_mb, host_cores

    from simple_html_parser_spark.runtime.session import get_spark

    mem = driver_memory_mb()
    confs = {
        "spark.driver.memory": f"{mem}m",
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData "
            f"-Xms{mem}m -XX:+AlwaysPreTouch",
    }
    if trace:
        (run_dir / "events").mkdir()
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir / 'events'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return get_spark("perfbench", master=f"local[{host_cores()}]",
                     extra_confs=confs)


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _purge_dead_runs() -> None:
    for d in OUT.glob("run-*"):
        try:
            os.kill(int(d.name[4:]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            continue


# ---- one run ----------------------------------------------------------------


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def run(args) -> dict:
    import corpus
    import layers
    from bench import _ctl_spin, _host_control

    def control():
        """(1->4-process scaling, one-core spin seconds): contention
        and speed of the host right now."""
        return _host_control(HOST_CONTROL_N), _ctl_spin(HOST_CONTROL_N)

    control_before = control()
    tracer = layers.Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    _purge_dead_runs()
    run_dir = OUT / f"run-{os.getpid()}"
    for sub in ("table", "expect", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override local.dir
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = str(run_dir / "tmp")
    spark = sampler = None
    try:
        wl = make_workload(args.workload, args.seed)
        paths = corpus.write_parquet(wl.corpus, run_dir / "table")
        wl.write_expect(run_dir / "expect")
        src = str(run_dir / "table")
        in_mb = wl.corpus.input_bytes(wl.input_col) / layers.MB
        n_docs = wl.corpus.n_docs

        sampler = layers.RssSampler().start()
        t_setup = time.perf_counter()
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = start_spark(run_dir, bool(args.trace))
            start_s = time.perf_counter() - t0
        with tracer.span("session.first_batch"):
            t0 = time.perf_counter()
            wl.run(spark, str(paths[0]), tracer)
            first_batch_s = time.perf_counter() - t0
        warm = []
        for _ in range(wl.warmup_passes):
            t0 = time.perf_counter()
            wl.run(spark, src, tracer)
            warm.append(time.perf_counter() - t0)
        setup_s = time.perf_counter() - t_setup

        spark.sparkContext.setJobGroup("timed", "timed passes")
        walls, cpus, results, doc_ms = [], [], [], []
        t_start = time.perf_counter()
        while (len(walls) < MIN_TIMED_JOBS
               or time.perf_counter() - t_start < args.seconds):
            c0 = layers.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            result, ms = wl.run(spark, src, tracer)
            walls.append(time.perf_counter() - t0)
            cpus.append(layers.tree_cpu_s(os.getpid()) - c0)
            results.append(result)
            doc_ms.extend(ms or ())
        spark.sparkContext.setJobGroup("checks", "checks and layers")
        sampler.stop()

        failed = sum(wl.failures(spark, src, r) for r in results)
        attempted = wl.attempted() * len(results)
        docs_per_s = _median([n_docs / w for w in walls])
        metrics = {
            "setup_s": (setup_s, "s"),
            "docs_per_s": (docs_per_s, "1/s"),
            "mb_per_s": (_median([in_mb / w for w in walls]), "MB/s"),
            "peak_rss_mb": (sampler.peak / layers.MB, "MB"),
        }
        extra = {
            "doc_ms_p50": _pct(doc_ms, 0.50) if doc_ms else None,
            "doc_ms_p99": _pct(doc_ms, 0.99) if doc_ms else None,
            "doc_ms_samples": len(doc_ms),
            "first_batch_s": first_batch_s, "warmup_walls_s": warm,
            "job_walls_s": walls, "job_cpu_s": cpus,
        }
        if args.trace:
            metrics = trace_layers(spark, wl, src, paths, tracer, walls,
                                   start_s, first_batch_s, extra)
            failed += extra.get("replay_failed", 0)
            attempted += extra.get("replay_docs", 0)
        extra["failed_share"] = failed / attempted
        stop_spark(spark)
        spark = None
        if args.trace:
            metrics.update(_stage_layer(run_dir / "events", len(walls)))
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    control_after = control()

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": layers.host_cores(),
        "driver_memory_mb": layers.driver_memory_mb(),
        "docs": n_docs, "input_mb": in_mb, "corpus": wl.corpus.props,
        "host_control_before": control_before,
        "host_control_after": control_after,
        "attempted": attempted, "failed": failed,
        **extra,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    if args.trace:
        untraced = [r["metrics"]["docs_per_s"] for r in _history()
                    if r["workload"] == args.workload and not r["trace"]]
        record["trace_overhead"] = (
            1 - metrics["trace.docs_per_s"][0] / statistics.median(untraced)
            if untraced else None)
        tracer.write(OUT / f"trace-{args.workload}-seed{args.seed}.json")
    OUT.mkdir(exist_ok=True)
    with (OUT / "runs.jsonl").open("a") as fh:
        fh.write(json.dumps(record) + "\n")
    return {
        "record": record,
        "result": {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        },
    }


def _history() -> list[dict]:
    try:
        lines = (OUT / "runs.jsonl").read_text().splitlines()
    except OSError:
        return []
    return [json.loads(line) for line in lines if line.strip()]


def _stage_layer(event_dir: Path, passes: int) -> dict:
    import layers

    units = {"spark.stages": "count", "spark.tasks": "count",
             "spark.task_skew": "ratio"}
    out = {}
    for k, v in layers.stage_metrics(event_dir, "timed", passes).items():
        unit = units.get(k, "s" if k.endswith("_s") else "MB")
        out[k] = (v, unit)
    return out


# ---- traced layers ----------------------------------------------------------


def trace_layers(spark, wl, src, paths, tracer, walls, start_s,
                 first_batch_s, extra) -> dict:
    """Per-layer metrics for one traced run.  A layer that is not on
    this workload's path reads 0, and ``extra['absent']`` says why."""
    import layers

    n_docs = wl.corpus.n_docs
    docs_per_s = _median([n_docs / w for w in walls])
    cols = ["url", wl.input_col]
    scans = []
    for _ in range(3):
        with tracer.span("scan"):
            t0 = time.perf_counter()
            spark.read.parquet(src).select(*cols).write.format("noop") \
                .mode("overwrite").save()
            scans.append(time.perf_counter() - t0)

    m = {
        "session.start_s": (start_s, "s"),
        "session.first_batch_s": (first_batch_s, "s"),
        "scan.s": (_median(scans), "s"),
        "trace.docs_per_s": (docs_per_s, "1/s"),
    }
    absent = extra["absent"] = {}
    kernel_keys = [
        ("kernel.decode_ms_per_doc", "ms"),
        ("kernel.tokenize_ms_per_doc", "ms"),
        ("kernel.tokenize_mb_per_s", "MB/s"),
        ("kernel.nodes_per_doc", "count"),
        ("kernel.extract_ms_per_doc", "ms"),
        ("kernel.kept_text_ratio", "ratio"),
        ("extraction.fn_ms_per_doc", "ms"),
        ("extraction.boundary_ms_per_doc", "ms"),
        ("extraction.pipeline_eff", "ratio"),
        ("extraction.doc_ms_p50", "ms"),
        ("extraction.doc_ms_p99", "ms"),
        ("nodes.emit_ms_per_doc", "ms"),
        ("extraction.out_rows_per_doc", "count"),
        ("extraction.out_bytes_per_doc", "B"),
    ]
    dedup_keys = [("dedup.signature_s", "s"), ("dedup.lsh_s", "s"),
                  ("dedup.pairs", "count")]
    for k, u in kernel_keys + dedup_keys:
        m[k] = (0.0, u)

    if isinstance(wl, NearDup):
        from simple_html_parser_spark.operators.dedup import (
            minhash_signatures,
        )
        with tracer.span("dedup.minhash_signatures", docs=n_docs):
            t0 = time.perf_counter()
            minhash_signatures(wl.docs(spark, src)).write.format("noop") \
                .mode("overwrite").save()
            m["dedup.signature_s"] = (time.perf_counter() - t0, "s")
        m["dedup.lsh_s"] = (_median(walls), "s")
        m["dedup.pairs"] = (float(len(wl.corpus.expect_pairs)), "count")
        for k, _ in kernel_keys:
            absent[k] = "no Python stage runs in near_dup_lsh"
        return m

    from simple_html_parser_spark.operators import extraction as ext

    batches, n = layers.read_batches(
        paths, REPLAY_DOCS,
        int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")))
    r = layers.replay_kernel(
        tracer, "extract", batches, n,
        lambda: ext._make_extract_fn(wl.profile), wl.profile)
    # parse_nodes has no workload of its own: its per-partition function
    # is replayed on the same pages, and the node table it builds is
    # checked against the planted (type, name) counts
    nodes = layers.replay_kernel(
        tracer, "nodes", batches, n,
        lambda: ext._make_nodes_fn(ext.MAX_NODES_PER_DOC))
    extra["replay_failed"] = wl.corpus.node_failures(
        [u for b in batches for u in b.column("url").to_pylist()],
        nodes["out"])
    m.update({
        "kernel.decode_ms_per_doc": (r["decode_ms"], "ms"),
        "kernel.tokenize_ms_per_doc": (r["tokenize_ms"], "ms"),
        "kernel.tokenize_mb_per_s": (r["tokenize_mb_per_s"], "MB/s"),
        "kernel.nodes_per_doc": (r["nodes_per_doc"], "count"),
        "kernel.extract_ms_per_doc": (r["extract_ms"], "ms"),
        "kernel.kept_text_ratio": (r["kept_ratio"], "ratio"),
        "extraction.fn_ms_per_doc": (r["fn_ms"], "ms"),
        "extraction.boundary_ms_per_doc": (
            r["fn_ms"] - r["decode_ms"] - r["tokenize_ms"] - r["extract_ms"],
            "ms"),
        "extraction.pipeline_eff": (
            docs_per_s / (layers.host_cores() * r["fn_docs_per_s"]), "ratio"),
        "extraction.doc_ms_p50": (extra["doc_ms_p50"], "ms"),
        "extraction.doc_ms_p99": (extra["doc_ms_p99"], "ms"),
        "nodes.emit_ms_per_doc": (
            nodes["fn_ms"] - nodes["decode_ms"] - nodes["tokenize_ms"], "ms"),
        "extraction.out_rows_per_doc": (nodes["out_rows_per_doc"], "count"),
        "extraction.out_bytes_per_doc": (nodes["out_bytes_per_doc"], "B"),
    })
    extra["replay_docs"] = n
    for k, _ in dedup_keys:
        absent[k] = "no dedup runs in this workload"
    absent["spark.persisted_peak_mb"] = "nothing is persisted"
    return m


# ---- entry ------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(N_DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "simple_html_parser_spark").is_dir() \
            or not (ROOT / "bench.py").is_file():
        print("perfbench: run from a checkout of the repository; the "
              "package under test is missing", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    out = run(args)
    print("perfbench: " + json.dumps(out["record"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Host settings, resource sampling and per-layer tracing for the
benchmark.

Everything here observes the package from outside: spans wrap calls
into its public functions, Spark's own event log supplies the stage
metrics, and the kernel layers are timed by replaying the operator's
per-partition function and the kernel calls in this process.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

MB = 1e6


# ---- host-derived settings ----------------------------------------------


def host_cores() -> int:
    """What ``nproc`` reports, without its OMP_NUM_THREADS override."""
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:  # a cgroup limit below physical RAM is the real ceiling
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit.isdigit():
            ram = min(ram, int(limit))
    except OSError:
        pass
    return ram


def driver_memory_mb() -> int:
    """An eighth of host RAM, between 1 and 4 GiB: the corpora are tens
    of MB, and the host is shared."""
    return max(1024, min(4096, host_ram_bytes() // 8 // 2**20))


# ---- process-tree memory --------------------------------------------------


def _stat(pid: int | str) -> list[str]:
    """/proc/<pid>/stat fields from field 3 (state) on."""
    stat = Path(f"/proc/{pid}/stat").read_text()
    return stat[stat.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants (the driver JVM and the Python
    workers descend from the benchmark process)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(_stat(d)[1]), []).append(int(d))
            except OSError:
                continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _tree(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s(root: int) -> float:
    """CPU time of the process tree, including reaped children."""
    ticks = 0
    for pid in _tree(root):
        try:
            ticks += sum(int(x) for x in _stat(pid)[11:15])
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and counts.  Disabled,
    ``span`` records nothing."""

    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield counts
            return
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None, "counts": counts}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield counts
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


# ---- Spark event log --------------------------------------------------------

_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"


def stage_metrics(event_dir: Path, job_group: str, passes: int) -> dict:
    """Totals over the stages of the jobs run under ``job_group``,
    read from the event log Spark wrote into ``event_dir``, per pass
    of the workload (one pass may run several Spark jobs)."""
    events = []
    for f in sorted(event_dir.iterdir()):
        with f.open() as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    stage_job: dict[int, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.jobGroup.id") == job_group:
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
    tasks: dict[int, list[dict]] = {}
    stages = 0
    blocks: dict[str, int] = {}  # cached RDD block -> bytes held now
    cached = persisted = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            tasks.setdefault(e["Stage ID"], []).append(e)
        elif (kind == "SparkListenerStageCompleted"
              and e["Stage Info"]["Stage ID"] in stage_job):
            stages += 1
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                cached += size - blocks.get(info["Block ID"], 0)
                blocks[info["Block ID"]] = size
                persisted = max(persisted, cached)
    tot = {"run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0, "sw": 0.0,
           "sr": 0.0, "spill": 0.0, "py_in": 0.0, "py_out": 0.0}
    n_tasks = 0
    skews = []
    per_job_longest: dict[int, tuple[float, list[float]]] = {}
    for sid, evs in tasks.items():
        runs = []
        for e in evs:
            m = e.get("Task Metrics") or {}
            n_tasks += 1
            run = m.get("Executor Run Time", 0)
            runs.append(run)
            tot["run_ms"] += run
            tot["cpu_ns"] += m.get("Executor CPU Time", 0)
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            tot["sw"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            tot["sr"] += (sr.get("Remote Bytes Read", 0)
                          + sr.get("Local Bytes Read", 0))
            tot["spill"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PY_IN:
                    tot["py_in"] += float(acc.get("Update", 0))
                elif acc.get("Name") == _PY_OUT:
                    tot["py_out"] += float(acc.get("Update", 0))
        job = stage_job[sid]
        if sum(runs) > per_job_longest.get(job, (-1.0, []))[0]:
            per_job_longest[job] = (float(sum(runs)), runs)
    for _, runs in per_job_longest.values():
        med = statistics.median(runs)
        if med > 0:
            skews.append(max(runs) / med)
    return {
        "spark.stages": stages / passes,
        "spark.tasks": n_tasks / passes,
        "spark.executor_run_s": tot["run_ms"] / 1e3 / passes,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / passes,
        "spark.gc_s": tot["gc_ms"] / 1e3 / passes,
        "spark.shuffle_write_mb": tot["sw"] / MB / passes,
        "spark.shuffle_read_mb": tot["sr"] / MB / passes,
        "spark.spill_mb": tot["spill"] / MB / passes,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.python_in_mb": tot["py_in"] / MB / passes,
        "spark.python_out_mb": tot["py_out"] / MB / passes,
        "spark.persisted_peak_mb": persisted / MB,
    }


# ---- in-process kernel replay ---------------------------------------------


def read_batches(paths: list[Path], max_docs: int, batch_rows: int):
    """The run's (url, html) Arrow batches as the operator receives
    them, up to ``max_docs`` documents."""
    import pyarrow.parquet as pq

    out, n = [], 0
    for p in paths:
        for b in pq.read_table(p, columns=["url", "html"]).to_batches(
                max_chunksize=batch_rows):
            out.append(b)
            n += b.num_rows
            if n >= max_docs:
                return out, n
    return out, n


def replay_kernel(tracer: Tracer, op: str, batches, n_docs: int, make_fn,
                  profile=None) -> dict:
    """One-core replay of the operator's per-partition function over
    ``batches``, then of decode, ``parse_html`` and (given a profile)
    ``extract`` over the same documents.  ``out`` holds the function's
    output batches."""
    from simple_html_parser_spark.kernel.extract import extract
    from simple_html_parser_spark.kernel.tokenizer import parse_html
    from simple_html_parser_spark.operators.extraction import (
        MAX_NODES_PER_DOC,
    )

    fn = make_fn()
    for _ in fn(iter(batches[:1])):  # warm imports and the tag memo
        pass
    with tracer.span(f"operator.{op}_fn_replay", docs=n_docs):
        t0 = time.perf_counter()
        out = list(make_fn()(iter(batches)))
        fn_s = time.perf_counter() - t0
    out_rows = sum(ob.num_rows for ob in out)
    out_bytes = sum(ob.nbytes for ob in out)
    raws = [r for b in batches for r in b.column("html").to_pylist()]
    in_bytes = sum(len(r) for r in raws)
    with tracer.span(f"kernel.{op}_decode", docs=n_docs):
        t0 = time.perf_counter()
        htmls = [bytes(r).decode("utf-8", "replace") for r in raws]
        decode_s = time.perf_counter() - t0
    tok_s = ext_s = 0.0
    nodes = cands = kept = 0
    with tracer.span(f"kernel.{op}_parse_and_extract", docs=n_docs):
        for h in htmls:
            t0 = time.perf_counter()
            tree = parse_html(h, max_nodes=MAX_NODES_PER_DOC)
            t1 = time.perf_counter()
            tok_s += t1 - t0
            nodes += len(tree.type)
            if profile is not None:
                res = extract(tree, profile)
                ext_s += time.perf_counter() - t1
                cands += res.n_text_nodes
                kept += len(res.spans)
    per = 1e3 / n_docs
    return {
        "fn_ms": fn_s * per, "decode_ms": decode_s * per,
        "tokenize_ms": tok_s * per, "extract_ms": ext_s * per,
        "tokenize_mb_per_s": in_bytes / MB / tok_s,
        "nodes_per_doc": nodes / n_docs,
        "kept_ratio": kept / cands if cands else 0.0,
        "out_rows_per_doc": out_rows / n_docs,
        "out_bytes_per_doc": out_bytes / n_docs,
        "fn_docs_per_s": n_docs / fn_s,
        "out": out,
    }

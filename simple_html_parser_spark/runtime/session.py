"""SparkSession factory with host-derived defaults, and the cache
policy (``persist`` / ``release``) every operator and driver shares.

Tuned for the extraction hot path: Arrow transport on, modest
records-per-batch (pages can be MBs — byte-capping happens inside the
kernel stage too), AQE for runtime coalescing/skew handling.  Cores
and driver memory come from the host (``default_cores``,
``driver_memory``).  Shuffle goes to ``spark.local.dir`` on tmpfs,
but an exported ``SPARK_LOCAL_DIRS`` environment variable overrides
that setting (Spark reads it first), so a test run that exports it
shuffles there instead.  On a real cluster the same code ships via
``spark-submit --py-files <package.zip>`` (see
tools/package_pyfiles.py).
"""

from __future__ import annotations

import gc
import os
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def host_ram_bytes() -> int:
    """Physical RAM, capped by the cgroup's ``memory.max``."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit.isdigit():
            ram = min(ram, int(limit))
    except OSError:
        pass
    return ram


def driver_memory() -> str:
    """Half of host RAM (``host_ram_bytes``), never more than 48g.  In
    local mode the driver JVM hosts every executor thread (the 1g
    default heap GC-thrashes at 32 threads, measured 4x slowdown), and
    the tmpfs shuffle dir below lives in the other half."""
    return f"{min(48 << 10, host_ram_bytes() // 2 >> 20)}m"


def persist(df: DataFrame, handles: list | None = None) -> DataFrame:
    """``df`` persisted at MEMORY_AND_DISK (at scale it spills rather
    than recomputes); appended to ``handles`` when that is a list, so
    the caller can ``unpersist`` it once the result is materialized.

    The rule: persist a frame that has more than one consumer in a
    plan.  Catalyst shares nothing across consumers — union branches,
    the two sides of a pair join, a df-cut and the join it prunes — so
    without it the frame's whole subtree re-runs per consumer.
    Persist keeps lineage; loop state, and frames that must outlive
    their source, use ``localCheckpoint`` instead, which cuts it.

    One exception: the banded frames of ``dedup_simhash`` and
    ``embedding_srp_lsh_dedup`` have several consumers yet stay eagerly
    ``localCheckpoint``ed, because recomputing them re-runs an
    interpreted fold (simhash r6 A/B: 4.3-5.0 s -> 2.2-2.5 s), and
    ``persist`` in their place measured more jobs at sf0.01 (simhash
    5 more, SRP 1 more)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if handles is not None:
        handles.append(df)
    return df


def release(spark: SparkSession) -> None:
    """Drop what earlier queries cached, between queries of one
    session: ``clearCache()`` unpersists every persisted frame, then a
    Python and a JVM GC let ContextCleaner drop the ``localCheckpoint``
    blocks whose handles are gone (it acts only on JVM GC).  Left in
    place, both accrete executor memory and slow every later query."""
    spark.catalog.clearCache()
    gc.collect()
    try:
        spark._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass


DEFAULT_CONFS = {
    # Shuffle/spill on tmpfs, NOT the VM's virtual disk.  The sandbox
    # disk sustains ~25 MB/s fsync writes; a long session pushes tens
    # of GB of shuffle data through the page cache, background
    # writeback falls behind, and once the dirty-page ratio trips,
    # EVERY write blocks at disk speed — measured as episodic 5-10x
    # windows (curate_web 6s → 110s; 1-task jobs with 14s scheduler
    # gaps and 2s GC inflation) that a pure-CPU host control cannot
    # see.  Real executors shuffle to local NVMe; tmpfs is the honest
    # stand-in here (sf0.1 shuffles are a few GB, inside the half of
    # RAM that driver_memory leaves to it).
    "spark.local.dir": "/dev/shm/spark-local",
    "spark.driver.maxResultSize": "4g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pages can be large; keep Arrow batches modest so a batch of giant
    # documents fits executor memory (byte-capped again in-kernel).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.driver.host": "127.0.0.1",
    "spark.ui.showConsoleProgress": "false",
}


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on (what ``nproc`` reports without an OMP_NUM_THREADS cap)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "simple-html-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    if master is None:
        master = f"local[{default_cores()}]"
    if shuffle_partitions is None:
        shuffle_partitions = _parallelism_of(master) or 32

    # ensure executor python workers can import this package regardless
    # of the driver's cwd (workers inherit the driver's PYTHONPATH env)
    pkg_root = str(Path(__file__).resolve().parents[2])
    if pkg_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + os.environ["PYTHONPATH"]
            if os.environ.get("PYTHONPATH") else pkg_root)

    confs = {**DEFAULT_CONFS, "spark.driver.memory": driver_memory(),
             **(extra_confs or {})}
    # tmpfs local dir: ensure the root exists and purge leaked subdirs
    # from crashed sessions (clean shutdowns remove their own; kill -9
    # leaks RAM-backed files that would otherwise live until reboot)
    local_dir = confs.get("spark.local.dir")
    if local_dir and local_dir.startswith("/dev/shm"):
        try:
            confs["spark.local.dir"] = _prepare_tmpfs_local_dir(local_dir)
        except OSError:
            confs.pop("spark.local.dir")  # fall back to /tmp

    builder = SparkSession.builder.appName(app_name).master(master)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _prepare_tmpfs_local_dir(root: str) -> str:
    """Per-PID tmpfs local dir: each driver gets `root/pid-<pid>`, and
    startup purges sibling `pid-*` dirs whose owning process is DEAD
    (kill -9 leaks RAM-backed shuffle files until reboot).  Liveness,
    not mtime, decides — a long-lived concurrent session with a stale
    blockmgr mtime keeps its live shuffle dirs.  Pre-PID-scheme leaked
    dirs (no pid- prefix) still fall back to a 6h mtime purge."""
    import shutil
    import time

    os.makedirs(root, exist_ok=True)
    cutoff = time.time() - 6 * 3600
    for entry in os.scandir(root):
        if not entry.is_dir():
            continue
        try:
            if entry.name.startswith("pid-"):
                pid = int(entry.name[4:])
                if pid != os.getpid() and not _pid_alive(pid):
                    shutil.rmtree(entry.path, ignore_errors=True)
            elif entry.stat().st_mtime < cutoff:
                shutil.rmtree(entry.path, ignore_errors=True)
        except (OSError, ValueError):
            continue
    mine = os.path.join(root, f"pid-{os.getpid()}")
    os.makedirs(mine, exist_ok=True)
    return mine


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else — leave it


def _parallelism_of(master: str) -> int | None:
    if master.startswith("local["):
        inner = master[6:-1]
        if inner == "*":
            return os.cpu_count()
        try:
            return int(inner)
        except ValueError:
            return None
    return None

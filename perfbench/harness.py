"""Session, fixtures, memory and result plumbing shared by the workloads."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from stats import median

# per-layer metric names and units, in report order; a layer a workload
# does not exercise reports 0
LAYER_UNITS = {
    "dedup.wall_s": "s", "dedup.task_s": "s", "dedup.cpu_s": "s",
    "dedup.shuffle_write_mb": "MB", "dedup.spill_mb": "MB",
    "dedup.max_task_s": "s", "dedup.winners_per_event": "ratio",
    "write.wall_s": "s", "write.task_s": "s", "write.cpu_s": "s",
    "write.out_mb": "MB", "write.files": "count",
    "merge.self_s": "s",
    "commit.wall_ms": "ms", "commit.snapshot_kb": "KB",
    "batch.jobs": "count", "batch.stages": "count", "batch.tasks": "count",
    "batch.apply_s": "s", "batch.driver_s": "s",
    "stream.trigger_overhead_s": "s", "stream.events_per_batch": "count",
    "stream.backlog_chunks_end": "count", "gen.late_max_s": "s",
    "compact.wall_s": "s", "compact.task_s": "s", "compact.rewritten_mb": "MB",
    "read.delta_files": "count", "read.files_opened": "count",
    "read.task_s": "s", "read.rows_scanned_per_row_returned": "ratio",
    "session.start_s": "s",
    "trace.overhead_ratio": "ratio",
}


# about 15 MB each: enough for every (workload, seed) of a ten-seed sweep
CACHE_ENTRIES = 32

# every file the benchmark writes lives under this checkout directory
WORK_DIR = ".perfbench"
# driver heap cap (the engine default is 48g); the heap starts small and
# grows, so peak RSS follows what the engine keeps
DRIVER_MEMORY = "2g"
# a fixed young generation: G1 otherwise sizes it from GC pause times,
# which follow the host's speed, and peak RSS then follows the host too;
# old-gen growth, non-heap and Python memory still show in the figure
YOUNG_GEN = "384m"
SHUFFLE_PARTITIONS_PER_CORE = 2


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)
    named: list = field(default_factory=list)  # (name, value, unit, n)
    layer_values: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    @property
    def layers(self) -> dict:
        return {
            k: (float(self.layer_values.get(k, 0.0)), u)
            for k, u in LAYER_UNITS.items()
        }


def width() -> int:
    return len(os.sched_getaffinity(0))


class Context:
    def __init__(self, args, root: str, run_dir: str):
        self.args = args
        self.root = root
        self.run_dir = run_dir
        self.cache_dir = os.path.join(root, WORK_DIR, "cache")
        self.spark = None
        self.session_start_s = 0.0
        self.tracer = None
        shutil.rmtree(run_dir, ignore_errors=True)  # a reused pid's leftovers
        os.makedirs(run_dir)
        os.makedirs(self.cache_dir, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # ------------------------------------------------------------ session
    def start_session(self) -> None:
        """Fit the engine's session to the host through ``get_spark``
        arguments and environment: width = usable cores, a small fixed
        heap cap, every scratch directory inside the checkout."""
        n = width()
        tmp = self.path("tmp")
        local = self.path("spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(n),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
        )
        tempfile.tempdir = tmp
        from gear5_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n * SHUFFLE_PARTITIONS_PER_CORE,
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
                f" -Xmn{YOUNG_GEN}"
                # no hsperfdata file outside the checkout
                " -XX:-UsePerfData",
            },
        )
        self.spark.range(1).count()
        self.session_start_s = time.perf_counter() - t0
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()

    def traced(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.active = on

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = name

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM plus this Python process
        (``VmHWM`` from ``/proc``)."""
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(int(jvm)) + _vm_hwm_kb(os.getpid())) / 1024.0

    def close(self) -> None:
        """Stop the session and its JVM and wait for the JVM to exit."""
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        self.spark = None

    # ----------------------------------------------------------- fixtures
    def fixture(self, events: int, chunk_rows: int, convs: int) -> tuple[str, dict]:
        """Change log for this run's seed, generated once per
        (seed, size) and reused; the engine sees only these files. The
        generator runs in its own process, so its memory never counts in
        this process's peak RSS, cached or not."""
        key = f"log-s{self.args.seed}-e{events}-c{chunk_rows}-k{convs}"
        out = os.path.join(self.cache_dir, key)
        if not os.path.exists(os.path.join(out, "_manifest.json")):
            tmp = out + f".tmp{os.getpid()}"
            subprocess.run(
                [sys.executable, os.path.join(self.root, "gen_fixtures.py"), tmp,
                 "--events", str(events), "--convs", str(convs),
                 "--chunk-rows", str(chunk_rows), "--seed", str(self.args.seed),
                 "--overwrite"],
                check=True, stdout=subprocess.DEVNULL,
            )
            shutil.rmtree(out, ignore_errors=True)
            os.rename(tmp, out)
        os.utime(out)
        self._evict()
        with open(os.path.join(out, "_manifest.json")) as fh:
            return out, json.load(fh)

    def _evict(self) -> None:
        """Keep the ``CACHE_ENTRIES`` most recently used logs."""
        entries = sorted(
            (os.path.join(self.cache_dir, e) for e in os.listdir(self.cache_dir)
             if ".tmp" not in e),
            key=os.path.getmtime,
        )
        for old in entries[:-CACHE_ENTRIES]:
            shutil.rmtree(old, ignore_errors=True)


def chunk_paths(log_dir: str) -> list[str]:
    return sorted(
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if f.startswith("chunk-") and f.endswith(".parquet")
    )


def stage_chunks(paths: list[str], dst: str, mtime0: float | None = None,
                 per_file: int = 1) -> None:
    """Copy chunks into ``dst``, ``per_file`` consecutive chunks to a
    file, each file named after its first chunk; with ``mtime0`` give the
    files strictly increasing mtimes in LSN order, so the file source
    batches them deterministically."""
    os.makedirs(dst, exist_ok=True)
    for i in range(0, len(paths), per_file):
        group = paths[i:i + per_file]
        out = os.path.join(dst, os.path.basename(group[0]))
        if len(group) == 1:
            shutil.copyfile(group[0], out)
        else:
            pq.write_table(pa.concat_tables(pq.read_table(p) for p in group), out)
        if mtime0 is not None:
            t = mtime0 + i // per_file
            os.utime(out, (t, t))


def _vm_hwm_kb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    return 0.0


def med(values) -> float:
    values = [v for v in values if v is not None]
    return median(values) if values else 0.0

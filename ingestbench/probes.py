"""Measurement plumbing that lives outside the package under test.

- ``Tracer`` wraps public functions at the attribute the engine calls them
  through and records one span per call: (name, op id, start, end). Spans
  stay in memory; the run summarises them when it ends.
- ``SparkStats`` reads per-stage metrics from Spark's status store for the
  jobs an operation started. It runs no Spark job.
- ``proc_cpu_s`` / ``proc_hwm_mb`` read ``/proc`` for the driver process,
  its JVM and the JVM's descendants; ``host_cpu_ticks`` reads the machine's
  stolen CPU time, which a run logs next to its window.
- ``lake_files`` lists a lake's files and the ones its current snapshots
  reference, read from the manifests on disk.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

# ----------------------------------------------------------------- spans


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, str, float, float]] = []
        #: id of the operation (batch or query pass) being measured
        self.op = "setup"
        self.enabled = False
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            op, t0 = tracer.op, time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                # list.append is atomic: spans also arrive from the engine's
                # per-stream merge threads
                tracer.spans.append((name, op, t0, time.perf_counter()))

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install_engine(self) -> None:
        """Spans at the engine's call sites: its entry points, the shredder
        and schema compiler it imports by name, the merge operators it calls
        through the module ``M``, and the catalog methods."""
        from singer_target_clickhouse_spark import engine
        from singer_target_clickhouse_spark.lake import merge
        from singer_target_clickhouse_spark.lake.catalog import LakeCatalog

        self.wrap(engine.SingerEngine, "apply_lines", "engine.apply")
        self.wrap(engine.SingerEngine, "finalize", "engine.finalize")
        self.wrap(engine, "shred_stream", "shred.plan")
        self.wrap(engine, "build_meta", "schema.build_meta")
        for fn, name in [("merge_upsert", "merge.upsert"), ("append_rows", "merge.append"),
                         ("orphan_delete", "merge.orphan_delete"),
                         ("assert_pk_integrity", "merge.pk_check")]:
            self.wrap(merge, fn, name)
        for fn, name in [("overwrite_buckets", "catalog.write"), ("append", "catalog.write"),
                         ("overwrite_all", "catalog.write"),
                         ("commit_snapshot", "catalog.commit"),
                         ("snapshot", "catalog.snapshot"), ("vacuum", "catalog.vacuum")]:
            self.wrap(LakeCatalog, fn, name)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def record(self, name: str, t0: float, t1: float) -> None:
        self.spans.append((name, self.op, t0, t1))

    def by_op(self, ops: set[str]) -> dict[str, list[tuple[str, float, float]]]:
        out: dict[str, list[tuple[str, float, float]]] = defaultdict(list)
        for name, op, t0, t1 in self.spans:
            if op in ops:
                out[op].append((name, t0, t1))
        return out


def covered(interval: tuple[float, float], others: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``others``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in others if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------- status store

_STAGE_FIELDS = {
    "spark.tasks": ("numCompleteTasks", 1),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.input_bytes": ("inputBytes", 1),
}


class SparkStats:
    """Stage metrics of the jobs started since ``mark()``, from the status
    store, which works with the UI disabled."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._last_job = self._max_job_id()

    def _max_job_id(self) -> int:
        it = self._jsc.statusStore().jobsList(None).iterator()
        return it.next().jobId() if it.hasNext() else -1

    def mark(self) -> None:
        self._last_job = self._max_job_id()

    def collect(self) -> dict[str, float]:
        """Totals over the jobs started since the last ``mark()``."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(["spark.jobs", *_STAGE_FIELDS, "spark.spill_bytes"], 0.0)
        it = store.jobsList(None).iterator()  # newest first
        stages = set()
        while it.hasNext():
            job = it.next()
            if job.jobId() <= self._last_job:
                break
            out["spark.jobs"] += 1
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # a stage that was never submitted has no attempt
                continue
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self.mark()
        return out


# ------------------------------------------------------------------ /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_stat(int(entry))[1])
            except (OSError, IndexError):
                continue  # exited while listing
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def proc_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of this process, its JVM (with reaped children) and the
    JVM's live descendants such as Python workers."""
    total = 0.0
    for pid, with_children in [(os.getpid(), False), (jvm_pid, True)] + [
        (p, False) for p in _descendants(jvm_pid)
    ]:
        try:
            f = _stat(pid)
        except OSError:
            continue
        ticks = int(f[11]) + int(f[12])  # utime, stime
        if with_children:
            ticks += int(f[13]) + int(f[14])  # cutime, cstime
        total += ticks / _CLK
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat: the
    share of time a hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def proc_hwm_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM."""
    total = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def jvm_compile_gc_s(spark) -> tuple[float, float]:
    """(JIT compiler, garbage collector) seconds the JVM has spent so far,
    from its management beans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000, gc_ms / 1000


# ------------------------------------------------------------------- lake


def lake_files(lake_root: str) -> tuple[dict[str, int], set[str]]:
    """({path: bytes} of every file under ``<lake>/tables``, paths of the
    data files the tables' current snapshots reference)."""
    tables = os.path.join(lake_root, "tables")
    sizes: dict[str, int] = {}
    live: set[str] = set()
    for dirpath, _dirs, files in os.walk(tables):
        for f in files:
            p = os.path.join(dirpath, f)
            sizes[p] = os.path.getsize(p)
    for name in os.listdir(tables):
        tdir = os.path.join(tables, name)
        with open(os.path.join(tdir, "_pointer.json")) as fh:
            manifest = json.load(fh)["current"]
        with open(os.path.join(tdir, manifest)) as fh:
            snap = json.load(fh)
        live.update(os.path.join(tdir, f) for fs in snap["bucket_files"].values() for f in fs)
    return sizes, live


"""Run plumbing shared by the workloads: the engine session, the work
directory, a closed-loop op driver, the process-tree memory sampler,
the host record and the frame hash the correctness gates compare."""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass
class OpResult:
    """What one op hands back: items completed and the output the
    untimed correctness gate checks (``None`` when not kept)."""

    items: int
    output: object = None


@dataclass
class OpRecord:
    index: int
    seconds: float
    ok: bool
    items: int
    traced: bool
    output: object = None
    error: str = ""


@dataclass
class LoopStats:
    records: list[OpRecord] = field(default_factory=list)
    window_s: float = 0.0


def host_ram_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """Driver heap: 1 GiB, or a quarter of RAM on a smaller host."""
    return int(min(1024, host_ram_mb() // 4))


class TreeRss:
    """Samples the resident memory of this process and all of its
    descendants (the JVM and its Python workers) every ``period``
    seconds and keeps the peak of the sum."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # field 4 (ppid) follows the parenthesised command name
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        root = os.getpid()
        members = {root}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in members and pid not in members:
                    members.add(pid)
                    grew = True
        total = 0
        for pid in members:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def frame_hash(df: DataFrame) -> tuple:
    """Order-insensitive content hash: row count plus two sums of a
    per-row xxhash64 over the columns in name order, doubles rounded to
    9 places so equal results from different plans hash equal."""
    types = dict(df.dtypes)
    cols = [
        F.round(F.col(c), 9) if types[c] in ("double", "float") else F.col(c)
        for c in sorted(df.columns)
    ]
    h = F.xxhash64(*cols)
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("h").alias("s"),
            F.sum(F.pmod(F.col("h"), F.lit(1_000_003))).alias("m"),
        )
        .collect()[0]
    )
    return (row["n"], row["s"], row["m"])


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def closed_loop(
    workload,
    n_ops: int,
    clients: int,
    first_index: int,
    tracer,
    traced,
    log,
) -> LoopStats:
    """Run ``n_ops`` ops on ``clients`` threads; each client starts its
    next op only after its previous one returns. Ops for which
    ``traced(i)`` holds run under the tracer. Untimed per-op
    preparation (``prepare``) is excluded from the window. An op that
    raises is counted as failed and the loop goes on."""
    stats = LoopStats()
    lock = threading.Lock()
    state = {"next": first_index, "paused": 0.0}
    last = first_index + n_ops

    def client() -> None:
        while True:
            with lock:
                i = state["next"]
                if i >= last:
                    return
                state["next"] += 1
                # preparation runs under the lock, so a concurrent
                # client never sees a half-restored input
                p0 = time.perf_counter()
                workload.prepare(i)
                state["paused"] += time.perf_counter() - p0
            on = traced(i)
            start = time.perf_counter()
            try:
                if on:
                    with tracer.op(i):
                        res = workload.op(i)
                else:
                    res = workload.op(i)
                rec = OpRecord(i, time.perf_counter() - start, True, res.items,
                               on, res.output)
            except Exception:
                err = traceback.format_exc()
                log(f"op {i} failed:\n{err}")
                rec = OpRecord(i, time.perf_counter() - start, False, 0,
                               on, None, err)
            with lock:
                stats.records.append(rec)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stats.window_s = time.perf_counter() - t0 - state["paused"]
    stats.records.sort(key=lambda r: r.index)
    return stats


def p50_ms(records: list[OpRecord]) -> float:
    times = [r.seconds for r in records if r.ok]
    return statistics.median(times) * 1000.0 if times else 0.0


def host_record(spark, seed: int, heap_mb: int) -> dict:
    jvm = spark.sparkContext._jvm
    import pyspark

    return {
        "nproc": cores(),
        "ram_mb": round(host_ram_mb()),
        "driver_heap_mb": heap_mb,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": seed,
    }

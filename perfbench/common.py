"""Shared benchmark machinery: session sizing, process-tree RSS, latency
statistics, and the in-memory span tracer.

Everything here is the benchmark's own code; it times the program only from
outside, around calls into its public functions.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

#: tail rule: the highest percentile, up to p99, that still has at least
#: TAIL_MIN_BEYOND samples above it
TAIL_MAX_PERCENTILE = 99.0
TAIL_MIN_BEYOND = 10
#: half-width, as a share of the sample, of the band a quantile averages
QUANTILE_BAND = 0.10
#: the fewest timed units a run does (see work_units)
MIN_UNITS = 2


# --------------------------------------------------------------- sizing


def work_units(seconds: float, unit_s: float) -> int:
    """How many timed units (ingest cycles, warm analytics passes) a run
    does: one per ``unit_s`` of ``--seconds``, at least MIN_UNITS. The work
    depends on ``--seconds`` only, never on how fast the program is, so a
    faster commit is measured on the same work: with a deadline instead,
    it would run more cycles, grow a bigger topic and change what the
    catch-up rate and the latency median are taken over."""
    return max(MIN_UNITS, round(seconds / unit_s))


def machine_cores() -> int:
    """Cores this process may run on (what `nproc` reports)."""
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A driver heap well inside physical RAM: a quarter of it, capped at
    2 GiB, which holds this benchmark's inputs many times over. The
    local-mode JVM holds the driver, the executors' cached blocks and
    shuffle buffers, and the pandas-UDF Python workers live beside it, so
    the heap must leave most of the machine to them."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
        else:  # pragma: no cover - every Linux kernel reports MemTotal
            raise RuntimeError("MemTotal missing from /proc/meminfo")
    return max(1024, min(2048, total_mb // 4))


def session_conf(work_dir: str) -> dict[str, str]:
    """Spark settings that keep every file the session writes inside the
    benchmark's work directory.

    The heap starts small and grows as the program needs. By default G1
    grows it in steps of 20 % of the space not yet committed, about 360 MB
    at the first step under a 2 GiB ceiling, so whether a run took one step
    more decided a quarter of its peak RSS. Steps of 5 % let the committed
    heap, and with it peak RSS, follow the program's need more closely."""
    return {
        "spark.local.dir": work_dir,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work_dir} "
            "-XX:+UnlockExperimentalVMOptions -XX:G1ExpandByPercentOfAvailable=5"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def stop_jvm() -> None:
    """Stop the active session, then the JVM the py4j gateway launched, and
    wait until it has exited (its pandas-UDF Python workers are its
    children and exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001 - the launched JVM handle
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate on any wait failure
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------ peak RSS


def _tree_rss_kb(root_pid: int) -> int:
    """Resident set of ``root_pid`` and all its descendants, in KiB."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                resident_pages = int(fh.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        pid = int(entry)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = resident_pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


def jvm_pid() -> int | None:
    """Pid of the JVM the py4j gateway launched, or None while there is
    none."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001 - the launched JVM handle
    proc = getattr(gateway, "proc", None)
    return proc.pid if proc is not None else None


class PeakRss:
    """Samples the program's process tree every ``interval`` seconds on a
    background thread: the Spark driver JVM and its descendants, the
    pandas-UDF Python workers. The benchmark's own Python process is left
    out: it holds the generator's inputs and the checks, not the program's
    data."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        pid = jvm_pid()
        if pid is not None:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------- statistics


def quantile(values: list[float], p: float) -> float:
    """The mean of the order statistics within QUANTILE_BAND of the p-th
    quantile (p in 0..100); the interpolated quantile when no order
    statistic falls in the band, as with two samples. A sample here mixes
    operations of different cost (14 distinct queries, say), so the plain
    order statistic jumps from one operation's latency to the next between
    runs; the band mean moves smoothly."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    last = len(xs) - 1
    lo = math.ceil(max(0.0, p / 100.0 - QUANTILE_BAND) * last - 1e-9)
    hi = math.floor(min(1.0, p / 100.0 + QUANTILE_BAND) * last + 1e-9)
    if lo <= hi:
        return statistics.fmean(xs[lo : hi + 1])
    pos = last * p / 100.0
    base = math.floor(pos)
    return xs[base] + (xs[min(base + 1, last)] - xs[base]) * (pos - base)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile, up to p99, with at
    least TAIL_MIN_BEYOND samples beyond it (p75 for 40 samples); the
    median when the run has too few samples for that."""
    n = len(values)
    p = min(TAIL_MAX_PERCENTILE, 100.0 * (1.0 - TAIL_MIN_BEYOND / n))
    p = max(50.0, p)
    return quantile(values, p), p


def latency_summary(values: list[float]) -> dict:
    value, p = tail(values)
    return {
        "p50": quantile(values, 50.0),
        "tail": value,
        "tail_percentile": p,
        "samples": len(values),
    }


# --------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans around calls into the program's layers.

    A span records name, start, end, parent span and a cycle or query id.
    When enabled, each span also runs its Spark jobs under its own job
    group, so the jobs it caused are counted from the status tracker.
    Disabled, every method is a no-op: the untraced run pays nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op_id=None, jobs: bool = True):
        if not self.enabled:
            yield None
            return
        from pyspark.sql import SparkSession

        sc = SparkSession.getActiveSession().sparkContext
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op_id if op_id is not None else (parent or {}).get("op"),
            "start": time.perf_counter() - self.t0,
            "jobs": 0,
        }
        self.spans.append(span)
        self._stack.append(span)
        group = f"perfbench-span-{span['id']}"
        if jobs:
            sc.setJobGroup(group, name)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if jobs:
                span["jobs"] += len(sc.statusTracker().getJobIdsForGroup(group))
                if parent is not None:
                    sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def count_group_jobs(self, span: dict, group: str) -> None:
        """Add the jobs of another job group (a streaming query runs its
        micro-batches under its run id) to ``span``."""
        from pyspark.sql import SparkSession

        sc = SparkSession.getActiveSession().sparkContext
        span["jobs"] += len(sc.statusTracker().getJobIdsForGroup(group))

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def values(self, name: str, key: str) -> list:
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def self_times(self) -> list[dict]:
        """Per span name: calls, total time, and self time (duration minus
        the part of its interval its child spans cover)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        table: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            row = table.setdefault(
                s["name"], {"span": s["name"], "calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0}
            )
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += max(0.0, dur - child_time.get(s["id"], 0.0))
            row["jobs"] += s["jobs"]
        return sorted(table.values(), key=lambda r: -r["self_s"])


def median_or_zero(values: list[float]) -> float:
    """Per-layer figures for a layer a workload does not reach are 0: that
    layer did no work in this run."""
    return statistics.median(values) if values else 0.0


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)
    os.replace(tmp, path)

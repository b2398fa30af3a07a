"""Measurement machinery shared by the workloads: order statistics, span
tracing with Spark job-group attribution, the event-log reader, the
process-tree RSS sampler and the contention probe.

Spans are recorded from the benchmark's own files only: ``Tracer.install``
wraps the public entry points of the package's layer modules for the
length of a traced pass and restores them afterwards, so the package
itself is never edited and untraced passes run it unwrapped.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time
import types
from dataclasses import dataclass

# ---------------------------------------------------------------- stats --

#: candidate tail percentiles, highest first
TAIL_QS = (0.99, 0.9, 0.75, 0.5)


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs, min_beyond: int = 10):
    """The highest percentile in ``TAIL_QS`` that leaves at least
    ``min_beyond`` samples above it, as ``(q, value)``; ``None`` when no
    candidate has that many samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    for q in TAIL_QS:
        # nearest rank: the smallest sample with >= q of all at or below
        rank = max(1, math.ceil(q * n - 1e-9))
        if n - rank >= min_beyond:
            return q, float(xs[rank - 1])
    return None


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    run_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its children cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return {s.id: s.duration - union_length(children.get(s.id, []))
            for s in spans}


# -------------------------------------------------------------- tracing --

#: (layer, module, public entry points); ``Class.method`` names a method.
#: Missing names are skipped, so a renamed entry point loses its span but
#: does not break the run.
LAYER_ENTRY_POINTS = (
    ("session", "kiji_mapreduce_spark.session", ("make_session",)),
    ("cli", "kiji_mapreduce_spark.cli", ("main",)),
    ("io", "kiji_mapreduce_spark.io.inputs",
     ("read_warc_records", "read_warc_raw")),
    ("io", "kiji_mapreduce_spark.io.outputs",
     ("write_warc", "bulk_load", "swap_partition_dirs")),
    ("io.zstd_codec", "kiji_mapreduce_spark.io.zstd_codec", ("decompress",)),
    ("pipeline.crawl", "kiji_mapreduce_spark.pipeline.crawl",
     ("crawl_documents",)),
    ("pipeline.curate", "kiji_mapreduce_spark.pipeline.curate",
     ("curate_corpus",)),
    ("pipeline.dedup", "kiji_mapreduce_spark.pipeline.dedup",
     ("minhash_dedup", "drop_exact_duplicates", "connected_keep_ids",
      "minhash_index", "corpus_index", "dedup_corpus")),
    ("table", "kiji_mapreduce_spark.table",
     tuple(f"EntityTable.{m}" for m in (
         "create", "open", "read", "scan", "get", "merge_put", "put_delta",
         "flush_deltas", "overwrite", "upsert_rows", "produce", "fresh_get",
         "compact", "optimize"))),
    ("operators", "kiji_mapreduce_spark.operators.gather",
     ("Gatherer.compile",)),
    ("operators", "kiji_mapreduce_spark.operators.mapreduce",
     ("MapReduceOperator.compile",)),
    ("operators", "kiji_mapreduce_spark.operators.bulk_import",
     ("BulkImporter.compile",)),
    ("operators", "kiji_mapreduce_spark.operators.pivot",
     ("Pivoter.compile", "CellRewriter.compile")),
    ("operators", "kiji_mapreduce_spark.operators.produce",
     ("Producer.compile",)),
)


class Tracer:
    """In-memory spans. Entering a span sets a Spark job group named after
    the span id, so every job the span launches can be attributed to it
    from the event log; leaving it restores the parent's group."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.sc = None
        #: add to a span's perf_counter times to get epoch seconds
        self.epoch_offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, parent, time.perf_counter(),
                 run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    p = self._stack[-1]
                    self.sc.setJobGroup(f"span-{p.id}", p.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- wrapping the package's layer entry points --------------------------
    def install(self) -> None:
        # import every module first, so that each ``from x import f`` copy
        # exists when the rebinding below looks for it
        mods = [importlib.import_module(m) for _, m, _ in LAYER_ENTRY_POINTS]
        for (layer, _, names), mod in zip(LAYER_ENTRY_POINTS, mods):
            for name in names:
                owner, attr = mod, name
                if "." in name:
                    cls_name, attr = name.split(".")
                    owner = getattr(mod, cls_name)
                orig = owner.__dict__.get(attr) if isinstance(owner, type) \
                    else getattr(owner, attr, None)
                if orig is None:
                    continue  # entry point renamed or removed: no span
                if isinstance(orig, (classmethod, staticmethod)):
                    wrapped = type(orig)(self._wrap(
                        orig.__func__, f"{layer}:{name}", layer))
                else:
                    wrapped = self._wrap(orig, f"{layer}:{name}", layer)
                self._patched.append((owner, attr, orig))
                setattr(owner, attr, wrapped)
                if not isinstance(owner, type):
                    self._rebind(orig, wrapped)

    @staticmethod
    def _package_modules():
        return [m for m in list(sys.modules.values())
                if getattr(m, "__name__", "").startswith(
                    "kiji_mapreduce_spark")]

    def _rebind(self, orig, wrapped) -> None:
        """Point every ``from module import name`` copy in the package at
        the wrapper too."""
        for mod in self._package_modules():
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._patched.append((mod, k, orig))
                    setattr(mod, k, wrapped)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name, layer):
                return fn(*a, **kw)
        traced.__traced_original__ = fn
        return traced

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        # a module first imported while traced bound the wrappers
        for mod in self._package_modules():
            for k, v in list(vars(mod).items()):
                if isinstance(v, types.FunctionType) and hasattr(
                        v, "__traced_original__"):
                    setattr(mod, k, v.__traced_original__)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


class NullTracer:
    """The untraced runs' tracer: a span is a no-op context."""

    sc = None

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


# ------------------------------------------------------------ event log --

@dataclass
class JobRecord:
    job_id: int
    group: str | None
    start: float  # seconds, epoch
    end: float
    pin: bool
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    bytes_written: int = 0
    python_s: float = 0.0


#: SQL accumulable of the Arrow/pandas Python runners (milliseconds)
_PY_TIME_ACC = "time to run Python workers"


def read_event_logs(log_dir: str) -> list[JobRecord]:
    """Every job in the uncompressed JSON event logs under ``log_dir``,
    with its stage, task, shuffle, spill and Python-worker totals. A job
    whose result stage is named ``localCheckpoint at ...`` is a pin (an
    eager ``localCheckpoint``); its other stages may be shuffle stages it
    shares with earlier jobs."""
    jobs: list[JobRecord] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".crc") or not os.path.isfile(path):
            continue
        by_id: dict[int, JobRecord] = {}
        stage_job: dict[int, JobRecord] = {}
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a live log
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    infos = e.get("Stage Infos") or [{}]
                    result = max(infos, key=lambda s: s.get("Stage ID", -1))
                    pin = result.get("Stage Name", "").startswith(
                        "localCheckpoint at")
                    j = JobRecord(e["Job ID"],
                                  (e.get("Properties") or {}).get(
                                      "spark.jobGroup.id"),
                                  e["Submission Time"] / 1000.0, 0.0, pin)
                    by_id[j.job_id] = j
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = j
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in by_id:
                    by_id[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    j = stage_job.get(e["Stage Info"]["Stage ID"])
                    if j is not None:
                        j.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get(e["Stage ID"])
                    m = e.get("Task Metrics") or {}
                    if j is None:
                        continue
                    j.tasks += 1
                    j.task_s += m.get("Executor Run Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    j.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    j.spill_b += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
                    j.bytes_written += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    for acc in (e.get("Task Info") or {}).get(
                            "Accumulables", []):
                        if acc.get("Name") == _PY_TIME_ACC:
                            j.python_s += float(acc.get("Update", 0)) / 1000
        jobs.extend(j for j in by_id.values() if j.end)
    return jobs


# ------------------------------------------------------------------ RSS --

def _tree_pids(root_pid: int) -> set[int]:
    """``root_pid`` and all its descendants (the driver, the JVM it
    launched and the Python workers the JVM forks)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Process-tree RSS, sampled every ``interval`` seconds on a background
    thread between ``start`` and ``stop``; ``stop`` returns the median
    sample in MB, ``peak_mb`` the largest."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append(_tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return median(self.samples) / 2**20 if self.samples else 0.0

    @property
    def peak_mb(self) -> float:
        return max(self.samples) / 2**20


def jvm_heap_mb(spark) -> dict:
    """The driver JVM's heap right now, in MB: used, committed, max."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = mx.getMemoryMXBean().getHeapMemoryUsage()
    return {"used": heap.getUsed() / 2**20,
            "committed": heap.getCommitted() / 2**20,
            "max": heap.getMax() / 2**20}


# ------------------------------------------------------------ processes --

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have processes this run starts, and theirs, re-parented to this
    process when their own parent exits, so ``stop_processes`` can wait
    for every one of them. Linux only; elsewhere a no-op."""
    try:
        import ctypes
        ctypes.CDLL(None, use_errno=True).prctl(
            _PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark JVM and every other process this run started, and
    wait until each has ended.

    ``SparkContext.stop`` leaves the JVM running; it exits on its own only
    once this process has exited and closed its stdin, which would leave
    it running after the run. Closing its stdin here makes it exit now.
    Whatever is still alive after ``timeout`` seconds is killed."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=timeout)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    if gateway is not None:
        try:
            gateway.close()
        except Exception:  # the JVM end is already gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    me = os.getpid()
    grace = time.monotonic() + 2.0
    deadline = time.monotonic() + timeout
    while True:
        # reap children that have ended (re-parented ones included)
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        alive = _tree_pids(me) - {me}
        if not alive:
            return
        now = time.monotonic()
        if now > grace:
            sig = signal.SIGKILL if now > deadline else signal.SIGTERM
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        time.sleep(0.05)


# ---------------------------------------------------------------- probe --

_PROBE = """
import statistics, time
def spin():
    t = time.perf_counter()
    acc = 0
    for i in range({n}):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000
print(statistics.median(spin() for _ in range({reps})))
"""


def spin_probe_ms(reps: int = 3, n: int = 1_000_000) -> float:
    """Median wall time of a fixed integer loop, in a child interpreter so
    that this process's own threads (py4j, the RSS sampler) cannot slow
    it. Taken before and after a run: two readings that disagree by more
    than the benchmark's bound mean the run shared the host with other
    work."""
    out = subprocess.run([sys.executable, "-c", _PROBE.format(reps=reps, n=n)],
                         capture_output=True, text=True, check=True)
    return float(out.stdout)


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def cpu_steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this machine since
    ``since``: time a neighbour on the host held the cores."""
    steal, total = cpu_steal_ticks()
    return (steal - since[0]) / max(1, total - since[1])

"""Measurement probes: the process tree from ``/proc``, Spark's status
store, a streaming-query listener, scratch-directory bytes, and the
span tracer.

Nothing here touches the package under test; every probe reads state
the OS, the JVM or PySpark's public listener API already exposes.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------- /proc


def _stat(pid: int) -> tuple[str, int, float, float, int] | None:
    """(comm, ppid, own cpu s, reaped children's cpu s, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # f[0] is field 3 (state): utime..cstime are fields 14..17, rss 24
    own = (int(f[11]) + int(f[12])) / _CLK
    reaped = (int(f[13]) + int(f[14])) / _CLK
    return comm, int(f[1]), own, reaped, int(f[21]) * _PAGE


class ProcTree:
    """CPU seconds and resident memory of this process and all its
    descendants, split by kind: ``driver_py`` (this interpreter),
    ``jvm`` (the Spark JVM's own threads) and ``py_workers`` (the
    Python daemon and workers the JVM forks).

    A worker that exits and is reaped moves its CPU time into its
    parent's children-time fields, so a process counts its own time
    plus its reaped children's, and the JVM's reaped children count as
    Python workers: the tree total stays continuous as workers come
    and go."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def sample(self) -> tuple[dict[str, float], dict[str, float]]:
        """(cpu seconds by kind, resident MB by kind)."""
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in procs.items():
            children.setdefault(st[1], []).append(pid)
        cpu = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}
        rss = dict.fromkeys(cpu, 0.0)
        stack = [(self.root, "driver_py")]
        while stack:
            pid, kind = stack.pop()
            st = procs.get(pid)
            if st is None:
                continue
            comm, _, own, reaped, mem = st
            if kind == "driver_py" and comm == "java":
                cpu["jvm"] += own
                cpu["py_workers"] += reaped
                rss["jvm"] += mem / 2**20
                kind = "py_workers"
            else:
                cpu[kind] += own + reaped
                rss[kind] += mem / 2**20
            stack.extend((c, kind) for c in children.get(pid, ()))
        return cpu, rss


class RssPeak:
    """Background sampler of the process tree's total RSS; keeps the
    peak and its split by process kind."""

    def __init__(self, tree: ProcTree, period_s: float = 0.25) -> None:
        self._tree = tree
        self._period = period_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}

    def __enter__(self) -> "RssPeak":
        self._thread = threading.Thread(target=self._run, name="rss-peak", daemon=True)
        self._thread.start()
        return self

    def _take(self) -> None:
        rss = self._tree.sample()[1]
        if sum(rss.values()) > self.peak_mb:
            self.peak_mb = sum(rss.values())
            self.at_peak = rss

    def _run(self) -> None:
        while True:
            self._take()
            if self._stop.wait(self._period):
                return

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._take()


def cpu_steal() -> tuple[int, int, int]:
    """(user, steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1], f[7] if len(f) > 7 else 0, sum(f[:8])


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


# --------------------------------------------------------------- Spark


@dataclass
class ExecCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0


class SparkStatus:
    """Per-query job, stage and task counts from Spark's status store.

    Jobs are attributed by job tag: a tag set on the calling thread is
    inherited by threads it starts, such as a streaming query's
    micro-batch thread, so every job a query launches carries it."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self._jsc.statusTracker()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event,
        so the status store and listeners have seen the query's jobs."""
        try:
            self._jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — a timeout only makes counts lag
            pass

    def add_tag(self, tag: str) -> None:
        self._sc.addJobTag(tag)

    def remove_tag(self, tag: str) -> None:
        self._sc.removeJobTag(tag)

    def job_ids(self, tag: str) -> list[int]:
        return sorted(int(j) for j in self._tracker.getJobIdsForTag(tag))

    def counts(self, job_ids: list[int]) -> ExecCounts:
        out = ExecCounts(jobs=len(job_ids))
        for jid in job_ids:
            try:
                job = self._store.job(jid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            for sid in _ints(job.stageIds()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numTasks()
                out.failed_tasks += st.numFailedTasks()
                out.executor_cpu_s += st.executorCpuTime() / 1e9
                out.gc_s += st.jvmGcTime() / 1e3
                out.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
                out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                out.input_mb += st.inputBytes() / 2**20
                out.input_rows += st.inputRecords()
        return out

    def storage_mb(self) -> float:
        return sum(
            (r.memSize() + r.diskSize()) / 2**20 for r in self._jsc.getRDDStorageInfo()
        )


def _ints(seq) -> list[int]:
    text = seq.mkString(",")
    return [int(x) for x in text.split(",") if x]


class StreamStats:
    """Accumulates streaming progress reported through PySpark's public
    ``StreamingQueryListener``; :meth:`take` returns and resets it."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._reset()

    def _reset(self) -> None:
        self.batches = 0
        self.trigger_s = 0.0
        self.commit_s = 0.0
        self._last_state: dict[str, tuple[int, int]] = {}

    def on_progress(self, progress) -> None:
        ops = progress.stateOperators or []
        with self._lock:
            self.batches += 1
            self.trigger_s += progress.durationMs.get("triggerExecution", 0) / 1e3
            self.commit_s += sum(op.commitTimeMs for op in ops) / 1e3
            self._last_state[str(progress.runId)] = (
                sum(op.numRowsTotal for op in ops),
                sum(op.memoryUsedBytes for op in ops),
            )

    def take(self) -> dict[str, float]:
        with self._lock:
            rows = sum(r for r, _ in self._last_state.values())
            mem = sum(m for _, m in self._last_state.values())
            out = {
                "batches": float(self.batches),
                "trigger_s": self.trigger_s,
                "state_rows": float(rows),
                "state_mb": mem / 2**20,
                "state_commit_s": self.commit_s,
            }
            self._reset()
        return out


def stream_listener(stats: StreamStats):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            stats.on_progress(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()


# --------------------------------------------------------------- spans


@dataclass
class Tracer:
    """In-memory spans: (id, parent id, query id, name, start, end).
    Written out once, at exit, by :meth:`dump`."""

    spans: list[tuple[int, int | None, str, str, float, float]] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _next: int = 0

    def add(self, parent: int | None, qid: str, name: str, start: float, end: float) -> int:
        with self._lock:
            self._next += 1
            self.spans.append((self._next, parent, qid, name, start, end))
            return self._next

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part its children cover (children of one span never overlap,
        since one thread records them in sequence)."""
        child_s: dict[int, float] = {}
        for _, parent, _, _, start, end in self.spans:
            if parent is not None:
                child_s[parent] = child_s.get(parent, 0.0) + (end - start)
        out: dict[str, float] = {}
        for sid, _, _, name, start, end in self.spans:
            out[name] = out.get(name, 0.0) + (end - start) - child_s.get(sid, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {"id": s, "parent": p, "query": q, "name": n, "start": a, "end": b}
                        for s, p, q, n, a, b in self.spans
                    ],
                    "self_s": self.self_times(),
                },
                fh,
            )

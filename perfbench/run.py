"""The repository benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload rank_serve --seed 7 --seconds 15 --trace 0

Drives the unmodified ``movie_rankings_spark`` package from outside,
through its public functions only: ``session.get_spark``,
``catalog.load_table``, the registered query functions,
``DataFrame.collect`` and ``caching.release_persisted``. Every result
is checked against its DuckDB oracle.

The inputs are the reference tables under ``perfbench/data``. A run
checks them against ``perfbench/data/SHA256SUMS`` and digests the
oracles once per checkout, cached under ``perfbench/.work``. It starts
the session and
loads the catalog, then warms up by repeating the workload until a
warm-up round stops getting faster. Then it measures. In the measured
window every client repeats passes over the workload's query cycle,
each begun at a seeded point, the clients spread evenly around it. A client starts a pass only if, at the pace of its previous
pass, the pass ends inside ``--seconds``, so every pass measured is
complete; a single client runs at least two passes.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics. It records spans around each call into a layer and
reads Spark's status store and listeners on alternate passes. It
reports the tracing overhead as the traced minus the untraced median
pass time of the same run. The last line of stdout is the JSON result;
the ``#`` lines before it are the human-readable report. Spark's own
console output goes to ``perfbench/.work/logs``.
"""

from __future__ import annotations

import argparse
import ctypes
import fcntl
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
sys.path.insert(0, HERE)

import probes  # noqa: E402


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    #: closed-loop client threads on the one shared session; 0 = nproc
    clients: int


WORKLOADS = {
    # Inputs are tiny (built-in fixtures, one small join), so per-query
    # fixed cost dominates: plan build, job and task scheduling, Python
    # worker start, contention on one session. Catalog scans do almost
    # nothing here.
    "rank_serve": Workload(
        queries=(
            "flagship_fixture",
            "flagship_fixture_distinct",
            "flagship_scraped",
            "flagship_scraped_dsv2",
            "flagship_scraped_udtf",
            "fuzzy_title_match",
            "flagship_tpch",
        ),
        clients=0,
    ),
    # The mirror image of rank_serve: one client, sf0.1 inputs, and the
    # layers rank_serve leaves idle: JVM scans, joins and aggregates
    # (TPC-H), Python/Arrow UDFs with tracked persists (curation), and
    # the write side (availableNow micro-batches, state stores,
    # checkpoints and sink files under the scratch root).
    "batch_mix": Workload(
        queries=(
            "q18_large_orders",
            "text_langid",
            "stream_tumbling_daily",
            "sink_sorted_write_roundtrip",
        ),
        clients=1,
    ),
}

TRACE_METRICS = (
    ("session.start_s", "s", "lower"),
    ("catalog.load_s", "s", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("exec.collect_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("exec.executor_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("catalog.input_mb", "MB", "lower"),
    ("catalog.input_rows", "count", "lower"),
    ("catalog.rows_in_per_row_out", "ratio", "lower"),
    ("cpu.driver_py_s", "s", "lower"),
    ("cpu.jvm_s", "s", "lower"),
    ("cpu.py_workers_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("caching.tracked_persists", "count", "lower"),
    ("caching.release_s", "s", "lower"),
    ("caching.storage_mb", "MB", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
    ("streaming.state_commit_s", "s", "lower"),
    ("scratch.written_mb", "MB", "lower"),
    ("scratch.write_amp", "ratio", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

E2E_METRICS = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("qps", "1/s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("cpu_s_per_query", "s"),
)

WARMUP_MIN_ROUNDS = 2
WARMUP_MAX_ROUNDS = 3
#: a warm-up round must beat the previous one by this share to count
#: as still getting faster
WARMUP_GAIN = 0.1


# ------------------------------------------------------------ set-up


def _process_start_epoch() -> float:
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


#: prctl(2) option: orphaned descendants are re-parented to this process
_PR_SET_CHILD_SUBREAPER = 36


def _adopt_descendants() -> None:
    """Become the reaper of every process this one starts, directly or
    not: the Python daemon and workers the JVM forks are re-parented
    here, not to init, when the JVM ends, so ``_stop_processes`` can
    find them and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    """Every live or unreaped process under this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out: list[int] = []
    stack = [os.getpid()]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def _stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark JVM and every other process under this one, and
    wait until each has ended. ``SparkSession.stop`` leaves the JVM
    running until the interpreter exits; closing its stdin makes it
    exit, and the Python daemon exits with it. What is still alive
    after ``grace_s`` gets SIGTERM, and SIGKILL ``grace_s`` later."""
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    proc = getattr(getattr(SparkContext, "_gateway", None), "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        alive = _descendants()
        if not alive:
            return
        waited = time.monotonic() - t0
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _configure_env(tmp: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout, give Python
    workers the package, and pin the time zone the oracles assume."""
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ.update(
        {
            "TZ": "UTC",
            "SPARK_GRAFT_CPUS": str(cpus),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            # every JVM, the spark-submit launcher's too: no /tmp files
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
                "pyspark-shell"
            ),
        }
    )
    time.tzset()
    tempfile.tempdir = tmp


def _check_data(sf: float) -> str:
    """The directory of the reference tables at ``sf``, after checking
    every file in it against ``SHA256SUMS``."""
    data = os.path.join(DATA, f"sf{sf:g}")
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        sums = dict(reversed(ln.split()) for ln in fh if ln.strip())
    want = {k: v for k, v in sums.items() if os.path.dirname(k) == os.path.basename(data)}
    if not want:
        raise RuntimeError(f"no reference tables for sf{sf:g} in {DATA}")
    for rel, digest in want.items():
        with open(os.path.join(DATA, rel), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise RuntimeError(f"{rel} does not match SHA256SUMS")
    return data


def _prepare_data(sf: float, queries: tuple[str, ...]) -> tuple[str, dict[str, str]]:
    """The reference tables for ``sf`` and the DuckDB digest of every
    query's oracle over them, computed once per checkout and reused by
    later runs."""
    import oracle

    from movie_rankings_spark.catalog import TABLES
    from movie_rankings_spark.plans import all_queries

    missing = [q for q in queries if q not in all_queries.ORACLES]
    if missing:
        raise RuntimeError(f"no DuckDB oracle for {missing}")
    data = _check_data(sf)
    sqls = {q: all_queries.ORACLES[q] for q in queries}
    with open(oracle.__file__, "rb") as fh:  # the digest format is part of the key
        src = fh.read()
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode() + src).hexdigest()[:16]
    digests_path = os.path.join(WORK, "oracle", f"sf{sf:g}-{key}.json")
    os.makedirs(os.path.dirname(digests_path), exist_ok=True)
    with open(os.path.join(WORK, "oracle", ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(digests_path):
            digests = oracle.duckdb_digests(data, TABLES, sqls)
            with open(digests_path + ".part", "w") as fh:
                json.dump(digests, fh, indent=1, sort_keys=True)
            os.rename(digests_path + ".part", digests_path)
    with open(digests_path) as fh:
        return data, json.load(fh)


def _table_bytes(data_dir: str, queries: tuple[str, ...]) -> dict[str, int]:
    """On-disk bytes of the catalog tables each query reads, taken from
    the tables its DuckDB oracle names after FROM or JOIN."""
    from movie_rankings_spark.catalog import TABLES, table_path
    from movie_rankings_spark.plans import all_queries

    out = {}
    for q in queries:
        named = re.findall(r"\b(?:from|join)\s+([a-z_]\w*)", all_queries.ORACLES[q], re.I)
        read = set(TABLES) & {n.lower() for n in named}
        out[q] = sum(os.path.getsize(table_path(data_dir, t)) for t in read)
    return out


# ------------------------------------------------------------ one query


@dataclass
class QueryRecord:
    name: str
    latency_s: float  # build + collect
    ok: bool
    right: bool
    rows: int
    layer: dict[str, float]


class Engine:
    """The package under test plus the probes; runs one query at a time
    per calling thread."""

    def __init__(
        self,
        data_dir: str,
        digests: dict[str, str],
        table_bytes: dict[str, int],
        traced_run: bool,
    ) -> None:
        self.data_dir = data_dir
        self.digests = digests
        self.table_bytes = table_bytes
        self.tracer = probes.Tracer()
        self.stream = probes.StreamStats()
        self.findings: list[str] = []
        self._lock = threading.Lock()
        self._seq = 0
        self.traced_run = traced_run
        self.layer_setup: dict[str, float] = {}

    def start(self, tables: tuple[str, ...]) -> None:
        from movie_rankings_spark import catalog, session

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        self.tracer.add(None, "setup", "session.get_spark", t0, t1)
        loads = []
        for name in tables:
            t = time.perf_counter()
            catalog.load_table(self.spark, self.data_dir, name)
            loads.append(time.perf_counter() - t)
            self.tracer.add(None, "setup", "catalog.load_table", t, t + loads[-1])
        self.layer_setup = {
            "session.start_s": t1 - t0,
            "catalog.load_s": statistics.mean(loads),
        }
        if self.traced_run:
            self.status = probes.SparkStatus(self.spark)
            self.spark.streams.addListener(probes.stream_listener(self.stream))
            self.scratch_root = os.path.join(tempfile.gettempdir(), "mrs_scratch")

    def stop(self) -> None:
        self.spark.stop()

    def run(self, name: str, client: int, traced: bool) -> QueryRecord:
        from movie_rankings_spark import caching
        from movie_rankings_spark.plans import all_queries

        import oracle

        with self._lock:
            self._seq += 1
            qid = f"q{self._seq}-c{client}-{name}"
        layer: dict[str, float] = {}
        if traced:
            self.status.add_tag(qid)
            scratch0 = probes.tree_bytes(self.scratch_root)
        rows: list | None = None
        start = time.perf_counter()
        t_build = t_collect0 = t_collect1 = t_rel0 = start
        try:
            df = all_queries.QUERIES[name](self.spark, self.data_dir)
            t_build = time.perf_counter()
            if traced:
                self.status.drain()
                layer["plans.build_jobs"] = len(self.status.job_ids(qid))
            t_collect0 = time.perf_counter()
            rows = df.collect()
            t_collect1 = time.perf_counter()
        except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
            self.findings.append(f"{name} raised:\n{traceback.format_exc()}")
            t_collect1 = time.perf_counter()
        finally:
            if traced:
                layer["caching.tracked_persists"] = caching.tracked_count()
                layer["caching.storage_mb"] = self.status.storage_mb()
            t_rel0 = time.perf_counter()
            caching.release_persisted()
            end = time.perf_counter()
        if traced:
            self.status.drain()
            ids = self.status.job_ids(qid)
            self.status.remove_tag(qid)
            c = self.status.counts(ids)
            layer.update(
                {
                    "plans.build_s": t_build - start,
                    "exec.collect_s": t_collect1 - t_collect0,
                    "exec.jobs": c.jobs - layer.get("plans.build_jobs", 0),
                    "exec.stages": c.stages,
                    "exec.tasks": c.tasks,
                    "exec.failed_tasks": c.failed_tasks,
                    "exec.executor_cpu_s": c.executor_cpu_s,
                    "exec.gc_s": c.gc_s,
                    "exec.shuffle_write_mb": c.shuffle_write_mb,
                    "exec.spill_mb": c.spill_mb,
                    "catalog.input_mb": c.input_mb,
                    "catalog.input_rows": c.input_rows,
                    "caching.release_s": end - t_rel0,
                    "scratch.written_mb": (probes.tree_bytes(self.scratch_root) - scratch0)
                    / 2**20,
                    "scratch.tables_read_mb": self.table_bytes[name] / 2**20,
                }
            )
            layer.update({f"streaming.{k}": v for k, v in self.stream.take().items()})
            root = self.tracer.add(None, qid, "query", start, end)
            self.tracer.add(root, qid, "plans.build", start, t_build)
            self.tracer.add(root, qid, "exec.collect", t_collect0, t_collect1)
            self.tracer.add(root, qid, "caching.release_persisted", t_rel0, end)
        right = False
        if rows is not None:
            got = oracle.spark_digest(rows)
            right = got == self.digests[name]
            if not right:
                self.findings.append(
                    f"{name}: digest {got} != oracle {self.digests[name]}"
                )
        return QueryRecord(
            name=name,
            latency_s=t_collect1 - start,
            ok=rows is not None,
            right=right,
            rows=len(rows or ()),
            layer=layer,
        )


# ------------------------------------------------------------ the loop


@dataclass
class Pass:
    client: int
    seconds: float
    traced: bool
    records: list[QueryRecord]


def _pass_order(
    queries: tuple[str, ...], seed: int, client: int, clients: int, n: int
) -> list[str]:
    """Client ``client``'s query order in its pass ``n``: the workload's
    query cycle, started at a seeded point, with the clients spread
    evenly around the cycle. At any moment the clients run different
    queries, and every seed gives the same mix of concurrent queries,
    only begun at another phase. With independent shuffles the mix
    depended on the seed, and runs split into modes 20% apart."""
    k = len(queries)
    start = random.Random(f"{seed}:{n}").randrange(k) + client * k // clients
    return [queries[(start + i) % k] for i in range(k)]


def _warm_up(engine: Engine, wl: Workload, cpus: int, clients: int) -> list[float]:
    """Rounds of the query set, in the same order in every run, until a
    round is no longer ``WARMUP_GAIN`` faster than the one before. The
    cold first round is spread over every core, which compiles the
    JIT's hot paths in less wall time than one client would; later
    rounds run the way the workload does, spread over its clients."""
    rounds: list[float] = []
    order = list(wl.queries)
    for r in range(WARMUP_MAX_ROUNDS):
        threads = cpus if r == 0 else clients
        t0 = time.perf_counter()
        _parallel(
            threads,
            lambda c: [engine.run(q, c, False) for q in order[c::threads]],
        )
        rounds.append(time.perf_counter() - t0)
        if len(rounds) >= WARMUP_MIN_ROUNDS and rounds[-1] > rounds[-2] * (1 - WARMUP_GAIN):
            break
    return rounds


def _parallel(n: int, fn) -> list:
    results: list = [None] * n
    errors: list[BaseException] = []

    def target(i: int) -> None:
        try:
            results[i] = fn(i)
        except BaseException as e:  # noqa: BLE001 — re-raised in the caller
            errors.append(e)

    threads = [threading.Thread(target=target, args=(i,), name=f"client-{i}") for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def _measure(
    engine: Engine, wl: Workload, clients: int, seed: int, seconds: float, trace: bool
) -> tuple[list[Pass], float, float]:
    # a single client always runs two passes, so a slow host does not
    # cut pass_s and the latencies down to one pass's samples; traced
    # and untraced passes alternate, by pass and by client, so one run
    # measures the tracing overhead on pass_s
    min_passes = 2 if clients == 1 else 1
    t0 = time.perf_counter()

    def client(c: int) -> list[Pass]:
        passes: list[Pass] = []
        n = 0
        # start a pass only if, at the pace of the last one, it ends
        # inside the window
        while n < min_passes or time.perf_counter() - t0 + passes[-1].seconds <= seconds:
            traced = trace and (n + c) % 2 == 0
            p0 = time.perf_counter()
            recs = [engine.run(q, c, traced) for q in _pass_order(wl.queries, seed, c, clients, n)]
            passes.append(Pass(c, time.perf_counter() - p0, traced, recs))
            n += 1
        return passes

    per_client = _parallel(clients, client)
    return [p for ps in per_client for p in ps], t0, time.perf_counter()


# ------------------------------------------------------------ metrics


def _throughput(passes: list[Pass]) -> float:
    """Closed-loop throughput: the sum over clients of each client's
    queries per second of its own measured passes, so the tail where
    early finishers idle while the last client completes its pass does
    not count."""
    busy: dict[int, list[float]] = {}
    for p in passes:
        b = busy.setdefault(p.client, [0.0, 0.0])
        b[0] += len(p.records)
        b[1] += p.seconds
    return sum(n / s for n, s in busy.values())


def _layer_metrics(
    engine: Engine, passes: list[Pass], cpu: dict[str, float], n: int, rss: probes.RssPeak
) -> dict[str, float]:
    traced = [r for p in passes if p.traced for r in p.records]
    out = dict(engine.layer_setup)
    for name in _PER_QUERY:
        out[name] = statistics.fmean(r.layer.get(name, 0.0) for r in traced)
    rows_out = sum(r.rows for r in traced)
    out["catalog.rows_in_per_row_out"] = out["catalog.input_rows"] * len(traced) / max(rows_out, 1)
    out["scratch.write_amp"] = out["scratch.written_mb"] / max(
        statistics.fmean(r.layer["scratch.tables_read_mb"] for r in traced), 1e-9
    )
    for kind, s in cpu.items():
        out[f"cpu.{kind}_s"] = s / n
    out["peak_rss_mb"] = rss.peak_mb
    t_pass = statistics.median(p.seconds for p in passes if p.traced)
    out["trace.pass_s"] = t_pass
    out["trace.overhead_s"] = t_pass - statistics.median(p.seconds for p in passes if not p.traced)
    return out


#: per-layer metrics recorded per traced query and reported as means
_PER_QUERY = (
    "plans.build_s",
    "plans.build_jobs",
    "exec.collect_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "exec.executor_cpu_s",
    "exec.gc_s",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "catalog.input_mb",
    "catalog.input_rows",
    "caching.tracked_persists",
    "caching.release_s",
    "caching.storage_mb",
    "streaming.batches",
    "streaming.trigger_s",
    "streaming.state_rows",
    "streaming.state_mb",
    "streaming.state_commit_s",
    "scratch.written_mb",
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="data scale factor")
    args = ap.parse_args(argv)
    proc_start = _process_start_epoch()

    if not os.path.isdir(os.path.join(ROOT, "movie_rankings_spark")):
        print(f"perfbench: package movie_rankings_spark not found in {ROOT}", file=sys.stderr)
        return 2
    _adopt_descendants()
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    clients = wl.clients or cpus
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    tmp = os.path.join(WORK, "tmp", run_id)
    log_dir = os.path.join(WORK, "logs")
    os.makedirs(log_dir, exist_ok=True)
    _configure_env(tmp, cpus)
    sys.path.insert(0, ROOT)
    # Spark's console progress and log4j output go to the log file
    err = os.fdopen(os.dup(2), "w")
    log_path = os.path.join(log_dir, f"{run_id}.log")
    log = open(log_path, "w")
    os.dup2(log.fileno(), 2)
    try:
        # the package's import cost is part of set-up; only the
        # benchmark's own data check and oracle work is left out of it
        from movie_rankings_spark import caching, catalog, session  # noqa: F401
        from movie_rankings_spark.plans import all_queries  # noqa: F401

        t = time.time()
        data_dir, digests = _prepare_data(args.sf, wl.queries)
        prep_s = time.time() - t

        engine = Engine(
            data_dir, digests, _table_bytes(data_dir, wl.queries), bool(args.trace)
        )
        engine.start(catalog.TABLES)
        try:
            warm = _warm_up(engine, wl, cpus, clients)
            setup_s = time.time() - proc_start - prep_s
            tree = probes.ProcTree()
            cpu0, _ = tree.sample()
            steal0 = probes.cpu_steal()
            with probes.RssPeak(tree) as rss:
                passes, t0, t1 = _measure(
                    engine, wl, clients, args.seed, args.seconds, bool(args.trace)
                )
            cpu1, _ = tree.sample()
            steal1 = probes.cpu_steal()
        finally:
            engine.stop()
    except Exception:  # noqa: BLE001 — report, then fail the run
        traceback.print_exc()
        err.write(traceback.format_exc())
        err.write(f"perfbench: run failed; Spark log in {log_path}\n")
        return 1
    finally:
        _stop_processes()
        log.flush()
        shutil.rmtree(tmp, ignore_errors=True)

    records = [r for p in passes for r in p.records]
    n = len(records)
    failed = sum(not r.ok for r in records)
    wrong = sum(r.ok and not r.right for r in records)
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
    plain = [p for p in passes if not p.traced]
    lat = [r.latency_s for p in plain for r in p.records]
    by_query: dict[str, list[float]] = {}
    for r in (r for p in plain for r in p.records):
        by_query.setdefault(r.name, []).append(r.latency_s)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.seconds for p in plain),
        "qps": _throughput(plain),
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
        "cpu_s_per_query": sum(cpu.values()) / n,
    }
    d_user, d_steal, d_total = (b - a for a, b in zip(steal0, steal1))
    report = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} sf={args.sf} clients={clients} data={data_dir}",
        f"warm-up rounds (s): {' '.join(f'{x:.2f}' for x in warm)}",
        f"untraced passes (s): {' '.join(f'{p.seconds:.2f}' for p in plain)}; "
        f"latency samples: {len(lat)}; window {t1 - t0:.2f} s",
        "median latency by query (s): "
        + " ".join(f"{q}={statistics.median(v):.2f}" for q, v in sorted(by_query.items())),
        f"fail_frac={failed / n:.4f} ({failed}/{n})  wrong_frac={wrong / n:.4f} ({wrong}/{n})",
        f"peak_rss_mb={rss.peak_mb:.1f} MB: "
        + " ".join(f"{k}={v:.0f}" for k, v in rss.at_peak.items()),
        "cpu s over window by process kind: "
        + " ".join(f"{k}={v:.1f}" for k, v in cpu.items()),
        f"cpu steal over window: {d_steal / max(d_total, 1):.4f} of all cpu time, "
        f"{d_steal / max(d_user, 1):.4f} of user time (context, not a metric)",
    ]
    report += [f"{k} = {v:.6g} {dict(E2E_METRICS)[k]}" for k, v in e2e.items()]
    for f in engine.findings:
        log.write(f + "\n")
    report += ["finding: " + f.strip().splitlines()[-1] for f in engine.findings[:20]]
    log.close()
    if args.trace:
        metrics = _layer_metrics(engine, passes, cpu, n, rss)
        trace_path = os.path.join(WORK, "traces", f"{run_id}.json")
        engine.tracer.dump(trace_path)
        report.append(f"trace: {trace_path}")
        report += [f"self time {k} = {v:.4f} s" for k, v in sorted(engine.tracer.self_times().items())]
        report.append(
            f"catalog.rows_in_per_row_out base: "
            f"{sum(r.rows for p in passes if p.traced for r in p.records)} result rows"
        )
        report += [f"{k} = {metrics[k]:.6g} {u}" for k, u, _ in TRACE_METRICS]
        out = {k: {"value": metrics[k], "unit": u} for k, u, _ in TRACE_METRICS}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E_METRICS}
    for line in report:
        print("# " + line)
    result = {
        "correct": failed == 0 and not engine.findings,
        "attempted": n,
        "failed": failed,
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Shared machinery of the CDC benchmark: Spark session lifecycle, the
resident-memory sampler, latency statistics, the status-store reader and
the tracer that records per-layer spans from outside the engine.

Nothing here changes the engine: spans wrap calls into the package's
public functions, prefix spans force a pipeline prefix through Spark's
`noop` sink, and stage counters come from Spark's own status store.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import math
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: every temporary byte the benchmark writes lives here, inside the checkout
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: samples beyond a tail percentile (see tail_percentile)
TAIL_BEYOND = 10
#: times each prefix span is forced in one traced unit (see Tracer.prefix)
PREFIX_REPEAT = 3
#: k of Spark's local[k]. Two, not one per core: the driver's py4j and
#: JIT threads, GC and the Python workers run beside the k task threads,
#: and on a 4-vCPU box local[4] measured their contention (commits and
#: reads ran 20-30% slower and runs spread wider than with local[2])
CORES = min(2, os.cpu_count() or 1)


# ---------------------------------------------------------------------------
# statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> tuple[float, int] | None:
    """The highest nearest-rank percentile of `n` sorted samples that
    leaves at least `beyond` samples above it, as (percentile, 0-based
    index into the ascending sort). None when the sample is too small
    to have any such percentile."""
    if n <= beyond:
        return None
    idx = n - beyond - 1
    return 100.0 * (idx + 1) / n, idx


def tail_value(xs: list[float], beyond: int = TAIL_BEYOND) -> float:
    """Latency at tail_percentile. A sample whose tail percentile would
    fall below the median (fewer than 2 * beyond samples) supports no
    tail and reads its median instead (METRICS.md says which workloads)."""
    if len(xs) < 2 * beyond:
        return median(xs)
    return float(sorted(xs)[tail_percentile(len(xs), beyond)[1]])


# ---------------------------------------------------------------------------
# session lifecycle


def prepare_environment(work: str) -> None:
    """Point every temporary path Spark and its Python workers use into
    the work dir, and make the package importable by the workers."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the short-lived launcher JVM of spark-submit: no hsperfdata file in
    # the system /tmp (the driver JVM gets the same flag in start_spark)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # ad-hoc conf overrides would make runs incomparable
    os.environ.pop("BINGO_SPARK_CONF", None)


def start_spark(work: str, cores: int):
    from bingo2sql_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # a fixed 1 GB heap (-Xms = -Xmx): no heap resizing that
            # differs from run to run, so peak_rss_mb repeats
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def process_tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed resident memory of the Spark JVM and the Python
    processes under it (the pyspark daemon and its workers) from /proc,
    and remembers every pid it saw so teardown can wait for them. Other
    children are skipped: a child the JVM forks reads the JVM's own
    resident pages until it execs, which would double-count them.

    The process tree is walked (every /proc entry, about 2 ms) once a
    second; in between, only the known pids' statm is read, so the
    sampler thread holds the driver's GIL for microseconds a tick."""

    def __init__(self, root_pid: int, period_s: float = 0.05):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._counted: list[int] = [root_pid]
        self._tree_at = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def refresh_tree(self) -> None:
        pids = process_tree(self.root_pid)
        self.seen.update(pids)
        self._counted = [self.root_pid] + [p for p in pids[1:] if _is_python(p)]
        self._tree_at = time.monotonic()

    def sample(self) -> None:
        if time.monotonic() - self._tree_at >= 1.0:
            self.refresh_tree()
        self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in self._counted))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.refresh_tree()
        self.sample()


def stop_spark(spark, seen_pids: set[int], timeout_s: float = 30.0) -> None:
    """Stop the session, shut the JVM down, and wait until the JVM and
    every process seen under it have exited (killing stragglers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    alive = [p for p in seen_pids if p != os.getpid()]
    while alive and time.time() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, 9)
    while any(_alive(p) for p in alive) and time.time() < deadline + timeout_s:
        time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


@dataclass
class Ctx:
    """What every workload function receives."""

    spark: Any
    work: str
    seed: int
    cores: int
    size: dict[str, Any]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def read_keys_sha(spark, table, keys) -> dict[tuple[str, str], str]:
    """One point read: `IcebergLiteTable.read_keys` collected, as
    (repo, path) -> sha256(content) of the live rows."""
    rows = table.read_keys(spark, keys).select("repo", "path", "content").collect()
    return {
        (r["repo"], r["path"]): hashlib.sha256((r["content"] or "").encode()).hexdigest()
        for r in rows
    }


def snapshot_files(table, version: int) -> list[str]:
    """Data files one commit wrote: its snapshot dir from the manifest."""
    snap = (table.manifest_at(version) or {}).get("snap_dirs", {}).get(str(version))
    if not snap:
        return []
    return dir_files(os.path.join(table.path, "data", snap))


def parquet_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def dir_files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for d, _, names in os.walk(path):
        out.extend(os.path.join(d, n) for n in names if n.endswith(suffix))
    return sorted(out)


# ---------------------------------------------------------------------------
# outcome of one measured run


@dataclass
class Outcome:
    """Raw measurements of one workload run; `end_to_end` turns them into
    the benchmark's metrics."""

    events: int = 0
    timed_s: float = 0.0
    read_time_s: float = 0.0
    commit_lat: list[float] = field(default_factory=list)
    read_lat: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.problems) < 20:
                self.problems.append(what)

    def end_to_end(self, setup_s: float, peak_rss_b: int) -> dict[str, float]:
        busy = self.timed_s - self.read_time_s
        return {
            "events_per_s": self.events / busy if busy > 0 else 0.0,
            "setup_s": setup_s,
            "commit_p50_s": median(self.commit_lat),
            "commit_tail_s": tail_value(self.commit_lat),
            "read_p50_s": median(self.read_lat),
            "peak_rss_mb": peak_rss_b / 2**20,
        }


# ---------------------------------------------------------------------------
# tracing


@dataclass
class Span:
    name: str
    tag: str
    start: float
    end: float = 0.0
    parent: str | None = None
    rows: int | None = None
    #: range of the walls when the span is the median of repeated runs
    spread: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. Two kinds:

    - call spans (`wrap`): a public function or method of the engine is
      replaced, for the tracer's lifetime, by a wrapper that times each
      call and tags the Spark jobs it submits with the span's tag;
    - prefix spans (`prefix`): a lazy DataFrame that ends at one layer
      is forced through the `noop` sink under its own tag, so the layer's
      self time is its prefix minus the prefix before it.

    Job tags are thread-local, so the span stack is too; only the
    innermost span's tag is set at any time, which attributes each job
    to exactly one span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.calls: dict[str, int] = {}
        self._local = threading.local()
        self._n = 0
        self._lock = threading.Lock()
        self._restore: list[Callable[[], None]] = []
        #: while False, wrapped calls are only counted, not timed or tagged
        self.enabled = True

    # -- span stack ----------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            self._n += 1
            tag = f"pb-{self._n}"
        stack = self._stack()
        sp = Span(name, tag, time.perf_counter(), parent=stack[-1].tag if stack else None)
        if stack:
            self.sc.removeJobTag(stack[-1].tag)
        self.sc.addJobTag(tag)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(tag)
            if stack:
                self.sc.addJobTag(stack[-1].tag)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner: Any, attr: str, name: str, timed: bool = True) -> None:
        """Count every call of owner.attr (a module function or a class
        method) until close(); while enabled, also time eager ones
        (`timed`) under span `name`. Lazy plan builders are only counted:
        their work runs later, inside whichever span forces it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self._lock:
                self.calls[name] = self.calls.get(name, 0) + 1
            if not (timed and self.enabled):
                return orig(*a, **kw)
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._restore.append(lambda: setattr(owner, attr, orig))

    def close(self) -> None:
        while self._restore:
            self._restore.pop()()

    def wrap_engine(self) -> None:
        """The engine entry points whose calls the per-layer metrics and
        the bypass check rely on."""
        from bingo2sql_spark.functions import render
        from bingo2sql_spark.operators.apply import IcebergLiteTable
        from bingo2sql_spark.sources import binlog_binary

        self.wrap(IcebergLiteTable, "commit", "apply.commit")
        self.wrap(IcebergLiteTable, "compact", "apply.compact")
        self.wrap(IcebergLiteTable, "read_keys", "apply.read_keys", timed=False)
        self.wrap(binlog_binary, "binlog_raw_events", "binlog_binary.binlog_raw_events", timed=False)
        self.wrap(binlog_binary, "decode_binlog_df", "binlog_binary.decode_binlog_df", timed=False)
        self.wrap(render, "write_sql_file", "render.write_sql_file")
        self.wrap(render, "render_sql", "render.render_sql", timed=False)

    def prefix(self, name: str, df, repeat: int = 1) -> Span:
        """Force `df` through the noop sink under span `name`, counting
        its rows with an Observation. With `repeat` > 1 it is forced that
        many times and the span of median wall is returned, so a self
        time (the difference of two prefixes) is not one draw's noise."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        runs = []
        for _ in range(repeat):
            obs = Observation(f"pb_{name}_{len(self.spans)}")
            with self.span(name) as sp:
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
            sp.rows = int(obs.get["n"])
            runs.append(sp)
        runs.sort(key=lambda s: s.wall)
        mid = runs[len(runs) // 2]
        mid.spread = runs[-1].wall - runs[0].wall
        return mid

    # -- readout ---------------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class StageStats:
    """A snapshot of Spark's status store: jobs by tag, stage counters."""

    def __init__(self, sc):
        jvm, gw = sc._jvm, sc._gateway
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        self.store = store
        self.jobs_by_tag: dict[str, list[int]] = {}
        self.stages_by_tag: dict[str, set[int]] = {}
        it = store.jobsList(empty).iterator()
        while it.hasNext():
            j = it.next()
            tags = j.jobTags()
            stage_ids = [int(s) for s in _iter_scala(j.stageIds())]
            for t in _iter_scala(tags):
                t = str(t)
                if t.startswith("pb-"):
                    self.jobs_by_tag.setdefault(t, []).append(int(j.jobId()))
                    self.stages_by_tag.setdefault(t, set()).update(stage_ids)
        self.stage: dict[int, dict[str, float]] = {}
        self._attempt: dict[int, int] = {}
        it = store.stageList(empty, False, False, gw.new_array(jvm.double, 0), empty).iterator()
        while it.hasNext():
            s = it.next()
            sid = int(s.stageId())
            d = self.stage.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0.0))
            d["tasks"] += s.numCompleteTasks()
            d["run_s"] += s.executorRunTime() / 1e3
            d["cpu_s"] += s.executorCpuTime() / 1e9
            d["gc_s"] += s.jvmGcTime() / 1e3
            d["shuffle_write_b"] += s.shuffleWriteBytes()
            d["shuffle_read_b"] += s.shuffleReadBytes()
            d["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            self._attempt[sid] = int(s.attemptId())

    def totals(self, tags: list[str]) -> dict[str, float]:
        sids: set[int] = set()
        for t in tags:
            sids |= self.stages_by_tag.get(t, set())
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in sids:
            for k, v in self.stage.get(sid, {}).items():
                out[k] += v
        out["jobs"] = float(sum(len(self.jobs_by_tag.get(t, [])) for t in tags))
        return out

    def max_task_s(self, tags: list[str]) -> float:
        best = 0.0
        for t in tags:
            for sid in self.stages_by_tag.get(t, set()):
                it = self.store.taskList(sid, self._attempt.get(sid, 0), 100000).iterator()
                while it.hasNext():
                    d = it.next().duration()
                    if d.isDefined():
                        best = max(best, d.get() / 1e3)
        return best


STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_b", "shuffle_read_b", "spill_b")


def _iter_scala(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


#: end-to-end metrics: name -> (unit, better)
END_TO_END = {
    "events_per_s": ("events/s", "higher"),
    "setup_s": ("s", "lower"),
    "commit_p50_s": ("s", "lower"),
    "commit_tail_s": ("s", "lower"),
    "read_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

#: every per-layer metric, zero unless the workload's path measures it:
#: name -> (unit, better)
PER_LAYER = {
    "decode.self_s": ("s", "lower"),
    "decode.rows_out": ("rows", "higher"),
    "binlog_binary.parse_s": ("s", "lower"),
    "binlog_binary.bytes_in": ("B", "higher"),
    "binlog_binary.tasks": ("count", "higher"),
    "binlog_binary.max_task_s": ("s", "lower"),
    "binlog_binary.format_errors": ("count", "lower"),
    "filters.self_s": ("s", "lower"),
    "filters.rows_in": ("rows", "higher"),
    "filters.rows_out": ("rows", "higher"),
    "flashback.self_s": ("s", "lower"),
    "resolve.self_s": ("s", "lower"),
    "apply.commit_s": ("s", "lower"),
    "apply.jobs_per_commit": ("count", "lower"),
    "apply.tasks_per_commit": ("count", "lower"),
    "apply.buckets_touched": ("count", "lower"),
    "apply.shuffle_write_bytes": ("B", "lower"),
    "apply.shuffle_read_bytes": ("B", "lower"),
    "apply.spill_bytes": ("B", "lower"),
    "apply.bytes_written": ("B", "lower"),
    "apply.files_written": ("count", "lower"),
    "apply.rows_rewritten_per_changed": ("ratio", "lower"),
    "apply.delta_depth_max": ("count", "lower"),
    "apply.read_keys_s": ("s", "lower"),
    "apply.buckets_read_per_lookup": ("count", "lower"),
    "apply.compact_s": ("s", "lower"),
    "apply.compactions": ("count", "lower"),
    "streaming.batch_s": ("s", "lower"),
    "streaming.overhead_s": ("s", "lower"),
    "streaming.batches": ("count", "higher"),
    "render.self_s": ("s", "lower"),
    "render.bytes_out": ("B", "lower"),
    "render.statements_out": ("count", "higher"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.executor_cpu_s": ("s", "lower"),
    "jvm.cpu_busy_ratio": ("ratio", "higher"),
    "trace.overhead_s": ("s", "lower"),
    "trace.prefix_spread_s": ("s", "lower"),
    "bench.error_rate": ("ratio", "lower"),
}

#: layers a workload must bypass: (metric prefix, workloads where it reads 0)
BYPASSES = (
    ("binlog_binary.", ("bulk_replay", "microbatch_tail")),
    ("render.", ("bulk_replay", "microbatch_tail")),
    ("apply.", ("binlog_rollback_sql",)),
)


def bypass_violations(workload: str, layer: dict[str, float], calls: dict[str, int]) -> list[str]:
    """Layers that should be bypassed on `workload` but were measured
    (non-zero metric, or a call into that module was seen)."""
    bad = []
    for prefix, where in BYPASSES:
        if workload not in where:
            continue
        bad += [f"{k}={v}" for k, v in layer.items() if k.startswith(prefix) and v]
        bad += [f"{k} called {n}x" for k, n in calls.items() if k.startswith(prefix) and n]
    return bad


def jvm_layer(stats: StageStats, tags: list[str], wall_s: float, cores: int, n_ops: int) -> dict[str, float]:
    """jvm.* over the jobs of the real (not prefix) operations."""
    tot = stats.totals(tags)
    n = max(n_ops, 1)
    return {
        "jvm.gc_s": tot["gc_s"] / n,
        "jvm.executor_cpu_s": tot["cpu_s"] / n,
        "jvm.cpu_busy_ratio": tot["run_s"] / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def finite(metrics: dict[str, float]) -> dict[str, float]:
    return {k: (float(v) if math.isfinite(float(v)) else 0.0) for k, v in metrics.items()}

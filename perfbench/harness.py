"""Process, session and tracing plumbing shared by every workload.

* ``start_session`` points every scratch location Spark uses (local dirs,
  JVM temp dir, Python temp files) inside the benchmark's work directory,
  pins the JVM's initial heap, and starts ``gdal_spark.session.get_spark``
  on ``local[nproc]``.
* ``stop_session`` stops Spark, closes the gateway JVM and waits until
  every process the benchmark started has exited.
* ``RssSampler`` samples the resident set of the whole process tree
  (driver, JVM, Python workers) and keeps the peak since the last
  ``take``.
* ``Tracer`` keeps spans in memory (name, start, end, parent, run id)
  with deltas of Spark's status-store counters, and writes them out as
  JSON lines when the run ends.  *Aside* spans mark work done only to
  compute a metric; ``Tracer.minus_aside`` takes it out of a span.
"""

from __future__ import annotations

import json
import os
import shlex
import signal
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
HEAP_MB = 3072  # initial JVM heap, above the ~2.2 GB either workload uses


# ------------------------------------------------------------ process tree
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of the summed RSS of this process and all its descendants,
    since the sampler started or since the last ``take``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        with self._lock:
            self.peak = max(self.peak, total)

    def take(self) -> int:
        """The peak so far (sampled now too); starts a new peak."""
        self.sample()
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ Spark session
def start_session(root: str, work: str, cpus: int):
    """Start the engine's session with every scratch path under ``work``.

    Python workers import ``gdal_spark`` from ``root``; the JVM, its
    shuffle/spill dirs and Python temp files stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # The engine asks for a 24g driver heap, which G1 grows in steps whose
    # timing depends on GC pauses, and the JVM's RSS follows the committed
    # heap: runs of the same code differed by a whole step (~0.6-0.9 GB).
    # Committing and touching HEAP_MB up front makes the heap's share of
    # the RSS the same in every run; the heap still grows past it when the
    # program needs more.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP_MB}m -XX:+AlwaysPreTouch"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))} "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp
    from gdal_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the gateway JVM, and wait for every descendant
    process to exit (SIGKILL whatever outlives ``timeout``)."""
    from pyspark import SparkContext

    me = os.getpid()
    pids = descendants(me)
    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=timeout / 2)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        pids = sorted(set(pids) | set(descendants(me)))
        deadline = time.monotonic() + timeout / 2
        while True:
            alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
            for p in alive:  # reap direct children that already exited
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            alive = [p for p in alive if _alive(p)]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------------ status store
class StageCounters:
    """Cumulative task / shuffle / GC counters of every finished Spark job,
    read from the context's status store (no UI or REST server needed)."""

    FIELDS = ("tasks", "shuffle_read_bytes", "shuffle_write_bytes", "gc_s")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jobs_done: set[int] = set()
        self._stages_done: set[int] = set()
        self.total = dict.fromkeys(self.FIELDS, 0)

    def read(self) -> dict:
        self._bus.waitUntilEmpty()
        for jid in sorted(self._tracker.getJobIdsForGroup(None)):
            if jid in self._jobs_done:
                continue
            info = self._tracker.getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                continue
            for sid in info.stageIds:
                if sid in self._stages_done:
                    continue
                self._stages_done.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Exception:  # skipped stage never submitted
                    continue
                self.total["tasks"] += s.numCompleteTasks()
                self.total["shuffle_read_bytes"] += s.shuffleReadBytes()
                self.total["shuffle_write_bytes"] += s.shuffleWriteBytes()
                self.total["gc_s"] += s.jvmGcTime() / 1000.0
            self._jobs_done.add(jid)
        return dict(self.total)


# ------------------------------------------------------------ tracing
class Tracer:
    """In-memory spans at layer boundaries.  Disabled tracers hand out
    ``None`` spans and touch nothing, so untraced passes pay no cost."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.tag: str | None = None  # stamped on spans opened while set
        self._stack: list[int] = []
        self._origin = time.monotonic()
        self._counters = StageCounters(spark) if enabled else None

    @contextmanager
    def span(self, name: str, aside: bool = False, **attrs):
        """Time the block as span ``name``.  ``aside`` marks work done only
        to compute a metric (e.g. a count), not work the pipeline does."""
        if not self.enabled:
            yield None
            return
        c0 = self._counters.read()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "tag": self.tag,
            "aside": aside,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.monotonic() - self._origin
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self._origin
            self._stack.pop()
            c1 = self._counters.read()
            for k in StageCounters.FIELDS:
                rec[k] = c1[k] - c0[k]

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover
        (children run sequentially, so their durations simply add)."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.duration(rec) - sum(self.duration(k) for k in kids)

    def minus_aside(self, rec: dict) -> dict:
        """``rec``'s duration and counters without its aside descendants."""
        under = {rec["id"]}
        out = {"wall": self.duration(rec), **{k: rec[k] for k in StageCounters.FIELDS}}
        for s in self.spans[rec["id"] + 1 :]:  # descendants follow their parent
            if s["parent"] not in under:
                continue
            if s["aside"]:
                out["wall"] -= self.duration(s)
                for k in StageCounters.FIELDS:
                    out[k] -= s[k]
            else:
                under.add(s["id"])
        return out

    def named(self, name: str) -> list[dict]:
        """Finished spans called ``name``; untagged ones when any exist."""
        recs = [s for s in self.spans if s["name"] == name and "end" in s]
        return [s for s in recs if s["tag"] is None] or recs

    def median_self(self, name: str) -> float | None:
        recs = self.named(name)
        return statistics.median(self.self_time(r) for r in recs) if recs else None

    def median_duration(self, name: str) -> float | None:
        recs = self.named(name)
        return statistics.median(self.duration(r) for r in recs) if recs else None

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

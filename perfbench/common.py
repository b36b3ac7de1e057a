"""Shared benchmark plumbing: the run's private work directory, the Spark
session, memory sampling, spans, the streaming progress listener and the
event-log fold that turns Spark's own records into per-layer numbers."""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Every file a run writes lives under here, inside the checkout (a run
#: reads and writes nowhere else), git-ignored, and removed when the run ends.
WORK_PARENT = os.path.join(ROOT, ".perfbench_work")


class BenchError(RuntimeError):
    """A check failed; the run exits non-zero without printing a result."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise BenchError(msg)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile, ``q`` in (0, 1]."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class WorkDir:
    """``.perfbench_work/<pid>``: inputs, checkpoints, event logs, temp
    files, warehouse. Removed (and its parent, when empty) on close."""

    def __init__(self) -> None:
        self.path = os.path.join(WORK_PARENT, str(os.getpid()))
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        tmp = self.sub("tmp")
        # Python workers and tempfile users inherit these
        os.environ["TMPDIR"] = tmp
        os.environ["TMP"] = tmp
        os.environ["TEMP"] = tmp

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_PARENT)
        except OSError:
            pass


def start_spark(work: WorkDir, app: str, trace: bool):
    """The engine's own session factory with every scratch path pointed
    into the work dir, plus the event log when tracing."""
    from spark_streaming_invoice_anomaly_detection_spark.session import get_spark

    tmp = work.sub("tmp")
    conf = {
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.local.dir": work.sub("local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work.sub('derby')}"
        ),
        "spark.sql.streaming.checkpointLocation": work.sub("checkpoints"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + work.sub("eventlog"),
            }
        )
    return get_spark(app_name=app, extra_conf=conf)


# ---------------------------------------------------------------------------
# Memory: the Spark JVM plus its Python workers, sampled from /proc.
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers it forks), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in descendants(os.getpid()))
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Spans: kept in memory, written out when the run ends.
# ---------------------------------------------------------------------------


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: str | None = None, **attrs) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"name": name, "start": start, "end": end, "parent": parent, **attrs}
                )

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time(), parent, **attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def job_group(spark, group: str):
    """Tag the jobs started inside with ``group`` in the event log, then put
    back the thread's previous group (a streaming query's execution thread
    carries its own, which stopping the query cancels by)."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    previous = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in previous.items():
            sc.setLocalProperty(k, v)


def make_progress_listener():
    """A StreamingQueryListener keeping every progress record as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            rec = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def records(self) -> list[dict]:
            with self._lock:
                return sorted(self.progress, key=lambda p: p["batchId"])

    return ProgressListener()


# ---------------------------------------------------------------------------
# Event log: per job group totals from Spark's own stage records.
# ---------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_mb", 1 / 2**20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
}


def read_event_log(work: WorkDir) -> list[dict]:
    files = sorted(glob.glob(os.path.join(work.path, "eventlog", "**", "*"), recursive=True))
    events = []
    for path in files:
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_event_log(events: list[dict]) -> tuple[dict[str, dict], list[dict]]:
    """-> (per job group: jobs and summed stage metrics, per stage rows).

    A stage row carries its job group, its metrics, and ``stateful`` when
    one of its RDDs is a state-store RDD."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(g, {"jobs": 0})["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
    stages = []
    for e in events:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        row = {k: 0.0 for k, _ in _ACC.values()}
        for acc in info.get("Accumulables", []):
            key = _ACC.get(acc.get("Name"))
            if key and isinstance(acc.get("Value"), (int, float, str)):
                row[key[0]] += float(acc["Value"]) * key[1]
        rdds = " ".join(
            f"{r.get('Name', '')} {r.get('Scope', '')}" for r in info.get("RDD Info", [])
        )
        row["stateful"] = "StateStore" in rdds or "WithState" in rdds
        row["group"] = stage_group.get(info["Stage ID"], "")
        stages.append(row)
        g = groups.setdefault(row["group"], {"jobs": 0})
        for k, _ in _ACC.values():
            g[k] = g.get(k, 0.0) + row[k]
    return groups, stages

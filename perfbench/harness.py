"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: it builds the
session through ``dbus_spark.session.get_spark``, times calls into the
library, samples ``/proc`` for memory, and reads what Spark itself
writes (checkpoint logs, progress events, the uncompressed event log).
No library code is patched.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field


class CheckFailed(Exception):
    """A workload's output differs from its reference."""


def require(cond: bool, what: str) -> None:
    """Output check that survives ``python -O`` (unlike ``assert``)."""
    if not cond:
        raise CheckFailed(what)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- session ---------------------------------------------------------


def session_confs(work: str, traced: bool) -> dict[str, str]:
    """Confs the benchmark overrides on top of the library defaults.

    The library asks for a 48g heap; this sizes it for a small
    shared box. Spark's scratch space and the JVM temp dir stay inside
    the benchmark's work directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        # a fixed, pre-touched heap: the JVM's share of peak RSS is then
        # the same every run instead of following GC timing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + logs,
                # zstd is the default codec and cannot be decoded here
                "spark.eventLog.compress": "false",
            }
        )
    return confs


def start_session(work: str, traced: bool):
    from dbus_spark.session import get_spark

    n = nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_confs=session_confs(work, traced),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_confs(spark) -> dict[str, str]:
    return dict(sorted(spark.sparkContext.getConf().getAll()))


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    gw = spark.sparkContext._gateway
    pid = gw.proc.pid
    tree = process_tree(pid)
    spark.stop()
    gw.shutdown()
    proc = gw.proc
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    for p in tree - {pid}:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


# --- /proc RSS sampler -------------------------------------------------


_TICKS = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, start time in seconds since boot)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat.rsplit(")", 1)[1].split()
        out[int(d)] = (int(fields[1]), int(fields[19]) / _TICKS)
    return out


def process_tree(root: int, min_age_s: float = 0.0) -> set[int]:
    """``root`` and its descendants that have lived at least ``min_age_s``."""
    table = _proc_table()
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in out:
            out.add(p)
            todo.extend(kids.get(p, []))
    return {p for p in out if p == root or now - table[p][1] >= min_age_s}


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    """Resident memory of a process tree. Processes younger than half a
    second are left out: the JVM forks short-lived shell helpers, and a
    fork caught before its ``exec`` reports all of its parent's pages
    as its own."""
    total = 0
    for p in process_tree(root, min_age_s=0.5):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue  # exited between listing and reading
    return total


class RssSampler:
    """Peak resident memory of a process tree (the Spark JVM plus the
    Python workers it forks), sampled from ``/proc`` on a thread."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root = root
        self.period_s = period_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self.samples += 1
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- spans -------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans, written out once at exit. A disabled tracer
    records nothing, so untraced runs pay only the ``if``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(
        self,
        name: str,
        layer: str,
        start: float,
        end: float,
        parent: int | None = None,
        request: str | None = None,
        **attrs,
    ) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            self.spans.append(
                Span(name, layer, start, end, parent, request, attrs)
            )
            return len(self.spans) - 1

    def self_ms_by_layer(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = _union_length(
                [(c.start, c.end) for c in kids.get(i, [])], s.start, s.end
            )
            out[s.layer] = out.get(s.layer, 0.0) + max(
                0.0, (s.end - s.start) - covered
            ) * 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": i,
                        "name": s.name,
                        "layer": s.layer,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "request": s.request,
                        **({"attrs": s.attrs} if s.attrs else {}),
                    }
                    for i, s in enumerate(self.spans)
                ],
                f,
            )


def _union_length(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- streaming progress -----------------------------------------------


def progress_listener():
    """A StreamingQueryListener keeping every progress event as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = json.loads(event.progress.json)
            with self._lock:
                self.events.append(p)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return _Progress()


def iso_to_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


# --- checkpoint files ---------------------------------------------------


def batch_times(ckpt: str) -> dict[int, tuple[float, float]]:
    """batchId -> (mtime of offsets/N, mtime of commits/N), for every
    committed batch of a query's checkpoint."""
    out = {}
    cdir = os.path.join(ckpt, "commits")
    for n in os.listdir(cdir) if os.path.isdir(cdir) else []:
        if not n.isdigit():
            continue
        off = os.path.join(ckpt, "offsets", n)
        out[int(n)] = (
            os.stat(off).st_mtime,
            os.stat(os.path.join(cdir, n)).st_mtime,
        )
    return out


def files_by_batch(ckpt: str) -> dict[int, list[str]]:
    """batchId -> basenames of the files the file source read in it,
    from the source's metadata log, ``N.compact`` files included. A
    file-source batch always reads at least one file, so the library's
    batch-ordered list maps onto batch ids 0, 1, 2, ..."""
    from dbus_spark.streaming.checkpoint import file_source_batches

    return {
        bid: [os.path.basename(p) for p in paths]
        for bid, paths in enumerate(file_source_batches(ckpt))
    }


# --- statistics -----------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: int) -> float:
    """q-th percentile (1..99) by Python's default quantile method."""
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=100)[q - 1])


# --- event log ------------------------------------------------------------

# Python plan nodes by layer: stateless UDF crossings belong to
# ``functions``; stateful and map-style kernels to ``operators``
_UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")


def python_node_layer(node: str) -> str | None:
    if node.startswith(_UDF_NODES):
        return "functions"
    if "WithState" in node:
        return "operators.state"
    if "InPandas" in node or "InArrow" in node or "Python" in node:
        return "operators.kernel"
    return None


@dataclass
class EventLog:
    jobs: list = field(default_factory=list)  # dicts: id, start, end, props, stages
    stages: dict = field(default_factory=dict)  # id -> (start, end)
    task: dict = field(default_factory=dict)  # summed task metrics
    nodes: dict = field(default_factory=dict)  # (layer, metric) -> value


def read_eventlog(log_root: str, t0: float, t1: float) -> EventLog:
    """Jobs, stages, task metrics and SQL node metrics of the jobs
    submitted in [t0, t1], from the newest application's event log."""
    apps = sorted(
        (os.path.join(log_root, d) for d in os.listdir(log_root)),
        key=os.path.getmtime,
    )
    app = apps[-1]
    files = (
        sorted(
            os.path.join(app, f)
            for f in os.listdir(app)
            if f.startswith("events_")
        )
        if os.path.isdir(app)
        else [app]
    )
    acc_info: dict[int, tuple[str, str, str, str]] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    driver_updates: list[tuple[int, int, float]] = []
    exec_time: dict[int, float] = {}

    def walk(node: dict) -> None:
        loc = node.get("metadata", {}).get("Location", "")
        for m in node.get("metrics", []):
            acc_info[m["accumulatorId"]] = (
                node["nodeName"],
                m["name"],
                m["metricType"],
                loc,
            )
        for c in node.get("children", []):
            walk(c)

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith("SQLExecutionStart"):
                    exec_time[e["executionId"]] = e["time"] / 1000.0
                    walk(e["sparkPlanInfo"])
                elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                    walk(e["sparkPlanInfo"])
                elif ev.endswith("DriverAccumUpdates"):
                    for acc, v in e["accumUpdates"]:
                        driver_updates.append((e["executionId"], acc, v))
                elif ev == "SparkListenerJobStart":
                    j = {
                        "id": e["Job ID"],
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "props": e.get("Properties", {}),
                        "stages": e["Stage IDs"],
                    }
                    jobs[j["id"]] = j
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Submission Time" in si:
                        stage_span[si["Stage ID"]] = (
                            si["Submission Time"] / 1000.0,
                            si["Completion Time"] / 1000.0,
                        )
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)

    out = EventLog()
    keep = {j["id"] for j in jobs.values() if t0 <= j["start"] <= t1}
    out.jobs = [jobs[i] for i in sorted(keep) if jobs[i]["end"] is not None]
    keep_stages = {s for j in out.jobs for s in j["stages"]}
    out.stages = {s: v for s, v in stage_span.items() if s in keep_stages}
    tm = {"executor_cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read_bytes": 0.0,
          "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "tasks": 0.0}
    nodes: dict[tuple[str, str], float] = {}

    def add_node(acc: int, value: float) -> None:
        info = acc_info.get(acc)
        if info is None:
            return
        node, name, mtype, loc = info
        if mtype == "nsTiming":
            value /= 1e6  # ns -> ms
        layer = python_node_layer(node)
        if layer:
            key = (layer, name)
        elif node.startswith("Scan") and loc:  # file scans, not in-memory RDDs
            key = ("scan:" + loc, name)
        else:
            return
        nodes[key] = nodes.get(key, 0.0) + value

    for e in tasks:
        if e["Stage ID"] not in keep_stages:
            continue
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        tm["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        tm["gc_ms"] += m.get("JVM GC Time", 0)
        tm["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        tm["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        tm["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        tm["tasks"] += 1
        for a in e["Task Info"].get("Accumulables", []):
            try:
                add_node(a["ID"], float(a["Update"]))
            except (KeyError, TypeError, ValueError):
                continue  # non-numeric accumulables
    for ex, acc, v in driver_updates:
        if t0 <= exec_time.get(ex, 0.0) <= t1:
            add_node(acc, float(v))
    out.task = tm
    out.nodes = nodes
    return out

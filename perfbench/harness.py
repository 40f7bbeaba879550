"""What every workload shares: the Spark session, progress collection,
peak-RSS sampling, spans, and small statistics helpers.

The harness drives the system only through its public functions and
times each call from outside; nothing here patches the system.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from atiesh_spark.metrics import MetricsListener
from atiesh_spark.session import get_spark


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def session(work: str, app_name: str):
    """``session.get_spark`` at ``local[nproc]`` with every file Spark
    writes kept under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name=app_name,
        cpus=cpus(),
        shuffle_partitions=cpus(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_jvm() -> None:
    """End the JVM that ``get_spark`` launched and wait for it (its
    Python daemon and workers exit with it). ``SparkSession.stop`` only
    stops the context; the gateway JVM would otherwise live until this
    process exits."""
    import sys

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.terminate()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (``q`` in [0, 1]); 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def median(values: list[float]) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def iso_ms(ts: str) -> float:
    """Epoch milliseconds of a progress timestamp ('...T..:..:..sssZ')."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


class ProgressLog(MetricsListener):
    """``MetricsListener`` that also keeps every progress record, as the
    parsed ``StreamingQueryProgress`` json, keyed by (query name, batch
    id)."""

    def __init__(self) -> None:
        super().__init__()
        self.records: dict[tuple[str, int], dict] = {}
        self._lock = threading.Lock()

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        rec = json.loads(event.progress.json)
        with self._lock:
            self.records[(rec["name"], rec["batchId"])] = rec

    def wait_for(self, name: str, batch_id: int, timeout_s: float = 60.0) -> None:
        """Progress events arrive asynchronously; block until the one for
        ``batch_id`` of query ``name`` has been delivered."""
        deadline = time.monotonic() + timeout_s
        while (name, batch_id) not in self.records:
            if time.monotonic() > deadline:
                raise TimeoutError(f"no progress event for {name} batch {batch_id}")
            time.sleep(0.01)

    def progress(self, name: str) -> list[dict]:
        """Query ``name``'s progress records in batch order."""
        with self._lock:
            return [self.records[k] for k in sorted(self.records) if k[0] == name]


def commit_ms(rec: dict) -> float:
    """When a micro-batch's output was committed: the progress timestamp
    (trigger start) plus its ``triggerExecution`` duration."""
    return iso_ms(rec["timestamp"]) + rec["durationMs"].get("triggerExecution", 0)


class RssSampler:
    """Peak summed RSS of the JVM and every process under it (the
    Python daemon and workers), sampled from ``/proc`` every 250 ms.

    A process counts from its second sample on: one seen only once
    lived under 250 ms, such as a child the JVM or the Python daemon is
    forking (Hadoop shells out for file permissions), which until it
    execs shares its parent's pages and would count them twice."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._pid: int | None = None
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def attach(self, spark) -> None:
        self._pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        if not self._thread.is_alive():
            self._thread.start()

    @staticmethod
    def _tree(root: int) -> dict[int, int]:
        """RSS (kB) of ``root`` and each of its descendants, by pid."""
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            ppid = kb = 0
            try:
                with open(f"/proc/{entry}/status", encoding="ascii", errors="replace") as fh:
                    for line in fh:
                        if line.startswith("PPid:"):
                            ppid = int(line.split()[1])
                        elif line.startswith("VmRSS:"):
                            kb = int(line.split()[1])
            except OSError:
                continue  # the process ended while we listed it
            rss[int(entry)] = kb
            children.setdefault(ppid, []).append(int(entry))
        out, todo = {}, [root]
        while todo:
            pid = todo.pop()
            out[pid] = rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> None:
        if self._pid is None:
            return
        tree = self._tree(self._pid)
        workers = [kb for pid, kb in tree.items() if pid != self._pid and pid in self._seen]
        self._seen = set(tree)
        total = tree.get(self._pid, 0) + sum(workers)
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_parts = {"jvm": tree.get(self._pid, 0), "workers": sum(workers),
                               "n_workers": len(workers)}

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self.sample()

    def stop(self) -> float:
        """Stop sampling (once); the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            if self._thread.is_alive():
                self._thread.join(timeout=5)
            self.sample()
        return self.peak_kb / 1024.0


class Tracer:
    """In-memory spans: name, start, end (seconds, perf_counter base) and
    parent. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a micro-batch phase)."""
        sid = len(self.spans)
        if self.enabled:
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([dict(s, self=selfs[s["id"]]) for s in self.spans], fh)

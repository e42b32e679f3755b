"""Measurement helpers: spans, micro-batch spans from streaming progress,
Spark status store counters, and a process-memory sampler.

Spans are recorded from the benchmark's own code around calls into the
engine; nothing here patches ``logstash_spark`` except ``wrap_sink_handle``,
which the traced run alone applies.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time

from metrics import STREAM_PHASES

# the phases a micro-batch runs in order; triggerExecution spans them all
PHASES = STREAM_PHASES[:-1]
RSS_INTERVAL_S = 0.2


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of a non-empty sequence."""
    s = sorted(values)
    return s[max(math.ceil(q * len(s)) - 1, 0)]


def median(values) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


class Spans:
    """In-memory span log: name, start, end, parent and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        with self._lock:
            self.items.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id})

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), parent)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed duration not covered by child spans."""
        by_parent: dict[str, list[dict]] = {}
        for s in self.items:
            if s["parent"]:
                by_parent.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.items:
            kids = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in by_parent.get(s["name"], ())
                          if c["end"] > s["start"] and c["start"] < s["end"])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.items,
                       "self_s": self.self_times()}, f)


def batch_start(p: dict) -> float:
    """Wall time (epoch seconds) a micro-batch's trigger started."""
    from datetime import datetime, timezone

    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def batch_spans(spans: Spans, query: str, progress: list[dict], parent: str) -> None:
    """A span for the query's lifetime (first trigger to last batch end),
    one per micro-batch, and each batch's durationMs phases as children,
    laid out in the order the micro-batch engine runs them."""
    if not progress:
        return
    ends = []
    for p in progress:
        start = batch_start(p)
        d = p.get("durationMs") or {}
        name = f"streaming.{query}.batch"
        ends.append(start + d.get("triggerExecution", 0) / 1000)
        spans.add(name, start, ends[-1], parent=f"streaming.{query}.query")
        t = start
        for ph in PHASES:
            if ph in d:
                spans.add(f"streaming.{query}.{ph}", t, t + d[ph] / 1000, parent=name)
                t += d[ph] / 1000
    spans.add(f"streaming.{query}.query", batch_start(progress[0]), max(ends), parent=parent)


def wrap_sink_handle(spans: Spans):
    """Time every ``ExactlyOnceParquetSink.handle`` call; return an undo."""
    from logstash_spark.sinks.exactly_once import ExactlyOnceParquetSink

    original = ExactlyOnceParquetSink.handle

    def handle(self, df, epoch_id):
        query = os.path.basename(self.path.rstrip("/"))
        with spans.span(f"sinks.{query}.handle", parent=f"streaming.{query}.addBatch"):
            return original(self, df, epoch_id)

    ExactlyOnceParquetSink.handle = handle
    return lambda: setattr(ExactlyOnceParquetSink, "handle", original)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def _seq(jvm, seq):
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def shuffle_write(spark, job_groups) -> tuple[int, int]:
    """Shuffle bytes and records written by the stages of every job whose
    group is in ``job_groups`` (a streaming query's batches run under its
    runId as job group)."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    groups = set(job_groups)
    stage_ids = set()
    for job in _seq(jvm, store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() in groups:
            stage_ids.update(int(s) for s in _seq(jvm, job.stageIds()))
    nbytes = nrecs = 0
    for sid in stage_ids:
        for attempt in _seq(jvm, store.stageData(sid, False, None, False, None)):
            nbytes += attempt.shuffleWriteBytes()
            nrecs += attempt.shuffleWriteRecords()
    return nbytes, nrecs


def gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000


# ---------------------------------------------------------------------------
# resident memory of the engine's processes
# ---------------------------------------------------------------------------

class RssSampler(threading.Thread):
    """Samples the memory of a process tree (the driver JVM and the Python
    workers under it) and keeps the peak, in MB.  Each process counts its
    proportional set size (``Pss``): resident pages, with pages shared
    between processes split among them, so a child the JVM forks is not
    counted twice."""

    def __init__(self):
        super().__init__(daemon=True, name="perfbench-rss")
        self.root: int | None = None
        self.peak_mb = 0.0
        self._halt = threading.Event()

    @staticmethod
    def _tree_pss_kb(root: int) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        kids: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            kids.setdefault(ppid, []).append(pid)
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def watch(self, root: int) -> None:
        self.root = root
        if not self.is_alive():
            self.start()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_pss_kb(self.root) / 1024)
            self._halt.wait(RSS_INTERVAL_S)

    def stop(self) -> float:
        self._halt.set()
        if self.is_alive():
            self.join(timeout=5)
        return self.peak_mb

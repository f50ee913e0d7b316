"""Traced-run tooling: call spans, Spark event-log parsing and a
streaming progress listener; ``run.per_layer`` rolls them up by layer.

Every number here is read from outside the engine: spans are taken
around the benchmark's own calls into each layer, job/stage/task and
operator counters come from Spark's event log, and micro-batch
numbers from a ``StreamingQueryListener`` the benchmark registers.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
# a scan of the curation corpus counts toward ``operators.doc_scans``
DOC_MARKER = "documents.parquet"

# event-log JSON keys
_JOB_START = "SparkListenerJobStart"
_TASK_END = "SparkListenerTaskEnd"
_BLOCK = "SparkListenerBlockUpdated"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
_SQL_DRIVER_ACC = (
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
)
_PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow",
                 "BatchEvalPython")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder.  ``span`` nests: the innermost open
    span is the parent of the next one.  While ``tag`` is set it is
    called with the span id on entry (and the previous id on exit) so
    Spark jobs submitted inside carry it as a local property."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.tag = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer,
                 parent.id if parent else None, self.run_id, time.time())
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.id)
        self._stack.append(s)
        if self.tag is not None:
            self.tag(str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.tag is not None:
                self.tag(str(self._stack[-1].id) if self._stack else None)

    def self_intervals(self, s: Span) -> list[tuple[float, float]]:
        """``s``'s interval minus the parts its children cover."""
        return _subtract([(s.start, s.end)],
                         [(self.spans[c].start, self.spans[c].end)
                          for c in s.children])

    def innermost_at(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (
                best is None or s.start >= best.start
            ):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer,
                    "parent": s.parent, "run_id": s.run_id,
                    "start": s.start, "end": s.end,
                }) + "\n")


def _merge(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _subtract(base, cut) -> list[tuple[float, float]]:
    out = []
    cut = _merge(cut)
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _length(iv) -> float:
    return sum(b - a for a, b in iv)


@dataclass
class _Acc:
    node: str
    metric: str
    kind: str
    location: str


@dataclass
class SpanCounters:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    scan_files: int = 0
    scan_rows: int = 0
    scan_bytes: int = 0
    scan_tasks: int = 0
    bytes_written: int = 0
    files_written: int = 0
    python_s: float = 0.0
    python_bytes: int = 0
    doc_scans: int = 0
    source_scans: int = 0


class EventLog:
    """Parse an uncompressed, non-rolling Spark event log and attribute
    each job to a span: by the ``perfbench.span`` local property when
    the job carries it, else to the innermost span open at the job's
    submission time."""

    def __init__(self, spans: Spans, source_marker: str) -> None:
        self.spans = spans
        self.source_marker = source_marker
        self.by_span: dict[int, SpanCounters] = defaultdict(SpanCounters)
        self.task_intervals: list[tuple[float, float]] = []
        self.peak_block_bytes = 0
        self._blocks: dict[str, int] = {}
        self._accs: dict[int, _Acc] = {}
        self._stage_span: dict[int, int | None] = {}
        self._exec_span: dict[str, int | None] = {}
        self._scan_seen: set[tuple[int, int]] = set()

    def _span_of(self, props: dict, t_ms: float) -> int | None:
        sid = props.get(SPAN_PROPERTY)
        if sid is not None and sid.isdigit():
            return int(sid)
        s = self.spans.innermost_at(t_ms / 1000.0)
        return s.id if s else None

    def _walk_plan(self, info: dict) -> None:
        loc = info.get("metadata", {}).get("Location", "")
        if not loc and info.get("nodeName", "").startswith("Scan"):
            loc = info.get("simpleString", "")
        for m in info.get("metrics", []):
            self._accs[m["accumulatorId"]] = _Acc(
                info.get("nodeName", ""), m["name"], m.get("metricType", ""),
                loc,
            )
        for c in info.get("children", []):
            self._walk_plan(c)

    def parse(self, log_dir: str) -> None:
        for path in sorted(glob.glob(f"{log_dir}/*")):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == _JOB_START:
            sid = self._span_of(e.get("Properties") or {},
                                e["Submission Time"])
            if sid is not None:
                self.by_span[sid].jobs += 1
            for st in e.get("Stage IDs", []):
                self._stage_span[st] = sid
            ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if ex is not None:
                self._exec_span.setdefault(ex, sid)
        elif kind in (_SQL_START, _SQL_AQE):
            self._walk_plan(e["sparkPlanInfo"])
            if kind == _SQL_START:
                s = self.spans.innermost_at(e["time"] / 1000.0)
                self._exec_span.setdefault(
                    str(e["executionId"]), s.id if s else None)
        elif kind == _SQL_DRIVER_ACC:
            # file listing metrics of scans are posted from the driver
            sid = self._exec_span.get(str(e["executionId"]))
            if sid is None:
                return
            c = self.by_span[sid]
            for acc_id, value in e["accumUpdates"]:
                acc = self._accs.get(acc_id)
                if acc is None:
                    continue
                if acc.metric == "number of written files":
                    c.files_written += int(value)
                elif acc.node.startswith("Scan") and (
                    acc.metric == "number of files read"
                ):
                    c.scan_files += int(value)
                    if value and (sid, acc_id) not in self._scan_seen:
                        self._scan_seen.add((sid, acc_id))
                        c.doc_scans += DOC_MARKER in acc.location
                        c.source_scans += bool(self.source_marker) and (
                            self.source_marker in acc.location)
        elif kind == _TASK_END:
            self._task_end(e)
        elif kind == _BLOCK:
            self._block(e)

    def _task_end(self, e: dict) -> None:
        info = e["Task Info"]
        self.task_intervals.append(
            (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
        sid = self._stage_span.get(e["Stage ID"])
        if sid is None:
            return
        c = self.by_span[sid]
        c.tasks += 1
        m = e.get("Task Metrics") or {}
        c.run_s += m.get("Executor Run Time", 0) / 1000.0
        c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        c.gc_s += m.get("JVM GC Time", 0) / 1000.0
        c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        inp = m.get("Input Metrics") or {}
        if inp.get("Bytes Read", 0) > 0:
            c.scan_tasks += 1
        c.scan_bytes += inp.get("Bytes Read", 0)
        c.bytes_written += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        for a in info.get("Accumulables", []):
            acc = self._accs.get(a["ID"])
            if acc is None:
                continue
            val = int(a.get("Update", 0) or 0)
            if acc.node.startswith("Scan") and acc.metric == (
                "number of output rows"
            ):
                c.scan_rows += val
            elif acc.node in _PYTHON_NODES:
                if acc.metric == "time to run Python workers":
                    c.python_s += val / (1e9 if acc.kind == "nsTiming"
                                         else 1000.0)
                elif acc.metric == "data sent to Python workers":
                    c.python_bytes += val

    def _block(self, e: dict) -> None:
        """Track storage held by persisted and checkpointed RDD blocks.
        Block updates carry no timestamp, so the peak is over the whole
        traced context."""
        b = e["Block Updated Info"]
        if not b["Block ID"].startswith("rdd_"):
            return
        size = b["Memory Size"] + b["Disk Size"]
        if size:
            self._blocks[b["Block ID"]] = size
        else:
            self._blocks.pop(b["Block ID"], None)
        self.peak_block_bytes = max(self.peak_block_bytes,
                                    sum(self._blocks.values()))

    def busy_gap(self, s: Span) -> float:
        """Self time of ``s`` during which no task of any job runs."""
        return _length(_subtract(self.spans.self_intervals(s),
                                 self.task_intervals))


class StreamProgress:
    """Collects ``QueryProgressEvent`` payloads through a Python
    ``StreamingQueryListener`` registered on the session."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        return _Listener()

    def summary(self) -> dict[str, float]:
        p = self.progress
        trig = [x["durationMs"].get("triggerExecution", 0) / 1000.0
                for x in p]
        commit = sum(
            x["durationMs"].get("walCommit", 0)
            + x["durationMs"].get("commitOffsets", 0)
            + sum(o.get("commitTimeMs", 0) for o in x.get("stateOperators", []))
            for x in p
        ) / 1000.0
        last: dict[str, dict] = {}
        for x in p:
            last[x["runId"]] = x
        return {
            "batches": len(p),
            "empty_batches": sum(1 for x in p if x.get("numInputRows", 0) == 0),
            "batch_p50_s": statistics.median(trig) if trig else 0.0,
            "commit_s": commit,
            "state_rows": sum(o.get("numRowsTotal", 0)
                              for x in last.values()
                              for o in x.get("stateOperators", [])),
            "state_bytes": max(
                (sum(o.get("memoryUsedBytes", 0)
                     for o in x.get("stateOperators", [])) for x in p),
                default=0),
        }

"""Tracing from outside the program: spans, job groups, status stores.

The benchmark's own code records spans run -> workload -> pass -> call
-> {build, action}.  Each build and action runs under its own Spark job
group, so after a pass the jobs (and through them the stages) of every
phase can be read back from Spark's in-process status store.  Streaming
micro-batches run under their query's ``runId`` job group instead of the
caller's, so a ``StreamingQueryListener`` records each query's runId and
per-batch progress; the batches become child spans of the call that was
running when they fired.

Nothing here starts a Spark job: job groups, the status store, the
block-manager storage report and the listener are all bookkeeping.
"""

from __future__ import annotations

import datetime
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# Python-node SQL metrics (PythonSQLMetrics in Spark 4.1) -> layer metric
PYTHON_METRICS = {
    "time to run Python workers": "functions.python_run_s",
    "time to start Python workers": "functions.python_start_s",
    "time to initialize Python workers": "functions.python_start_s",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_returned",
}
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def _parse_shown(shown: str) -> float:
    """Total of a SQL metric display string, in seconds or bytes:
    "total (min, med, max ...)\n8.9 s (2.1 s, ...)" -> 8.9."""
    value, unit = shown.strip().splitlines()[-1].split()[:2]
    return float(value.replace(",", "")) * _UNITS[unit]


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ts = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        d = dict(p.durationMs or {})
        rec = {
            "run_id": str(p.runId),
            "name": p.name,
            "batch_id": p.batchId,
            "start": ts.timestamp(),
            "duration_ms": d,
            "input_rows": p.numInputRows,
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            "state_bytes": sum(op.memoryUsedBytes for op in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


class Tracer:
    """Span recorder plus the Spark-side readers for one session."""

    def __init__(self) -> None:
        self.spark: SparkSession | None = None
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._listener: _ProgressListener | None = None
        # layer metric (or family) -> why it could not be read
        self.unreadable: dict[str, str] = {}

    def attach(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext

    def guarded(self, metric: str, read, default):
        """``read()``, or ``default`` with the failure recorded under
        ``metric`` in :attr:`unreadable`."""
        try:
            return read()
        except Exception as exc:  # noqa: BLE001 — any reader failure is reported, not fatal
            self.unreadable.setdefault(metric, f"{type(exc).__name__}: {exc}"[:300])
            return default

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, kind, time.time(), parent=parent, attrs=dict(attrs))
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def record(self, name: str, kind: str, start: float, end: float) -> None:
        """A finished span under the currently open one."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, kind, start, end, parent=parent))

    def job_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    # -- streaming listener ------------------------------------------------
    def listen(self) -> None:
        listener = _ProgressListener()
        self.spark.streams.addListener(listener)
        self._listener = listener

    def unlisten(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def flush(self) -> list[dict]:
        """Wait for every queued listener event, then return the
        streaming progress seen since the last flush."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return self._listener.drain() if self._listener else []

    # -- status-store readers ----------------------------------------------
    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_ids) -> list[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return sorted(out)

    def stage_metrics(self, stage_ids, seen: set[int]) -> dict[str, float]:
        """Sum per-stage task metrics over stages not in ``seen``.

        ``lastStageAttempt`` raises for stages that were skipped (their
        map output was reused), so those only count as skipped."""
        store = self.sc._jsc.sc().statusStore()
        m = dict.fromkeys(
            ("stages", "skipped_stages", "task_s", "cpu_s", "gc_s",
             "input_bytes", "output_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"),
            0.0,
        )
        for sid in stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j error for a skipped stage
                m["skipped_stages"] += 1
                continue
            if str(st.status().toString()) != "COMPLETE":
                m["skipped_stages"] += 1
                continue
            m["stages"] += 1
            m["task_s"] += st.executorRunTime() / 1e3
            m["cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["input_bytes"] += st.inputBytes()
            m["output_bytes"] += st.outputBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += st.diskBytesSpilled()
        return m

    # -- SQL status store: Python-node metrics ------------------------------
    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def sql_execution_count(self) -> int:
        return int(self._sql_store().executionsCount())

    def python_metrics(self, offset: int) -> list[tuple[set[int], dict[str, float]]]:
        """For each SQL execution from ``offset`` on that has a Python
        node, its job ids and summed Python-node metrics.

        The SQL store keeps only display strings for these metrics
        ("8.9 s", "51.6 KiB"), so values carry three significant digits."""
        store = self._sql_store()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        count = store.executionsCount()
        out = []
        for e in conv.asJava(store.executionsList(offset, count - offset)):
            if not _PYTHON_NODE.search(e.physicalPlanDescription()):
                continue
            eid = e.executionId()
            values = conv.asJava(store.executionMetrics(eid))
            sums = dict.fromkeys(set(PYTHON_METRICS.values()), 0.0)
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                for metric in conv.asJava(node.metrics()):
                    key = PYTHON_METRICS.get(metric.name())
                    shown = values.get(metric.accumulatorId())
                    if key is not None and shown is not None:
                        sums[key] += _parse_shown(shown)
            out.append(({int(j) for j in conv.asJava(e.jobs()).keySet()}, sums))
        return out

    def resident_storage_bytes(self) -> int:
        """Block-manager storage (memory + disk) held by cached RDDs."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def dump(self) -> list[dict]:
        return [asdict(s) | {"seconds": s.seconds} for s in self.spans]

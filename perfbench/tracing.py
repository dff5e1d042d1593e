"""Tracing from outside the program: spans, streaming progress, and the
reduction of Spark's event log to per-layer metrics.

Spans are kept in memory and written to one JSON file at the end of a
traced run. Every span carries the run id, its parent and wall-clock
start/end (epoch seconds), so it lines up with the event log's
millisecond timestamps.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager

# Roots of SQL executions that write or swap a table (the physical
# plan's first operator, "Execute " stripped), as ``sources.io.write_table``
# issues them: saveAsTable, its CTAS and file insert, and the swap's drop
# and rename. Noop sinks (OverwriteByExpression) are not table writes.
WRITE_ROOTS = (
    "SaveAsV1TableCommand",
    "CreateDataSourceTableAsSelectCommand",
    "InsertIntoHadoopFsRelationCommand",
    "DropTable",
    "AlterTableRenameCommand",
)


class Tracer:
    """Spans of one run. ``span`` nests through a stack; ``add`` records
    a span whose bounds were measured elsewhere."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({
            "run_id": self.run_id, "id": sid, "parent": parent,
            "name": name, "start": start, "end": end,
        })
        return sid

    @contextmanager
    def span(self, name: str):
        sid = self.add(name, time.time(), float("nan"))
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def last(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def within(self, name: str, start: float, end: float) -> list[dict]:
        """The spans called ``name`` that opened inside ``[start, end)``."""
        return [s for s in self.spans if s["name"] == name and start <= s["start"] < end]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class EventLogRecorder:
    """Spark's own event log, attached to a running context for one
    window only: an ``EventLoggingListener`` writing one uncompressed,
    non-rolling JSON-lines file. Attaching at run time (rather than with
    ``spark.eventLog.enabled`` at start-up) lets one process time an
    untraced iteration and a traced one under identical warm state."""

    def __init__(self, spark, log_dir: str, name: str) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        jvm = sc._jvm
        conf = (
            self._jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.empty(), jvm.java.net.URI("file:" + log_dir),
            conf, sc._jsc.hadoopConfiguration(),
        )
        self.path = f"{log_dir}/{name}"

    def start(self) -> None:
        self._listener.start()
        self._jsc.addSparkListener(self._listener)

    def stop(self) -> str:
        """Wait until every posted event reached the log, detach, close."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
        return self.path


def progress_listener_class():
    """A ``StreamingQueryListener`` subclass (built lazily so importing
    this module needs no pyspark) that keeps each micro-batch's
    ``durationMs`` and input row count."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.append({
                "name": p.name,
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener


def batch_stats(batches: list[dict]) -> dict[str, float]:
    """Per-batch reductions over the non-empty micro-batches of a drain."""
    work = [b for b in batches if b["rows"] > 0]
    trig = [b["duration_ms"].get("triggerExecution", 0) / 1000.0 for b in work]
    add = [b["duration_ms"].get("addBatch", 0) / 1000.0 for b in work]
    third = max(1, len(add) // 3)
    return {
        "addbatch_s": statistics.median(add),
        "overhead_s": statistics.median(t - a for t, a in zip(trig, add)),
        "growth": statistics.median(add[-third:]) / statistics.median(add[:third]),
    }


def _plan_root(plan: str) -> str:
    lines = plan.splitlines()
    first = lines[1] if len(lines) > 1 and lines[0].startswith("==") else (lines[0] if lines else "")
    first = first.strip().lstrip("*").strip()
    if first.startswith("Execute "):
        first = first[len("Execute "):]
    return first.split(" ")[0]


def _written_file_accums(info: dict, out: set[int]) -> set[int]:
    for m in info.get("metrics", []):
        if m.get("name") == "number of written files":
            out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _written_file_accums(child, out)
    return out


class EventLog:
    """The events of one uncompressed, non-rolling Spark event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: list[dict] = []
        self.tasks: list[dict] = []
        self.executions: dict[int, dict] = {}
        self.progress: list[dict] = []
        file_accums: dict[int, int] = {}  # accumulator id -> execution id
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "exec": _int_or_none(props.get("spark.sql.execution.id")),
                        "root_exec": _int_or_none(props.get("spark.sql.execution.root.id")),
                        "batch_id": _int_or_none(props.get("streaming.sql.batchId")),
                    }
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(e["Job ID"])
                    if job is not None:
                        job["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    s = e["Stage Info"]
                    self.stages.append({
                        "submit": s.get("Submission Time", 0) / 1000.0,
                        "end": s.get("Completion Time", 0) / 1000.0,
                    })
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "launch": info["Launch Time"] / 1000.0,
                        "finish": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    })
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    xid = e["executionId"]
                    self.executions[xid] = {
                        "root": e.get("rootExecutionId", xid),
                        "start": e["time"] / 1000.0,
                        "end": None,
                        "op": _plan_root(e.get("physicalPlanDescription", "")),
                        "files": 0,
                    }
                    for acc in _written_file_accums(e.get("sparkPlanInfo") or {}, set()):
                        file_accums[acc] = xid
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    x = self.executions.get(e["executionId"])
                    if x is not None:
                        x["end"] = e["time"] / 1000.0
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in e.get("accumUpdates", []):
                        xid = file_accums.get(acc)
                        if xid is not None:
                            self.executions[xid]["files"] += int(value)
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = e["progress"]
                    self.progress.append({
                        "batch_id": p["batchId"],
                        "rows": sum(s.get("numInputRows", 0) for s in p.get("sources", [])),
                        "duration_ms": p.get("durationMs", {}),
                    })

    def jobs_in(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs.values() if start <= j["submit"] < end]

    def window(self, start: float, end: float, slots: int) -> dict[str, float]:
        """Reduce everything that started inside ``[start, end)``."""
        jobs = self.jobs_in(start, end)
        tasks = [t for t in self.tasks if start <= t["launch"] < end]
        stages = [s for s in self.stages if start <= s["submit"] < end]
        busy = _union_seconds(
            [(j["submit"], j["end"] if j["end"] is not None else end) for j in jobs],
            start, end,
        )
        # a write nests executions (SaveAsV1Table -> CTAS -> InsertInto),
        # and inside foreachBatch it nests under the micro-batch's own
        # execution: time the outermost write, count every job under one
        writes = {
            xid for xid, x in self.executions.items()
            if x["op"] in WRITE_ROOTS and start <= x["start"] < end
        }
        outer = [
            x for xid, x in self.executions.items()
            if xid in writes and (x["root"] == xid or x["root"] not in writes)
        ]
        wall = end - start
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.job_gap_s": wall - busy,
            "spark.slot_busy_ratio": sum(t["run_s"] for t in tasks) / (wall * slots),
            "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "spark.shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
            "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "spark.input_bytes": sum(t["input_bytes"] for t in tasks),
            "spark.output_bytes": sum(t["output_bytes"] for t in tasks),
            "spark.files_written": sum(
                x["files"] for x in self.executions.values()
                if start <= x["start"] < end
            ),
            "sources.write_jobs": sum(
                1 for j in jobs if j["exec"] in writes or j["root_exec"] in writes
            ),
            "sources.write_s": sum((x["end"] or end) - x["start"] for x in outer),
        }

    def jobs_per_batch(self, start: float, end: float) -> float:
        """Median number of jobs per streaming micro-batch (jobs grouped
        by their ``streaming.sql.batchId`` property)."""
        per: dict[int, int] = {}
        for j in self.jobs_in(start, end):
            if j["batch_id"] is not None:
                per[j["batch_id"]] = per.get(j["batch_id"], 0) + 1
        return float(statistics.median(per.values())) if per else 0.0


def _int_or_none(v) -> int | None:
    return int(v) if v not in (None, "") else None


def _union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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

"""Tracing for the benchmark's traced run: op windows, py4j round trips,
Catalyst phases and a fold of the Spark event log into per-op numbers.

Everything here observes the engine from outside. Windows are opened
around the benchmark's own calls into each layer; py4j commands are
counted by wrapping the gateway client; Spark jobs, stages and their
accumulables come from the event log and are attributed to the op
window their job was submitted in, so jobs submitted from a pool thread
land on the op that started the pool. SQL executions are attributed the
same way and contribute the engine's own SQL metrics: files read and
rows that reached a top-k.
"""

from __future__ import annotations

import json
import math
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j import protocol
from py4j.java_gateway import GatewayClient

# py4j object-release commands are sent when Python garbage-collects a
# JavaObject, at times that do not repeat from run to run
_RELEASE_PREFIX = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

CATALYST_PHASES = ("analysis", "optimization", "planning")

# event-log accumulable name -> (folded key, scale to the reported unit)
STAGE_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
    "time to run Python workers": ("python_s", 1e-3),
}
FOLDED_KEYS = ("jobs", "stages", "tasks") + tuple(dict.fromkeys(k for k, _ in STAGE_ACCUMULABLES.values()))

_SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListener"
# SQL metrics of the plan nodes, as the engine names them
FILES_READ = "number of files read"
OUTPUT_ROWS = "number of output rows"
TOP_K_NODE = "TakeOrderedAndProject"


@dataclass
class Window:
    """One phase of one op: [start_ms, end_ms] on the wall clock the
    event log also uses."""

    op_id: int
    op: str
    phase: str
    start_ms: float
    end_ms: float = float("inf")
    py4j_calls: int = 0


@dataclass
class Tracer:
    """Spans and counters of a traced run. `enabled=False` makes every
    hook a no-op, which is how the timed run uses it."""

    enabled: bool
    windows: list[Window] = field(default_factory=list)
    catalyst: dict[int, dict[str, float]] = field(default_factory=dict)
    _active: Window | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _orig_send = None

    def install(self) -> None:
        """Wrap the py4j gateway client so commands sent inside an open
        window are counted."""
        if self._orig_send is not None:
            return
        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            w = tracer._active
            if w is not None and not command.startswith(_RELEASE_PREFIX):
                with tracer._lock:
                    w.py4j_calls += 1
            return orig(client, command, *args, **kwargs)

        self._orig_send = orig
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig_send is not None:
            GatewayClient.send_command = self._orig_send
            self._orig_send = None

    def open(self, op_id: int, op: str, phase: str) -> None:
        if self.enabled:
            self.close()
            w = Window(op_id, op, phase, time.time() * 1000)
            self.windows.append(w)
            self._active = w

    def close(self) -> None:
        if self.enabled and self._active is not None:
            self._active.end_ms = time.time() * 1000
            self._active = None

    def read_catalyst(self, op_id: int, df) -> None:
        """Catalyst phase durations of the op's result DataFrame, read
        from its QueryExecution tracker outside any op window."""
        if not self.enabled or df is None or not hasattr(df, "_jdf"):
            return
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in CATALYST_PHASES:
            summary = phases.get(name)
            out[name] = summary.get().durationMs() / 1000 if summary.isDefined() else 0.0
        self.catalyst[op_id] = out


def read_event_log(path: str) -> tuple[list[dict], dict[int, dict]]:
    """Parse an uncompressed Spark event log into jobs (id, submit and
    end time in ms, stage ids) and completed stages (tasks and folded
    accumulables)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"id": ev["Job ID"], "submit_ms": ev["Submission Time"],
                                      "end_ms": None, "stage_ids": list(ev["Stage IDs"])}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                folded = defaultdict(float)
                folded["tasks"] = info["Number of Tasks"]
                for acc in info.get("Accumulables", []):
                    key = STAGE_ACCUMULABLES.get(acc["Name"])
                    if key is not None:
                        folded[key[0]] += float(acc["Value"]) * key[1]
                # a retried stage attempt replaces the earlier one's numbers
                stages[info["Stage ID"]] = dict(folded)
    ordered = sorted(jobs.values(), key=lambda j: j["id"])
    # a stage runs in the first job that lists it; later jobs that list
    # it again reuse its shuffle output and skip it
    owned: set[int] = set()
    for job in ordered:
        job["ran_stages"] = [s for s in job["stage_ids"] if s in stages and s not in owned]
        owned.update(job["ran_stages"])
    return ordered, stages


def read_sql_executions(path: str) -> list[dict]:
    """The SQL executions of an uncompressed Spark event log, each with
    its start time (`submit_ms`, so executions attribute to windows as
    jobs do) and two numbers the engine reports in its SQL metrics:
    `files_read`, the files its scans read, and `topk_input_rows`, the
    rows that reached its top-k (the output of the first node below a
    TakeOrderedAndProject that counts its rows). Adaptive execution
    replans a query as it runs; the top-k input is read from the last
    plan, the files from every scan any plan held."""
    executions: dict[int, dict] = {}
    values: dict[int, float] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind in (_SQL_EVENT + "SQLExecutionStart", _SQL_EVENT + "SQLAdaptiveExecutionUpdate"):
                ex = executions.setdefault(ev["executionId"], {"id": ev["executionId"], "file_ids": set()})
                if "time" in ev:
                    ex["submit_ms"] = ev["time"]
                ex["plan"] = ev["sparkPlanInfo"]
                ex["file_ids"].update(_metric_ids(ev["sparkPlanInfo"], FILES_READ))
            elif kind == _SQL_EVENT + "DriverAccumUpdates":
                values.update((acc_id, float(v)) for acc_id, v in ev["accumUpdates"])
            elif kind == "SparkListenerStageCompleted":
                # a SQL metric's value is the node's running total, so the
                # last stage to report it holds its final value
                for acc in ev["Stage Info"].get("Accumulables", []):
                    if acc.get("Metadata") == "sql":
                        values[acc["ID"]] = float(acc["Value"])
    out = []
    for ex in sorted(executions.values(), key=lambda e: e["id"]):
        topk = _topk_input_ids(ex["plan"])
        out.append({"id": ex["id"], "submit_ms": ex["submit_ms"],
                    "files_read": sum(values.get(i, 0.0) for i in ex["file_ids"]),
                    "topk_input_rows": sum(values.get(i, 0.0) for i in topk)})
    return out


def _metric_ids(node: dict, name: str) -> list[int]:
    ids = [m["accumulatorId"] for m in node["metrics"] if m["name"] == name]
    for child in node["children"]:
        ids += _metric_ids(child, name)
    return ids


def _topk_input_ids(node: dict) -> list[int]:
    """Accumulator ids of the row counts that feed each top-k node: the
    first node down its single-child chain with an output-row count."""
    if node["nodeName"] != TOP_K_NODE:
        return [i for child in node["children"] for i in _topk_input_ids(child)]
    below = node["children"]
    while len(below) == 1:
        ids = [m["accumulatorId"] for m in below[0]["metrics"] if m["name"] == OUTPUT_ROWS]
        if ids:
            return ids
        below = below[0]["children"]
    return []


def fold_sql(executions: list[dict]) -> dict[str, float]:
    """Sum the SQL-metric numbers of an op's executions."""
    return {k: sum(ex[k] for ex in executions) for k in ("files_read", "topk_input_rows")}


def attribute_jobs(jobs: list[dict], windows: list[Window], start_ms: float, end_ms: float):
    """Assign each job (or SQL execution) submitted in [start_ms, end_ms]
    to the window its submission time falls in. Returns ({window index: [jobs]}, the jobs
    that fell in no window). Event-log times are whole milliseconds, so
    windows are compared on whole milliseconds too; a job in the
    millisecond where one window ends and the next starts goes to the
    later one, which is the window that was running by then."""
    by_window: dict[int, list[dict]] = defaultdict(list)
    stray = []
    bounds = [(math.floor(w.start_ms), math.floor(w.end_ms), i) for i, w in enumerate(windows)]
    for job in jobs:
        t = job["submit_ms"]
        if not math.floor(start_ms) <= t <= math.floor(end_ms):
            continue
        hits = [(lo, i) for lo, hi, i in bounds if lo <= t <= hi]
        if hits:
            by_window[max(hits)[1]].append(job)
        else:
            stray.append(job)
    return by_window, stray


def fold_jobs(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Sum jobs, the stages each job ran, their tasks and their stage
    accumulables."""
    out = dict.fromkeys(FOLDED_KEYS, 0.0)
    for job in jobs:
        out["jobs"] += 1
        for sid in job["ran_stages"]:
            out["stages"] += 1
            for k, v in stages[sid].items():
                out[k] += v
    return out


def covered_ms(jobs: list[dict], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by at least one job's
    [submit, end] interval."""
    spans = sorted((max(lo, j["submit_ms"]), min(hi, j["end_ms"] or hi)) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total

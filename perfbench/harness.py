"""The closed-loop op runner and the metrics computed from its records.

A workload is a seeded sequence of passes; a pass is a list of ops. An op
is one call into a layer of the engine (`construct`) and, when that call
returns a DataFrame, the action that collects it. One client runs the
ops back to back, so a slower engine receives less load.
"""

from __future__ import annotations

import statistics
import time
import traceback
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import CATALYST_PHASES, Tracer, attribute_jobs, covered_ms, fold_jobs, fold_sql


class CheckFailed(Exception):
    """An op returned a wrong result."""


@dataclass
class Op:
    """One call into the engine. `layer` names the layer `construct`
    calls into: "gates" (a registry query), "operators" (an operators.*
    or streaming.* call that returns a DataFrame) or "streaming" (a write
    into a persisted store, which returns nothing and has no action).
    `check` raises CheckFailed on a wrong result; it runs after the timed
    region. `before` and `after` do bookkeeping that must see the store
    right before and after the op (file listings); they run outside the
    op's timing and windows, and `after` returns numbers for the trace:
    "results" marks an ANN search, "store_search" a search of a
    persisted store, "rows_ingested", "files_written" and
    "bytes_written" a write."""

    name: str
    layer: str
    construct: Callable[[], object]
    check: Callable[[object], None] | None = None
    before: Callable[[], None] | None = None
    after: Callable[[object], dict] | None = None

    @property
    def collects(self) -> bool:
        return self.layer != "streaming"


@dataclass
class Record:
    op_id: int
    op: Op
    construct_s: float = 0.0
    action_s: float = 0.0
    result: object = None
    error: str | None = None
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.construct_s + self.action_s


@dataclass
class Runner:
    tracer: Tracer
    outcomes: stats.Outcomes
    records: list[Record] = field(default_factory=list)

    def run(self, op: Op) -> Record:
        rec = Record(len(self.records), op)
        self.records.append(rec)
        self.outcomes.attempt()
        if op.before is not None:
            op.before()
        df = None
        t0 = time.perf_counter()
        t1 = None
        try:
            self.tracer.open(rec.op_id, op.name, "construct")
            df = op.construct()
            t1 = time.perf_counter()
            if op.collects:
                self.tracer.open(rec.op_id, op.name, "action")
                rec.result = df.toPandas()
            else:
                rec.result = df
        except Exception as exc:  # an op failure is a measured outcome
            rec.error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            self.outcomes.fail(op.name, rec.error)
            traceback.print_exc()
        finally:
            t2 = time.perf_counter()
            self.tracer.close()
            rec.construct_s = (t1 or t2) - t0
            rec.action_s = t2 - (t1 or t2)
        if rec.error is None:
            if op.collects:
                self.tracer.read_catalyst(rec.op_id, df)
            if op.after is not None:
                rec.extra.update(op.after(rec.result))
        return rec

    def run_passes(self, passes: Iterator[list[Op]], seconds: float | None, n_passes: int = 1):
        """Run whole passes until at least `n_passes` have run and
        `seconds` have elapsed (with `seconds` None, exactly `n_passes`).
        Returns (pass walls, the records of those passes)."""
        walls, first = [], len(self.records)
        start = time.perf_counter()
        for ops in passes:
            p0 = time.perf_counter()
            for op in ops:
                self.run(op)
            walls.append(time.perf_counter() - p0)
            if len(walls) >= n_passes and (seconds is None or time.perf_counter() - start >= seconds):
                break
        return walls, self.records[first:]

    def check(self, records: list[Record]) -> None:
        """Run every op's output check. A check failure counts once per
        op, the same as an exception would."""
        for rec in records:
            if rec.error is not None or rec.op.check is None:
                continue
            try:
                rec.op.check(rec.result)
            except CheckFailed as exc:
                rec.error = f"wrong result: {exc}"[:300]
                self.outcomes.fail(rec.op.name, rec.error)
            except Exception as exc:  # a check that cannot run is a failed op
                rec.error = f"check raised {type(exc).__name__}: {exc}".splitlines()[0][:300]
                self.outcomes.fail(rec.op.name, rec.error)
                traceback.print_exc()


def end_to_end(setup_s: float, walls: list[float], records: list[Record], retained_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics of a timed run, and for the run's info
    line the request median and tail. Latency samples are the walls
    (construct plus action) of the ops that returned, right or wrong. A
    run holds a few passes of 5 to 11 ops, too few for a steady median
    across a mix of op types; the geomean of the per-type medians is the
    steady summary of request latency."""
    lat = [r.wall_s for r in records if r.error is None or r.error.startswith("wrong result")]
    if not lat:
        raise RuntimeError("no op completed")
    by_name = defaultdict(list)
    for r in records:
        if r.error is None:
            by_name[r.op.name].append(r.wall_s)
    tail = stats.tail_percentile(len(lat))
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(walls),
        "op_geomean_s": stats.geomean([statistics.median(v) for v in by_name.values()]),
        "retained_mb": retained_mb,
    }, {"samples": len(lat), "pass_walls_s": walls, "request_p50_s": stats.percentile(lat, 50),
        "request_tail": {"percentile": tail, "s": stats.percentile(lat, tail)},
        "op_median_s": {k: round(statistics.median(v), 4) for k, v in sorted(by_name.items())}}


def layer_totals(tracer: Tracer, records: list[Record], jobs: list[dict], stages: dict, executions: list[dict],
                 start_ms: float, end_ms: float) -> tuple[dict, list[dict], list[dict]]:
    """Fold the traced passes into per-layer totals. Returns (totals,
    per-op rows for the trace file, jobs no window claimed)."""
    by_window, stray = attribute_jobs(jobs, tracer.windows, start_ms, end_ms)
    sql_by_window, _ = attribute_jobs(executions, tracer.windows, start_ms, end_ms)
    windows_of = defaultdict(dict)
    sql_of = defaultdict(list)
    for i, w in enumerate(tracer.windows):
        windows_of[w.op_id][w.phase] = (w, by_window.get(i, []))
        sql_of[w.op_id] += sql_by_window.get(i, [])
    totals = defaultdict(float)
    rows = []
    for rec in records:
        phases = windows_of.get(rec.op_id, {})
        layer = rec.op.layer
        row = {"op_id": rec.op_id, "op": rec.op.name, "layer": layer, "error": rec.error,
               "construct_s": rec.construct_s, "action_s": rec.action_s, **rec.extra}
        if "construct" in phases:
            w, cjobs = phases["construct"]
            eager_s = covered_ms(cjobs, w.start_ms, w.end_ms) / 1000
            row.update(construct_py4j=w.py4j_calls, eager_jobs=len(cjobs), eager_job_s=eager_s,
                       construct_self_s=rec.construct_s - eager_s)
            if layer in ("gates", "operators"):
                totals[f"{layer}.construct_s"] += rec.construct_s - eager_s
                totals[f"{layer}.py4j_calls"] += w.py4j_calls
                totals[f"{layer}.eager_jobs"] += len(cjobs)
            if layer == "gates":
                totals["gates.eager_job_s"] += eager_s
        if "action" in phases:
            w, ajobs = phases["action"]
            driver_s = rec.action_s - covered_ms(ajobs, w.start_ms, w.end_ms) / 1000
            row.update(action_py4j=w.py4j_calls, action_jobs=len(ajobs), action_driver_s=driver_s)
            totals["action.s"] += rec.action_s
            totals["action.driver_s"] += driver_s
            totals["action.py4j_calls"] += w.py4j_calls
        for phase_name in CATALYST_PHASES:
            v = tracer.catalyst.get(rec.op_id, {}).get(phase_name, 0.0)
            row[f"catalyst_{phase_name}_s"] = v
            totals[f"catalyst.{phase_name}_s"] += v
        op_jobs = [j for _, js in phases.values() for j in js]
        folded = fold_jobs(op_jobs, stages)
        row.update({f"exec_{k}": v for k, v in folded.items()})
        for k, v in folded.items():
            prefix = "kernels" if k.startswith("python_") else "exec"
            totals[f"{prefix}.{k}"] += v
        row.update({f"sql_{k}": v for k, v in fold_sql(sql_of[rec.op_id]).items()})
        rows.append(row)
    totals.update(row_totals(rows))
    return dict(totals), rows, stray


def row_totals(rows: list[dict]) -> dict:
    """Per-layer numbers of the ANN searches and the store writes and
    searches. Rows scored and files read are the engine's own SQL
    metrics; files and bytes written come from listing the stores around
    each write."""
    ok = [r for r in rows if r["error"] is None]
    ann = [r for r in ok if "results" in r]
    store_searches = [r["sql_files_read"] for r in ok if r.get("store_search")]
    writes = [r for r in ok if r.get("rows_ingested")]
    compactions = [r for r in ok if r["op"].startswith("compact_")]
    results = sum(r["results"] for r in ann)
    return {
        "ann.rows_scored_per_result": sum(r["sql_topk_input_rows"] for r in ann) / results if results else 0.0,
        "streaming.files_written": sum(r.get("files_written", 0) for r in ok),
        "streaming.bytes_written": sum(r.get("bytes_written", 0) for r in ok),
        "streaming.files_per_search": statistics.mean(store_searches) if store_searches else 0.0,
        "streaming.ingest_rows_per_s": (sum(r["rows_ingested"] for r in writes)
                                        / sum(r["construct_s"] + r["action_s"] for r in writes) if writes else 0.0),
        "streaming.compact_p50_s": statistics.median(r["construct_s"] + r["action_s"] for r in compactions)
        if compactions else 0.0,
        "streaming.compact_bytes_rewritten": sum(r.get("bytes_written", 0) for r in compactions),
    }

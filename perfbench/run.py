"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout. After set-up, a timed run
(`--trace 0`) runs whole passes of the workload until `--seconds` have
passed, checks every op's output, and prints the end-to-end metrics. A
traced run (`--trace 1`) runs one pass traced instead and prints the
per-layer metrics; it also writes its spans and per-op numbers to
`.perfbench/traces/`. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`; the line
before it records the run's settings, timings of its phases and any
failed ops. The run writes only under `.perfbench/` in the checkout and
removes its own scratch directory at the end. The session runs at
local[N], N being the CPUs this process may use.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import logging
import os
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import this directory's modules as the `perfbench` package only: on the
# path as top-level modules, trace.py would shadow the standard library's
sys.path[0] = ROOT

from perfbench import stats  # noqa: E402
from perfbench.harness import Runner, end_to_end, layer_totals  # noqa: E402
from perfbench.trace import Tracer, read_event_log, read_sql_executions  # noqa: E402

WORKLOADS = ("search", "corpus")
# the engine's sf0.1 test tables: 2,000 64-d embeddings, 5,000 documents,
# 100k events, 150k orders and 600k lineitem rows
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.1")
DRIVER_MEMORY = "4g"
TRACED_PASSES = 1  # passes a traced run folds into its per-layer numbers


def proc_status_mb(pid: int | str, field: str) -> float:
    """A memory field (VmHWM, VmRSS) of /proc/<pid>/status, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for process {pid}")


def retained_mb(spark) -> float:
    """Memory the Spark application holds once its garbage is collected: the JVM
    heap in use after a full GC plus the Python process's resident set.
    (The peak resident set is reported in the info line only: how far the
    JVM heap grows before a collection depends on GC timing, so from run
    to run it scatters too widely to bound.)"""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    used = None
    # Spark's ContextCleaner drops the blocks of collected plans on its own
    # thread after a GC, so collect until the heap stops shrinking
    for _ in range(8):
        gc.collect()
        spark._jvm.java.lang.System.gc()
        time.sleep(0.25)
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if used is not None and abs(used - now) < 1:
            break
        used = now
    return now + proc_status_mb("self", "VmRSS")


def git_head() -> str | None:
    """The checkout's commit, or None when the checkout is not a git
    repository (the search stops at the checkout's root)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10, check=True, env=env)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def configure_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location of the session into the run dir and
    size the session to this process's CPUs. Must run before the JVM
    starts."""
    dirs = {name: os.path.join(run_dir, name) for name in ("local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # every JVM, spark-submit's launcher included: temp files in the run dir
    # and no perf-data file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{dirs['eventlog']}",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def warm_up(ops: list) -> None:
    """Run one pass's ops concurrently, untimed and unchecked, so each
    op type's first-run costs (class loading, code generation, worker
    start) are paid before measuring. (Run one after another they take
    about a third longer, and the first measured pass is still the
    slowest, which the median pass absorbs.) An op that fails here fails
    again when measured, where it is counted."""
    def one(op):
        df = op.construct()
        if op.collects:
            df.toPandas()

    with ThreadPoolExecutor(max_workers=len(ops)) as pool:
        for op, fut in [(op, pool.submit(one, op)) for op in ops]:
            try:
                fut.result()
            except Exception as exc:  # counted when the op is measured
                print(f"perfbench: warm-up of {op.name} failed: {exc!r}"[:300], file=sys.stderr)


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit. The
    JVM exits when its stdin closes; its Python workers exit with it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    # Python objects that still wrap JVM objects send release commands
    # to the stopped JVM when they are collected, and py4j logs each
    # failed send as an error
    logging.disable(logging.ERROR)


def run(workload_name: str, seed: int, seconds: int, trace: bool, run_dir: str, work_dir: str) -> tuple[dict, dict]:
    # imported once main() has found a source checkout: the checks import
    # the checkout's oracle harness
    from perfbench import workloads

    configure_env(run_dir, trace)

    t_setup = time.perf_counter()
    import pyspark

    from pdf_brain_spark.session import get_spark

    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t_setup
    info = {"workload": workload_name, "seed": seed, "seconds": seconds, "trace": int(trace),
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "git_head": git_head(), "pyspark": pyspark.__version__,
            "session_start_s": session_start_s}
    tracer = Tracer(enabled=False)
    outcomes = stats.Outcomes()
    runner = Runner(tracer, outcomes)
    if workload_name == "search":
        wl = workloads.Search(spark, DATA_DIR, run_dir, seed)
    else:
        wl = workloads.Corpus(spark, DATA_DIR, run_dir, seed, os.path.join(work_dir, "oracle-cache"))
    try:
        wl.setup()
        t_warm = time.perf_counter()
        passes = wl.passes()
        for _ in range(wl.warm_up_passes):
            warm_up(next(passes))
        t_measure = time.perf_counter()
        setup_s = t_measure - t_setup
        info.update(index_build_s=t_warm - t_setup - session_start_s, warm_up_s=t_measure - t_warm)
        if trace:
            walls, records, window, overhead_s = traced_passes(runner, passes)
        else:
            walls, records = runner.run_passes(passes, seconds, wl.min_passes)
        t_checks = time.perf_counter()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        info["peak_rss_mb"] = proc_status_mb("self", "VmHWM") + proc_status_mb(jvm_pid, "VmHWM")
        memory_mb = retained_mb(spark)
        store_totals = wl.streaming_totals()
        runner.check(records + [runner.run(op) for op in wl.final_checks()])
        info.update(measure_s=t_checks - t_measure, check_s=time.perf_counter() - t_checks,
                    attempted=outcomes.attempted, failed=outcomes.failed, error_rate=outcomes.error_rate,
                    failed_ops=outcomes.failed_ops(), failures=outcomes.failures[:20])
    finally:
        wl.close()
        stop_session(spark)
    if not trace:
        metrics, extra = end_to_end(setup_s, walls, records, memory_mb)
        info.update(extra)
        return declared_metrics("end_to_end", metrics), info

    log = glob.glob(os.path.join(run_dir, "eventlog", "*"))[0]
    jobs, stages = read_event_log(log)
    totals, rows, stray = layer_totals(tracer, records, jobs, stages, read_sql_executions(log), *window)
    totals.update(store_totals)
    totals["session.start_s"] = session_start_s
    totals["trace.overhead_s"] = overhead_s
    info.update(unattributed_jobs=len(stray), traced_passes=len(walls))
    trace_dir = os.path.join(work_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{workload_name}-seed{seed}.json"), "w", encoding="utf-8") as fh:
        json.dump({"info": info, "totals": totals, "ops": rows,
                   "spans": [vars(w) for w in tracer.windows], "unattributed_jobs": stray}, fh, indent=1)
    return declared_metrics("per_layer", totals), info


def declared_metrics(kind: str, values: dict) -> dict:
    """The run's metrics of one kind of BENCHMARK.json ("end_to_end" or
    "per_layer"), by name, with the declared units. A metric the run
    computed but the file does not declare is an error; a declared
    per-layer metric of a layer this workload does not reach is 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    unknown = sorted(set(values) - set(declared))
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json {kind}: {unknown}")
    if kind == "end_to_end" and set(values) != set(declared):
        raise KeyError(f"end-to-end metrics not computed: {sorted(set(declared) - set(values))}")
    return {name: (values.get(name, 0.0), unit) for name, unit in declared.items()}


def traced_passes(runner: Runner, passes):
    """Run TRACED_PASSES passes traced, where the timed run measures its
    passes. Then run each of their read-only ops once more untraced and
    once more traced: the summed difference is the tracing overhead. The
    pair's order alternates from op to op, so the speed-up of a second
    run cancels out of the sum. Ops that snapshot the stores before they
    run are not run again, since that would replace the snapshot their
    check uses. The re-runs are neither checked nor counted as attempted
    ops. Returns (pass walls, records, traced window in ms, overhead in s)."""
    tracer = runner.tracer
    # same records list, so op ids stay unique across the tracer's windows
    rerun = Runner(tracer, stats.Outcomes(), runner.records)
    tracer.install()
    try:
        tracer.enabled = True
        start_ms = time.time() * 1000
        walls, records = runner.run_passes(passes, None, n_passes=TRACED_PASSES)
        end_ms = time.time() * 1000
        reads = [r.op for r in records if r.op.layer != "streaming" and r.op.before is None]
        overhead_s = 0.0
        for i, op in enumerate(reads):
            for traced in (False, True) if i % 2 == 0 else (True, False):
                tracer.enabled = traced
                overhead_s += (1 if traced else -1) * rerun.run(op).wall_s
    finally:
        tracer.enabled = False
        tracer.uninstall()
    return walls, records, (start_ms, end_ms), overhead_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "pdf_brain_spark", "session.py")):
        print(f"perfbench: no pdf_brain_spark package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(work_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work_dir)
    try:
        metrics, info = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, work_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark runner for the engine's public entry points.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Run from the repository root. One client in one Python process runs
one operation at a time (a closed loop) on ``local[<cores>]``.

A run:
1. clears its temporary directory ``.perfbench/tmp`` (which also holds
   the engine's materializer caches: TMPDIR points there) and starts
   the Spark session;
2. sets the workload up (raster generation, model fits) and runs the
   untimed warm passes, the first of which refills the caches;
3. runs about ``--seconds`` worth of timed passes (a fixed count per
   workload, see ``workloads.PASS_PLAN``), each over every operation of
   the workload in a seeded order. Every operation is timed from the
   outside (build plus action) and its output checked afterwards,
   outside the timed window: raster outputs, recomputed in a second
   action, against the same numpy model on the driver for a seeded
   pixel sample, with exact NoData counts; query results by row count
   and an order-insensitive digest, compared with their DuckDB oracle
   (tests/oracle_utils.py) once the session has stopped, or by a
   recorded row count for a query without an oracle.

With ``--trace 0`` the run reports the end-to-end metrics: ``setup_s``
(process start to the first timed operation) and ``pass_s`` (the median
over timed passes of the summed operation times). With ``--trace 1`` it
reads Spark's own counters around every operation, reports per-layer
metrics instead, and writes a per-operation breakdown to
``.perfbench/trace-<workload>-<seed>.json``. A failed, timed-out or
wrong operation counts in ``failed`` and makes the run exit non-zero;
its time still counts in its pass.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK_DIR = ROOT / ".perfbench"
TMP_DIR = WORK_DIR / "tmp"
# the read-only TPC-H tables at scale factor 0.1 (same variable as bench.py)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

OP_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 170.0

# metric name -> unit, in report order
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.cpu_ms": "ms",
    "operators.run_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.cpu_util": "ratio",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "ufunc.py_sent_bytes": "bytes",
    "ufunc.py_returned_bytes": "bytes",
    "ufunc.py_run_ms": "ms",
    "estimator.fit_ms": "ms",
    "estimator.predict_arrow_s": "s",
    "estimator.predict_compiled_s": "s",
    "estimator.predict_proba_s": "s",
    "estimator.kneighbors_s": "s",
    "features.nodata_rows": "count",
    "features.valid_rows": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "cache.release_s": "s",
    "cache.tmp_files_created": "count",
    "process.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.read_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the
    tree: driver Python, JVM and Python workers."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def count_cache_files() -> int:
    n = 0
    for d in TMP_DIR.glob("spark_graft_*"):
        for _root, _dirs, files in os.walk(d):
            n += len(files)
    return n


def prepare_environment(cores: int) -> None:
    """Point every temporary and Spark local directory into the
    checkout and make the engine importable by Python workers."""
    shutil.rmtree(TMP_DIR, ignore_errors=True)
    TMP_DIR.mkdir(parents=True)
    os.environ["TMPDIR"] = str(TMP_DIR)
    os.environ["SPARK_LOCAL_DIRS"] = str(TMP_DIR / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(cores: int):
    from sklearn_raster_spark.session import get_spark

    java_tmp = f"-Djava.io.tmpdir={TMP_DIR}"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.extraJavaOptions": java_tmp,
            "spark.local.dir": str(TMP_DIR / "spark-local"),
            "spark.sql.warehouse.dir": str(TMP_DIR / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    kill_descendants(me)


def kill_descendants(me: int, grace_s: float = 10.0) -> None:
    import signal

    deadline = time.monotonic() + grace_s
    while True:
        rest = [p for p in process_tree(me) if p != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.1)
        try:  # reap our own children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


class Runner:
    def __init__(self, spark, seed: int, trace: bool):
        import random

        self.spark = spark
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.counters = None
        if trace:
            from spark_counters import SparkCounters

            self.counters = SparkCounters(spark)

    def _run_op(self, op, counters) -> dict:
        """Time one operation, check its output, and read its counters
        when ``counters`` is given. Returns the per-op record."""
        from sklearn_raster_spark.utils.cache import release_shared_caches

        sc = self.spark.sparkContext
        rec: dict = {"op": op.name}
        marks = {}
        files_before = count_cache_files() if counters else 0
        t_read = 0.0
        if counters:
            t = time.perf_counter()
            marks["start"] = counters.mark()
            t_read += time.perf_counter() - t
        build_end = {}

        def after_build():
            build_end["t"] = time.perf_counter()
            if counters:
                build_end["job"] = int(sc._jsc.sc().dagScheduler().nextJobId())

        done = threading.Event()
        timed_out = threading.Event()

        def watchdog():
            if not done.wait(OP_TIMEOUT_S):
                timed_out.set()
                sc.cancelAllJobs()

        threading.Thread(target=watchdog, daemon=True).start()
        self.attempted += 1
        error = None
        out = None
        start = time.perf_counter()
        try:
            out = op.run(after_build)
        except Exception as exc:  # a failed operation is a counted failure
            traceback.print_exc(file=sys.stderr)
            first_line = (str(exc).splitlines() or [""])[0]
            error = f"{op.name}: {type(exc).__name__}: {first_line[:300]}"
        wall = time.perf_counter() - start
        done.set()
        if timed_out.is_set():
            error = f"{op.name}: watchdog timeout after {OP_TIMEOUT_S:.0f} s"
        rec["wall_s"] = wall

        if counters:  # before the check, whose own Spark work is not the op's
            t = time.perf_counter()
            c = counters.between(marks["start"], counters.mark())
            if "t" in build_end:
                rec["plans.build_s"] = build_end["t"] - start
                rec["plans.build_jobs"] = build_end["job"] - marks["start"].job
            if op.kind == "query" and out is not None:
                from spark_counters import plan_phases_ms

                c.update(plan_phases_ms(out.df))
            if op.kind == "raster":
                c[f"estimator.{op.name}_s"] = wall
            rec.update(c)
            rec["cache.tmp_files_created"] = max(0, count_cache_files() - files_before)
            t_read += time.perf_counter() - t
            rec["trace.read_s"] = t_read

        if error is None:
            try:
                error = op.check(out)
            except Exception as exc:  # a check that cannot run is a failure too
                traceback.print_exc(file=sys.stderr)
                error = f"{op.name}: check raised {type(exc).__name__}: {exc}"[:400]
        if error is not None:
            self.failures.append(error)
            print(f"# FAIL {error}", file=sys.stderr, flush=True)
        rec["ok"] = error is None
        if counters and op.kind == "raster" and out is not None and out.output is not None:
            rec["features.nodata_rows"] = out.output.n_nodata
            rec["features.valid_rows"] = out.output.n_rows - out.output.n_nodata

        t = time.perf_counter()
        release_shared_caches()
        self.spark.catalog.clearCache()
        if counters:
            rec["cache.release_s"] = time.perf_counter() - t
        return rec

    def run_pass(self, ops, timed: bool = True) -> list[dict]:
        """One pass over ``ops`` in seeded order; counters are read only
        on timed passes of a traced run. Returns the per-op records."""
        order = list(ops)
        self.rng.shuffle(order)
        counters = self.counters if timed else None
        records = [self._run_op(op, counters) for op in order]
        # settle between passes, outside every timed window
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        return records


def build_ops(spark, workload: str, seed: int, timings: dict):
    """Returns (ops, pixels per raster call, deferred output check). The
    deferred check runs after the session stops and returns one error
    per wrong output."""
    from workloads import QUERIES, generate_raster, query_ops, raster_ops

    if workload == "raster":
        raster = generate_raster(seed, str(TMP_DIR / "raster"))
        return raster_ops(spark, raster, seed, timings), raster.n_pixels, list
    ops, oracle = query_ops(spark, SF_DIR, QUERIES)
    return ops, 0, oracle.finish


def summarize(passes, setup_s, rss_mb, n_pixels, trace, timings, get_spark_s):
    """Turn the timed passes into (metrics, human-readable lines)."""
    # a pass's wall time is the sum of its operations' timed windows:
    # output checks and counter reads between operations are excluded
    pass_walls = [sum(r["wall_s"] for r in recs) for recs in passes]
    op_walls = [r["wall_s"] for recs in passes for r in recs]
    lines = []
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_walls),
        }
        lines.append(f"# passes={len(passes)} pass_walls="
                     + ",".join(f"{w:.3f}" for w in pass_walls))
        lines.append(f"# op_p50_s = {statistics.median(op_walls):.4f} s "
                     f"(median of {len(op_walls)} operation times)")
        for name in sorted({r["op"] for r in passes[0]}):
            walls = [r["wall_s"] for recs in passes for r in recs if r["op"] == name]
            lines.append(f"# op {name} median {statistics.median(walls):.4f} s")
        if n_pixels:
            mpix = [n_pixels * len(recs) / 1e6 / w for recs, w in zip(passes, pass_walls)]
            lines.append(f"# mpix_per_s = {statistics.median(mpix):.4f} Mpixel/s "
                         f"({n_pixels} pixels x 4 calls per pass)")
        units = END_TO_END
    else:
        per_pass = []
        for wall, recs in zip(pass_walls, passes):
            tot = defaultdict(float)
            for r in recs:
                for k, v in r.items():
                    if k in PER_LAYER:
                        tot[k] += v
            tot["trace.pass_s"] = wall
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            tot["operators.cpu_util"] = tot["operators.cpu_ms"] / (wall * 1e3 * cores)
            per_pass.append(tot)
        metrics = {
            k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in PER_LAYER
        }
        metrics["session.get_spark_s"] = get_spark_s
        metrics["estimator.fit_ms"] = timings.get("fit_ms", 0.0)
        metrics["process.peak_rss_mb"] = rss_mb
        units = PER_LAYER
    out = {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}
    for k, m in out.items():
        lines.append(f"{k} = {m['value']:.6g} {m['unit']}")
    if not trace:
        lines.append(f"# peak_rss_mb = {rss_mb:.1f} MB (driver Python + JVM + Python workers)")
    return out, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from workloads import PASS_PLAN, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {WORKLOADS}", file=sys.stderr)
        return 2
    if not (ROOT / "sklearn_raster_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    if args.workload != "raster" and not os.path.isdir(SF_DIR):
        print(f"TPC-H tables not found at {SF_DIR} (set SPARK_GRAFT_SF_DIR)", file=sys.stderr)
        return 2

    # hard stop: no run outlives RUN_DEADLINE_S, even if an operation hangs
    def deadline():
        time.sleep(RUN_DEADLINE_S)
        print(f"# run exceeded {RUN_DEADLINE_S:.0f} s; aborting", file=sys.stderr, flush=True)
        kill_descendants(os.getpid(), grace_s=0.0)
        os._exit(3)

    threading.Thread(target=deadline, daemon=True).start()

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "tests"))  # oracle_utils: the oracle tests' comparison
    cores = len(os.sched_getaffinity(0))
    prepare_environment(cores)
    t = time.perf_counter()
    spark = start_spark(cores)
    get_spark_s = time.perf_counter() - t
    try:
        phases = {"imports_s": process_age_s() - get_spark_s, "get_spark_s": get_spark_s}
        t = time.perf_counter()
        runner = Runner(spark, args.seed, bool(args.trace))
        timings: dict = {}
        ops, n_pixels, finish_checks = build_ops(spark, args.workload, args.seed, timings)
        phases["prepare_s"] = time.perf_counter() - t
        warm, typical_pass_s = PASS_PLAN[args.workload]
        for i in range(warm):  # untimed, outputs still checked
            t = time.perf_counter()
            runner.run_pass(ops, timed=False)
            phases[f"warm_pass{i}_s"] = time.perf_counter() - t
        setup_s = process_age_s()
        print("# setup " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()),
              file=sys.stderr, flush=True)

        n_passes = max(2, round(args.seconds / typical_pass_s))
        passes = [runner.run_pass(ops) for _ in range(n_passes)]
        rss_mb = peak_rss_mb(os.getpid())
    finally:
        stop_spark(spark)
    for err in finish_checks():
        runner.failures.append(err)
        print(f"# FAIL {err}", file=sys.stderr, flush=True)

    metrics, lines = summarize(
        passes, setup_s, rss_mb, n_pixels, bool(args.trace), timings, get_spark_s
    )
    if args.trace:
        WORK_DIR.mkdir(exist_ok=True)
        artifact = WORK_DIR / f"trace-{args.workload}-{args.seed}.json"
        with open(artifact, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                       "passes": passes},
                      f, indent=1)
        lines.append(f"# per-operation trace: {artifact.relative_to(ROOT)}")
    for line in lines:
        print(line)
    print(f"# error_rate = {len(runner.failures) / runner.attempted:.4g} ratio "
          f"({len(runner.failures)} of {runner.attempted} operations failed)")
    for err in runner.failures:
        print(f"# FAILED {err}")
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0 if not runner.failures else 1


if __name__ == "__main__":
    sys.exit(main())

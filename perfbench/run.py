"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_table --seed 1 \
        --seconds 5 --trace 0

Runs from the root of a checkout of the repository. Everything it writes
goes under ``.perfbench_work/`` in that checkout. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exits non-zero when any output check fails.

A run makes any missing seeded inputs (untimed; those only Spark can make
in a JVM of their own), then sets the measured session up from cold and
reports that time as ``setup_s``: launch the JVM, ship the package, load
the native library, run a tiny extraction. The workload then runs
``WARMUP`` untimed warm-up jobs and a closed loop of timed jobs, one at a
time, until ``--seconds`` of job time have passed and at least ``MIN_TIMED``
jobs were timed. Every job's output is checked after the timed window closes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# The first job of a fresh JVM takes about twice as long as a warm one and
# is not timed. The next ones still speed up as the JIT compiles, and on a
# shared host other tenants' load slows whole jobs, so at least three are
# timed and the fastest one counts (see untraced_run). The floor, not the
# clock, sets the count (a job takes 4-9 s): were it the clock, a slower
# run would time fewer jobs, which widens the spread.
WARMUP = 1
MIN_TIMED = 3


def _heap() -> str:
    """Driver heap: 2 GiB, or a quarter of physical RAM when that is less."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{max(512, min(2048, kb // 4096))}m"


def _environment() -> None:
    """Keep every file Spark, the JVM and the workers write in WORK."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "local"), os.path.join(WORK, "cwd")):
        os.makedirs(d, exist_ok=True)
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "SPARK_GRAFT_DRIVER_MEM": _heap(),
        # keep the session's own AVX cap and add the temp-dir options
        "SPARK_GRAFT_JAVA_OPTS": f"-XX:UseAVX=2 {jvm}",
        "SPARK_LAUNCHER_OPTS": jvm,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    # workers must get the package from the shipped zip, not from the cwd
    os.chdir(os.path.join(WORK, "cwd"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(event_log: str | None = None):
    from ch_pdf_parse_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.eventLog.enabled": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + event_log,
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cores=cores(), **extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the SparkContext, end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure it is gone
            proc.kill()
            proc.wait()


def timed_setup(ctx, event_log: str | None = None) -> float:
    """Start a session, ship the package, load the native library and warm
    up new Python workers with a tiny extraction into a noop sink. A run's
    first set-up finds no JVM (``boot`` stops the one it starts) and
    launches one; a later one stops the SparkContext (untimed) and starts a
    new one in the same JVM. The workload's first job still compiles its
    own plans. The driver process compiles the native library once per
    checkout and loads it once; each new session's workers load it
    again."""
    from ch_pdf_parse_spark import native
    from ch_pdf_parse_spark.packaging import ensure_on_executors
    from ch_pdf_parse_spark.pipeline import extract_documents
    from ch_pdf_parse_spark.sources.catalog import read_table

    if ctx.spark is not None:
        ctx.spark.stop()
    t0 = time.perf_counter()
    ctx.spark = start_session(event_log)
    ensure_on_executors(ctx.spark)
    native.available()
    (extract_documents(read_table(ctx.spark, ctx.paths["warm"]))
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def boot(wl_list, ctx) -> None:
    """Make the seeded inputs ``wl_list`` lacks. Those only Spark can make
    are made in a JVM of their own, so that the measured JVM starts in the
    same state whether or not they were cached."""
    from perfbench import corpus
    from perfbench.workloads import WARMUP_SEED

    ctx.paths["warm"] = corpus.interleaved(
        ctx.inputs, WARMUP_SEED, ctx.size["warm_extract"], 1, kind="warm")
    missing = [wl for wl in wl_list if not wl.inputs_ready(ctx)]
    if missing:
        ctx.spark = start_session()
        for wl in missing:
            wl.prepare(ctx)
        stop_jvm(ctx.spark)
        ctx.spark = None
    for wl in wl_list:
        wl.prepare(ctx)  # cached: only fills in ctx.paths


def measure(wl, ctx, seconds: float, tree, group: str | None = None,
            warmups: int = WARMUP, min_timed: int = MIN_TIMED):
    """``warmups`` untimed jobs, then a closed loop of one job at a time
    until ``seconds`` of job time and at least ``min_timed`` jobs. Returns
    the timed jobs' wall times, CPU seconds and peak RSS, and every job's
    output (the warm-ups' included) and errors. The timed jobs run in job
    group ``group`` when one is given."""
    walls, cpus, peaks, outputs, errors = [], [], [], [], []
    tree.start()
    try:
        while (len(walls) < warmups + min_timed
               or sum(walls[warmups:]) < seconds):
            if group and len(walls) == warmups:  # count the timed jobs only
                ctx.spark.sparkContext.setJobGroup(group, group)
            c0, t0 = tree.cpu_s(), time.perf_counter()
            k, ctx.jobs = ctx.jobs, ctx.jobs + 1
            try:
                outputs.append(wl.job(ctx, k))
            except Exception:  # noqa: BLE001 — a failed job is a result
                errors.append(traceback.format_exc())
                outputs.append(None)
            t1 = time.perf_counter()
            walls.append(t1 - t0)
            cpus.append(tree.cpu_s() - c0)
            peaks.append(tree.peak_rss(t0, t1))
            if errors:
                break
    finally:
        tree.stop()
        if group:
            ctx.spark.sparkContext.setJobGroup("", "")
    print(f"[{wl.name}] warm-up: {_list(walls[:warmups], 's')}; timed: "
          f"{_list(walls[warmups:], 's')}; peak RSS: "
          f"{_list([p / 2**20 for p in peaks], 'MB')}", file=sys.stderr)
    timed = slice(warmups, None) if len(walls) > warmups else slice(None)
    return walls[timed], cpus[timed], peaks[timed], outputs, errors


def _list(values, unit: str) -> str:
    return ", ".join(f"{v:.2f}{unit}" for v in values) or "none"


def check_all(wl, ctx, outputs, errors) -> list[bool]:
    """One verdict per attempted job; problems go to standard error."""
    ok = []
    ref = wl.reference(ctx)
    for k, out in enumerate(outputs):
        problems = ["job raised"] if out is None else wl.check(
            ctx, out, k == 0, ref)
        for p in problems:
            print(f"[{wl.name} job {k}] {p}", file=sys.stderr)
        ok.append(not problems)
    for e in errors:
        print(e, file=sys.stderr)
    return ok


def untraced_run(wl, ctx, seconds: float, tree) -> dict:
    t = [time.perf_counter()]
    boot([wl], ctx)
    t.append(time.perf_counter())
    setup_s = timed_setup(ctx)
    t.append(time.perf_counter())
    walls, cpus, peaks, outputs, errors = measure(wl, ctx, seconds, tree)
    t.append(time.perf_counter())
    ok = check_all(wl, ctx, outputs, errors)
    t.append(time.perf_counter())
    print(f"[{wl.name}] boot, set-up, jobs, checks: "
          f"{_list([b - a for a, b in zip(t, t[1:])], 's')}", file=sys.stderr)
    # The fastest timed job, for wall and CPU time alike: other tenants'
    # load and the JIT only ever add time, and they shift from job to job.
    # Over ten seeds on a 4-vCPU VM whose CPU steal reached 8%, the fastest
    # job spread 0.15 (IQR/median) on extract_table and 0.12 on
    # dedup_small; the median job 0.17 and 0.26.
    wall = min(walls)
    return {
        "correct": all(ok), "attempted": len(ok), "failed": ok.count(False),
        "metrics": {
            "wall_s": {"value": wall, "unit": "s"},
            "docs_per_s": {"value": wl.n_docs(ctx) / wall, "unit": "1/s"},
            "cpu_s": {"value": min(cpus), "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(peaks) / 2**20,
                            "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "ok_rate": {"value": ok.count(True) / len(ok), "unit": "ratio"},
        },
    }


def _clean(run_dir: str) -> None:
    """Drop the run's outputs; keep its trace."""
    for name in os.listdir(run_dir):
        if name != "trace.jsonl":
            path = os.path.join(run_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input scale; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ch_pdf_parse_spark",
                                       "__init__.py")):
        print(f"perfbench: no ch_pdf_parse_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import meters, probes
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _environment()
    wl = WORKLOADS[args.workload]
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    inputs = os.path.join(WORK, "inputs")
    os.makedirs(inputs, exist_ok=True)
    ctx = Ctx(None, args.seed, SIZES[args.size], inputs, run_dir)
    tree = meters.ProcTree()
    try:
        if args.trace:
            result = probes.traced_run(wl, ctx, tree, run_id)
        else:
            result = untraced_run(wl, ctx, args.seconds, tree)
    finally:
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
        _clean(run_dir)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""Seeded closed-loop benchmark of the vtzero_spark engine.

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One driver process runs one job at a
time on ``local[nproc]`` for ``--seconds`` and prints one JSON object
as its last stdout line (a readable summary goes to stderr):

- ``--trace 0``: the end-to-end metrics (setup_s, job_s_p50,
  rows_per_s, peak_rss_mb);
- ``--trace 1``: the per-layer metrics of a traced run, which
  alternates untraced and traced jobs so the tracing overhead is
  measured in the same run. Spans and the per-layer summary are also
  written under ``.perfbench/trace/``.

Every job's output is checked against references that do not use the
engine's Spark path; a job that raises or fails its check counts in
``failed``. See perfbench/README.md for the metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path
from unittest import mock

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the end-to-end metrics of a --trace 0 run, name -> unit
END_TO_END = {"setup_s": "s", "job_s_p50": "s", "rows_per_s": "1/s",
              "peak_rss_mb": "MB"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="vtzero_spark benchmark")
    p.add_argument("--workload", required=True,
                   choices=["tiles", "spatial_join"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep the files Spark, the JVM and Python write inside ``work``.
    Must run before the JVM starts."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + os.environ.get("PYTHONPATH", "").split(os.pathsep))
    # a fixed 1 GB driver heap, initial and maximum: a growing heap made
    # the peak RSS depend on when G1 chose to expand (spread 15% between
    # runs, 2% with the heap fixed). The inputs are a few MB.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--driver-java-options -Xms1g pyspark-shell")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Loop:
    """Runs jobs one at a time and counts attempts and failures."""

    def __init__(self, wl, spark):
        self.wl = wl
        self.spark = spark
        self.attempted = 0
        self.failed = 0

    def job(self, run) -> float:
        t0 = time.perf_counter()
        try:
            with run.timing():
                out = self.wl.job(self.spark, run)
            wall = time.perf_counter() - t0
            run.finish()
            err = self.wl.check(out, self.attempted)
        except Exception:  # a failed job is counted, the run goes on
            wall = time.perf_counter() - t0
            err = traceback.format_exc()
        self.attempted += 1
        if err is not None:
            self.failed += 1
            print(f"perfbench: job {self.attempted} failed: {err}",
                  file=sys.stderr)
        return wall


def start_spark(app: str, cores: int):
    """``session.get_spark``, writing nothing outside the checkout.

    get_spark creates /dev/shm/spark-local and names it spark.local.dir.
    Spark prefers the SPARK_LOCAL_DIRS that ``isolate`` sets over
    spark.local.dir, so shuffle and spill files go to the run directory
    either way; failing the makedirs only keeps get_spark from creating
    that directory outside the checkout."""
    from vtzero_spark.engine import session

    with mock.patch.object(session.os, "makedirs",
                           side_effect=OSError("stay inside the checkout")):
        spark = session.get_spark(app, cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(args, work: Path, cores: int, t_start: float) -> dict:
    import layers
    import refs
    import spans
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, cores)
    spark = start_spark("perfbench", cores)
    start_s = time.perf_counter() - t_start
    # set-up = session start + data preparation + commit + warm-up
    t0 = time.perf_counter()
    con = refs.connect(cores, str(work / "tmp"))
    wl.prepare(str(work), con)
    con.close()
    prep_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.commit(spark, str(work))
    commit_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    try:
        warm_err = wl.warm_check(wl.job(spark, spans.Plain()))
        for _ in range(wl.warm_ups - 1):
            warm_err = warm_err or wl.check(wl.job(spark, spans.Plain()), 0)
    except Exception:  # reported; every timed job then fails its check
        warm_err = traceback.format_exc()
    warm_s = time.perf_counter() - t0
    if warm_err is not None:
        print(f"perfbench: warm-up check failed: {warm_err}", file=sys.stderr)
    setup_s = start_s + prep_s + commit_s + warm_s

    loop = Loop(wl, spark)
    tracer = spans.Tracer() if args.trace else None
    plain_s, traced = [], []
    # closed loop: the next job starts when the previous one is checked;
    # no job starts that would be expected to end past the deadline
    deadline = time.perf_counter() + args.seconds
    rounds: list[float] = []
    while not rounds or \
            time.perf_counter() + statistics.median(rounds) <= deadline:
        t0 = time.perf_counter()
        plain_s.append(loop.job(spans.Plain()))
        if tracer is not None:
            run = spans.Traced(spark, tracer, loop.attempted)
            loop.job(run)
            traced.append(run.spans())
        rounds.append(time.perf_counter() - t0)

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_py, rss_jvm = vm_hwm_kb(os.getpid()) / 1024, vm_hwm_kb(jvm) / 1024
    rss_mb = rss_py + rss_jvm
    spark.stop()

    if tracer is None:
        values = {
            "setup_s": setup_s,
            "job_s_p50": statistics.median(plain_s),
            # at the median job, so one stalled job does not move it
            "rows_per_s": wl.rows / statistics.median(plain_s),
            "peak_rss_mb": rss_mb,
        }
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    else:
        metrics = layers.report(traced, plain_s, start_s)
        out_dir = ROOT / ".perfbench" / "trace"
        out_dir.mkdir(parents=True, exist_ok=True)
        stem = out_dir / f"{args.workload}-seed{args.seed}"
        tracer.dump(f"{stem}-spans.jsonl")
        with open(f"{stem}-layers.json", "w") as f:
            json.dump({k: {"value": v, "unit": u}
                       for k, (v, u) in metrics.items()}, f, indent=1)

    print(f"perfbench: {args.workload} seed={args.seed} cores={cores} "
          f"jobs={loop.attempted} failed={loop.failed} "
          f"fail_ratio={loop.failed / loop.attempted:.4f} "
          f"session_start_s={start_s:.3f} "
          f"prepare_s={prep_s:.3f} "
          f"commit_s={commit_s:.3f} warm_up_s={warm_s:.3f} "
          f"peak_rss_mb python={rss_py:.0f} jvm={rss_jvm:.0f} "
          f"job_s={[round(s, 3) for s in plain_s]}",
          file=sys.stderr)
    for k, (v, u) in metrics.items():
        print(f"  {k:32s} {v:>14.6g} {u}", file=sys.stderr)
    return {
        "correct": loop.failed == 0 and warm_err is None,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import vtzero_spark.engine.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    isolate(work)
    try:
        result = measure(args, work, cores, t_start)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Crawl benchmark: one workload, one seed, every metric by name with its unit.

Run from the repository root:

    python3 perfbench/run.py --workload cold_crawl --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py and perfbench/BASELINE.md): ``cold_crawl`` and
``recrawl``. Spark runs at ``local[<usable cores>]`` in this one driver
process: a closed loop with one client, the driver, which starts the next
crawl only when the previous one has finished.

``--trace 0`` times crawls back to back for ``--seconds`` (at least one) and
reports the end-to-end metrics as medians over those crawls. ``--trace 1``
times one crawl of the same shape with every store and engine call traced,
and reports the per-layer metrics: per-leg time, calls, rows, bytes and
Spark jobs, the kernel leaves, the headline query suite, and the tracing
overhead (time spent in the tracer's own bookkeeping; compare the traced
crawl wall in the ``info`` line with an untraced run for the wall-clock
difference). Every crawl passes the correctness gate; the last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. The exit code is 0 only if every check passed.

All state (corpus, stores, Spark scratch, temp files) lives under
``.perfbench_work/`` in the repository root and is removed at exit; traced
runs leave their spans in ``.perfbench_spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SPANS = ROOT / ".perfbench_spans"

#: driver JVM heap; the whole crawl working set is a few hundred MB
DRIVER_MEMORY = "2g"


@contextmanager
def session(work: Path):
    """A local[nproc] SparkSession whose scratch and temp files stay under
    ``work``; on exit the JVM is stopped and waited for."""
    from crawler_spark.session import build_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # Python workers unpickle engine functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    spark = build_session(
        app_name="perfbench", cores=len(os.sched_getaffinity(0)), extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.memory": DRIVER_MEMORY,
            # the heap is committed and touched up front, so peak RSS does
            # not depend on when the collector chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    try:
        yield spark
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Kernel-tracked peak RSS (VmHWM) of this process plus the driver JVM."""
    def hwm_kb(pid) -> int:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm)) / 1024


def measure(args) -> tuple[dict, dict, int, int]:
    """Set up, run the timed part and return (metrics, info, attempted,
    failed)."""
    from leaves import kernel_leaves
    from querysuite import GOLDENS, generate, run_suite
    from tracing import Tracer
    from workloads import USER, WORKLOADS

    t_start = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    results: list[tuple[str, bool]] = []  # every correctness check made
    info: dict = {}
    with session(WORK) as spark:
        wl = WORKLOADS[args.workload](spark, WORK, args.seed)

        def crawl(tracer=None):
            it = wl.iteration(tracer)
            results.extend(it.checks.items())
            return it

        wl.setup()
        setup_s = time.perf_counter() - t_start
        if args.trace:
            tracer = Tracer(spark, "traced")
            traced = crawl(tracer)
            tracer.dump(SPANS / f"{args.workload}_seed{args.seed}.json")
            metrics = tracer.leg_metrics(wl.cfg.num_partitions)
            metrics["trace.overhead_s"] = tracer.overhead_s
            metrics.update(kernel_leaves(wl.pages_dir, WORK / "leaves", USER))
            generate(WORK / "tpch")
            seconds, q_checks = run_suite(spark, WORK / "tpch",
                                          json.loads(GOLDENS.read_text()))
            results.extend((f"query:{k}", ok) for k, ok in q_checks.items())
            for name, s in seconds.items():
                metrics[f"queries.{name}.s"] = s
            metrics["queries.suite_s"] = sum(seconds.values())
            info.update(setup_s=round(setup_s, 3),
                        traced_crawl_wall_s=round(traced.wall_s, 3),
                        peak_rss_mb=round(peak_rss_mb(spark), 1))
        else:
            runs = []
            t_loop = time.perf_counter()
            while not runs or time.perf_counter() - t_loop < args.seconds:
                runs.append(crawl())
            info["crawl_walls_s"] = [round(r.wall_s, 3) for r in runs]
            metrics = {
                "urls_per_s": statistics.median(r.urls / r.wall_s for r in runs),
                "bytes_written_mb": statistics.median(
                    r.bytes_written for r in runs) / 1e6,
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss_mb(spark),
            }
    info["failed_checks"] = [name for name, ok in results if not ok]
    return metrics, info, len(results), len(info["failed_checks"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))
    try:
        import crawler_spark  # noqa: F401 - the engine under test
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}
    try:
        metrics, info, attempted, failed = measure(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if set(metrics) != set(units):
        print(f"perfbench: measured metrics {sorted(set(metrics) ^ set(units))} "
              "do not match BENCHMARK.json", file=sys.stderr)
        return 2
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"failed_share {failed / attempted:.6g} share")
    print("info " + json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

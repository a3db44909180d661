#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload web_html --seed 1 --seconds 8 --trace 0

Run from the repository root. The workload's corpus is generated from
the seed (cached under ``.perfbench/``). Spark is set up on
``local[nproc]`` three times (``setup_s`` is the median); warm-up
passes (over the full or the small corpus, as the workload's
``warm_up`` says) compile the plans and warm the JIT; then closed-loop
passes, one job at a time, repeat until ``--seconds`` of pass time is
measured. Every pass is gated on its output. With
``--trace 1`` the run reports per-layer metrics from a traced phase
instead (``perfbench/layers.py``).

The last line of standard output is the result object; the line before
it is the report (host block, sample counts, gate failures, trace
details), which is also written to ``.perfbench/report-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time

import pyarrow
import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
# A pass during which the hypervisor gave more than this share of the
# machine's CPU time to other guests measured the host, not the program:
# on a shared 4-core host passes read 0-1 % stolen, and passes at 11-16 %
# ran 40-60 % slower. Such passes are repeated, until RETRY_FACTOR ×
# --seconds of pass time has run in all.
STEAL_LIMIT = 0.02
RETRY_FACTOR = 2

END_TO_END_UNITS = {"docs_per_s": "1/s", "mb_per_s": "MB/s", "peak_rss_mb": "MB", "setup_s": "s"}


def host_block(slots: int) -> dict:
    return {
        "nproc": slots,
        "master": f"local[{slots}]",
        "shuffle_partitions": 2 * slots,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def build_session(slots: int, event_log: str | None):
    builder = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # local mode runs every task in this one JVM; at the 1 GiB
        # default heap the segmented-rows window OOMs on 4 MB mega-docs
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        # the whole heap is committed and touched at JVM start, so the
        # JVM's share of peak_rss_mb does not depend on when G1 grows it
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -Xms2g -XX:+AlwaysPreTouch",
        )
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        builder = (
            builder.config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, slots: int) -> None:
    """One tiny extraction task per slot, so every Python worker has
    started and imported the library before anything is measured."""
    from libswish3_spark.pipeline import DOCS_SCHEMA, extract  # after prepare()

    rows = [(str(i), [("text", "<html><body>warm up</body></html>", "", 0)]) for i in range(slots)]
    docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, slots), DOCS_SCHEMA)
    extract(docs, spread=False).write.format("noop").mode("overwrite").save()


def set_up(slots: int, event_log: str | None = None) -> tuple[object, list[float]]:
    """Start and warm Spark ``SETUPS`` times, keeping the last session,
    which alone writes ``event_log`` if given. The first start also
    launches the JVM; the median is reported."""
    times = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_session(slots, event_log if i == SETUPS - 1 else None)
        warm_workers(spark, slots)
        times.append(time.perf_counter() - t0)
    return spark, times


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """Close the py4j gateway and wait until the JVM it launched has
    exited (the JVM exits when its stdin pipe closes)."""
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def prepare() -> None:
    """Import the library from this checkout, in this process and in the
    Python workers, and keep every scratch file under ``WORK``."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    import libswish3_spark  # noqa: F401  (fails fast outside a checkout)

    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")


class Gated:
    """Timed, gated passes: every pass is checked after its timer stops."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def record(self, fails: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(fails)
        self.failures.extend(fails[:5])

    def run(self, wl) -> float:
        from perfbench.workloads import fresh

        out = fresh(os.path.join(WORK, "out"))
        t0 = time.perf_counter()
        wl.run(out)
        dt = time.perf_counter() - t0
        self.record(wl.check(out))
        fresh(out)
        return dt


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot: the time a
    hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def measure(spark, wl, gated: Gated, seconds: float) -> list[tuple[float, float, float]]:
    """Closed-loop passes, one at a time, until ``seconds`` of pass time is
    measured on passes with at most ``STEAL_LIMIT`` stolen CPU time, or
    ``RETRY_FACTOR`` × ``seconds`` in all; returns each pass's time, peak
    resident memory of the JVM and its Python workers, and stolen CPU
    share."""
    from perfbench.tracing import PssSampler

    passes: list[tuple[float, float, float]] = []
    while (
        sum(t for t, _, st in passes if st <= STEAL_LIMIT) < seconds
        and sum(t for t, _, _ in passes) < RETRY_FACTOR * seconds
    ):
        s0, t0 = cpu_ticks()
        with PssSampler(jvm_pid(spark)) as mem:
            dt = gated.run(wl)
        s1, t1 = cpu_ticks()
        passes.append((dt, mem.peak_mb, (s1 - s0) / max(1, t1 - t0)))
    return passes


def main(argv=None, size: str = "full") -> int:
    """``size`` picks the corpus size; the smoke test runs ``small``."""
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    prepare()
    from perfbench import corpus, workloads

    if args.workload not in corpus.WORKLOADS:
        p.error(f"--workload must be one of {', '.join(corpus.WORKLOADS)}")
    slots = len(os.sched_getaffinity(0))
    cache = os.path.join(WORK, "corpus")
    t0 = time.perf_counter()
    data = corpus.load(args.workload, args.seed, cache, size)
    # the smoke test warms up once on the small corpus it measures
    warm_up = workloads.WORKLOADS[args.workload].warm_up if size == "full" else (size,)
    warm_data = {w: corpus.load(args.workload, args.seed, cache, w) for w in set(warm_up) - {size}}
    corpus_s = time.perf_counter() - t0
    gated = Gated()
    events = None
    if args.trace:
        events = workloads.fresh(os.path.join(WORK, "events"))
        os.makedirs(events)
    spark, setup_times = set_up(slots, events)
    try:
        t0 = time.perf_counter()
        wl = workloads.make(args.workload, spark, data)
        reference_s = time.perf_counter() - t0
        # warm-up passes compile the workload's plans and warm the JIT and
        # the Python workers; they are gated but not measured
        warm = {size: wl} | {w: workloads.make(args.workload, spark, d) for w, d in warm_data.items()}
        warm_s = [gated.run(warm[w]) for w in warm_up]
        if args.trace:
            from perfbench import layers

            traced = layers.trace(spark, wl, slots, WORK)
            spark = None  # stopped by the traced phase
            gated.record(traced["gate_failures"])
            passes = [traced["report"]["e2e_traced_s"]]
        else:
            samples = measure(spark, wl, gated, args.seconds)
            # the metrics come from the passes the host left alone, or
            # from every pass if it left none alone
            kept = [p for p in samples if p[2] <= STEAL_LIMIT] or samples
            passes, peaks, _ = zip(*kept)
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host_block(slots),
        "corpus": {"docs": data.docs, "text_mb": data.text_bytes / 1e6, "path": os.path.relpath(data.path, ROOT)},
        "corpus_s": corpus_s,
        "setup_s": setup_times,
        "reference_s": reference_s,
        "warm_pass_s": warm_s,
        "pass_s": passes,
        "gate_failures": gated.failures,
        "error_ratio": gated.failed / gated.attempted,
    }
    if args.trace:
        report["trace"] = traced["report"]
        metrics = traced["metrics"]
    else:
        metrics = {
            "docs_per_s": statistics.median(data.docs / t for t in passes),
            "mb_per_s": statistics.median(data.text_bytes / 1e6 / t for t in passes),
            "peak_rss_mb": statistics.median(peaks),
            "setup_s": statistics.median(setup_times),
        }
        report["pass_s"] = [t for t, _, _ in samples]
        report["samples"] = {
            "passes": len(samples),
            "kept": len(kept),
            "halves_s": getattr(wl, "halves", None),
            "peak_rss_mb": [m for _, m, _ in samples],
            "steal_share": [st for _, _, st in samples],
            "median_pass_s": statistics.median(passes),
            "slowest_pass_s": max(passes),
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    with open(os.path.join(WORK, f"report-{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": gated.failed == 0,
                "attempted": gated.attempted,
                "failed": gated.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

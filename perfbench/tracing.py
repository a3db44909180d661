"""Tracing for the separate traced run, recorded only from these files.

* :class:`KernelTracer` wraps the library's public per-layer functions
  (``pipeline.extract_batch_fn``'s kernel, ``parser.parse_to_state``,
  ``events.html_events``/``xml_events`` and the tokenizer that
  ``parser.resolve_tokenizer`` hands each ``DocState``) for a
  single-process kernel pass, and sums count and seconds per layer for
  each batch. A layer's self time is its span minus its child spans.
* :class:`EventLog` reads the Spark event log of the traced session and
  reports job, stage and task times per pass, attributed through the
  ``perfbench.pass`` local property set around each pass.
* :class:`PssSampler` samples the summed resident memory (PSS) of the
  Spark JVM and its Python workers from ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from libswish3_spark import parser
from libswish3_spark.config import default_config
from libswish3_spark.pipeline import extract_batch_fn

PASS_PROPERTY = "perfbench.pass"
KERNEL_LAYERS = ("pipeline", "parser", "events", "tokenizer")


class KernelTracer:
    """Per-layer (count, total seconds, child seconds) over a kernel pass.

    Spans nest: every wrapped call adds its duration to the innermost
    enclosing open span's child time, so ``self = total - child``."""

    def __init__(self):
        self.totals = {name: [0, 0.0, 0.0] for name in KERNEL_LAYERS}
        self.per_batch: list[dict] = []
        self._open: list[float] = []

    def _enter(self) -> float:
        self._open.append(0.0)
        return time.perf_counter()

    def _exit(self, name: str, t0: float) -> None:
        dt = time.perf_counter() - t0
        child = self._open.pop()
        agg = self.totals[name]
        agg[0] += 1
        agg[1] += dt
        agg[2] += child
        if self._open:
            self._open[-1] += dt

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            t0 = self._enter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(name, t0)

        return traced

    @contextmanager
    def installed(self):
        """Patch the parser's references to its layers for the duration."""
        saved = (parser.parse_to_state, parser.html_events, parser.xml_events, parser.resolve_tokenizer)
        resolve = parser.resolve_tokenizer
        wrapped_tok: dict = {}

        def traced_resolve(config):
            tok = resolve(config)
            if tok not in wrapped_tok:
                wrapped_tok[tok] = self.wrap("tokenizer", tok)
            return wrapped_tok[tok]

        parser.parse_to_state = self.wrap("parser", parser.parse_to_state)
        parser.html_events = self.wrap("events", parser.html_events)
        parser.xml_events = self.wrap("events", parser.xml_events)
        parser.resolve_tokenizer = traced_resolve
        try:
            yield self
        finally:
            (parser.parse_to_state, parser.html_events, parser.xml_events, parser.resolve_tokenizer) = saved

    def run_batches(self, kernel, batches) -> tuple[int, int]:
        """Drive ``kernel`` (an ``extract_batch_fn`` function) one batch at a
        time under a ``pipeline`` span; returns (output spans, output bytes)."""
        spans = nbytes = 0
        for batch in batches:
            before = {k: list(v) for k, v in self.totals.items()}
            t0 = self._enter()
            try:
                (out,) = list(kernel(iter([batch])))
            finally:
                self._exit("pipeline", t0)
            spans += len(out.column("spans").values)
            nbytes += out.nbytes
            self.per_batch.append(
                {
                    k: {"count": v[0] - before[k][0], "s": v[1] - before[k][1], "child_s": v[2] - before[k][2]}
                    for k, v in self.totals.items()
                }
            )
        return spans, nbytes

    def self_s(self, name: str) -> float:
        _, total, child = self.totals[name]
        return total - child

    def count(self, name: str) -> int:
        return self.totals[name][0]


def kernel_pass(batches, traced: bool):
    """One single-process pass of the extraction kernel over ``batches``.
    Returns (wall seconds, tracer or None, output spans, output bytes)."""
    kernel = extract_batch_fn(default_config())
    t0 = time.perf_counter()
    if traced:
        tracer = KernelTracer()
        with tracer.installed():
            spans, nbytes = tracer.run_batches(kernel, batches)
    else:
        tracer = None
        spans = nbytes = 0
        for out in kernel(iter(batches)):
            spans += len(out.column("spans").values)
            nbytes += out.nbytes
    return time.perf_counter() - t0, tracer, spans, nbytes


def decode_pass(batches) -> float:
    """The kernel's Arrow→Python decode on its own: the same column
    conversions ``extract_batch_fn`` makes before parsing a batch."""
    t0 = time.perf_counter()
    for batch in batches:
        batch.column("doc_id").to_pylist()
        spans = batch.column("spans")
        values = spans.values
        for field in ("kind", "text", "media_ref"):
            values.field(field).to_pylist()
        spans.offsets.to_pylist()
        spans.is_valid().to_pylist()
        batch.column("parser").to_pylist()
    return time.perf_counter() - t0


class EventLog:
    """Jobs, stages and tasks of one Spark application's event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list] = {}
        with open(files[0]) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "pass": props.get(PASS_PROPERTY),
                "call_site": props.get("callSite.short"),
                "start": e["Submission Time"],
                "end": None,
            }
            for s in e["Stage IDs"]:
                self.stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "start": info.get("Submission Time"),
                "end": info.get("Completion Time"),
            }
        elif kind == "SparkListenerTaskEnd":
            info, metrics = e["Task Info"], e.get("Task Metrics") or {}
            shuffle = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            self.tasks.setdefault(e["Stage ID"], []).append(
                (info["Finish Time"] - info["Launch Time"], shuffle)
            )

    @staticmethod
    def _match(job: dict, label: str) -> bool:
        return job["pass"] is not None and (job["pass"] == label or job["pass"].startswith(label + "."))

    def pass_jobs(self, label: str) -> list[dict]:
        """Jobs of the passes labelled ``label`` or ``label.<part>``."""
        return [j for _, j in sorted(self.jobs.items()) if self._match(j, label)]

    def pass_stages(self, label: str) -> list[int]:
        ids = {i for i, j in self.jobs.items() if self._match(j, label)}
        return sorted(s for s, j in self.stage_job.items() if j in ids and s in self.stages)

    def summary(self, label: str, wall_s: float, slots: int) -> dict:
        """Spark scheduling metrics of one pass of wall time ``wall_s``."""
        stages = self.pass_stages(label)
        durations = [d for s in stages for d, _ in self.tasks.get(s, [])]
        busy_s = sum(durations) / 1000
        # stragglers: max over median task time in the pass's stage with
        # the most task time, the stage that sets the pass's length
        main = max(stages, key=lambda s: sum(d for d, _ in self.tasks.get(s, [])), default=None)
        main_d = [d for d, _ in self.tasks.get(main, [])] if main is not None else []
        return {
            "tasks": len(durations),
            "task_s": busy_s,
            "slot_busy_share": busy_s / (wall_s * slots) if wall_s > 0 else 0.0,
            "task_max_over_median": max(main_d) / max(statistics.median(main_d), 1) if main_d else 0.0,
            "main_stage_tasks": len(main_d),
            "shuffle_mb": sum(b for s in stages for _, b in self.tasks.get(s, [])) / 1e6,
        }

    def stage_s(self, stage: int) -> float:
        st = self.stages[stage]
        return (st["end"] - st["start"]) / 1000

    def job_s(self, job: dict) -> float:
        return (job["end"] - job["start"]) / 1000


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024


class PssSampler:
    """Peak summed PSS of the process tree under ``root`` (the Spark JVM,
    whose descendants are the Python worker daemon and its workers). PSS
    is RSS with each shared page split among the processes sharing it, so
    forked workers and spawned helpers are not counted twice."""

    INTERVAL_S = 0.1

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))

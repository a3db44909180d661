"""The traced phase of a ``--trace 1`` run: per-layer metrics.

It runs in the run's last Spark session, which writes an event log,
after the warm-up pass. The workload's traced end-to-end pass comes
first; then its chain is split where a layer boundary lies, by separate
passes through the library's public functions with outputs materialized
to scratch parquet. Each pass is labelled through a local property so
its jobs, stages and tasks can be read back from the event log. The
kernel layers come from single-process passes over the batches the
kernel receives (``tracing.kernel_pass``), once untraced and once
traced; ``trace.overhead_share`` is the traced pass's extra time over
the untraced one.

Every metric of ``PER_LAYER`` is reported on every workload; a layer the
workload's pass never calls reads 0. ``trace.coverage`` is the sum of
the workload's disjoint layer times over its traced end-to-end pass;
kernel seconds count as wall time divided by the slots, so a coverage
below 1 is time the layer model does not explain (see the ``gap``
block of the ``web_html`` report).
"""

from __future__ import annotations

import inspect
import os
import time

import pyarrow.parquet as pq

from libswish3_spark.functions.dedup import cap_drop_metrics, resolve_clusters
from libswish3_spark.operators.megadoc import (
    extract_html_segmented_rows,
    segment_html_docs,
    segment_xml_docs,
)
from libswish3_spark.operators.queries import MAX_BUCKET
from libswish3_spark.pipeline import ensure_parallelism, extract
from perfbench.tracing import PASS_PROPERTY, EventLog, decode_pass, kernel_pass
from perfbench.workloads import fresh

PER_LAYER = {
    "scan.s": "s",
    "arrow_hop.s": "s",
    "pipeline.decode_s": "s",
    "pipeline.build_s": "s",
    "pipeline.out_spans": "count",
    "pipeline.out_mb": "MB",
    "parser.self_s": "s",
    "parser.docs": "count",
    "events.s": "s",
    "events.calls": "count",
    "tokenizer.s": "s",
    "tokenizer.calls": "count",
    "spark.tasks": "count",
    "spark.slot_busy_share": "ratio",
    "spark.task_max_over_median": "ratio",
    "spark.shuffle_mb": "MB",
    "checkpoint.write_s": "s",
    "checkpoint.stats_s": "s",
    "megadoc.route_s": "s",
    "megadoc.segments": "count",
    "megadoc.split_share": "ratio",
    "megadoc.reassembly_s": "s",
    "megadoc.whole_s": "s",
    "signatures.index_s": "s",
    "signatures.bucket_rows": "count",
    "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.cap_dropped_buckets": "count",
    "dedup.verify_s": "s",
    "dedup.verify_yield": "ratio",
    "dedup.cc_s": "s",
    "dedup.cc_edges": "count",
    "dedup.cc_local": "count",
    "dedup.apply_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_share": "ratio",
}
BATCH_ROWS = 2000  # spark.sql.execution.arrow.maxRecordsPerBatch of the session


class Phase:
    """Labelled, timed passes in one event-logged session. A label may
    carry a ``.part`` suffix; ``total(label)`` sums a label's parts."""

    def __init__(self, spark, work: str):
        self.spark, self.work = spark, work
        self.wall: dict[str, float] = {}

    def timed(self, label: str, fn, *args):
        sc = self.spark.sparkContext
        sc.setLocalProperty(PASS_PROPERTY, label)
        try:
            t0 = time.perf_counter()
            out = fn(*args)
            self.wall[label] = time.perf_counter() - t0
        finally:
            sc.setLocalProperty(PASS_PROPERTY, None)
        return out

    def total(self, label: str) -> float:
        return sum(t for k, t in self.wall.items() if k == label or k.startswith(label + "."))

    def scratch(self, name: str) -> str:
        return fresh(os.path.join(self.work, "trace", name))

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def scan_and_hop(self, df, part: str) -> None:
        """``scan`` reads the columns the next operator keeps; ``hop`` adds an
        identity ``mapInArrow`` (after the same input spread ``extract`` applies),
        the floor of the JVM→Python→JVM round trip."""
        self.timed(f"scan.{part}", self.noop, df)
        spread = ensure_parallelism(df)
        self.timed(f"hop.{part}", self.noop, spread.mapInArrow(lambda batches: batches, spread.schema))


def _kernel_layers(batches, slots: int) -> tuple[dict, dict]:
    """Untraced and traced single-process kernel passes over ``batches``."""
    untraced_s, _, _, _ = kernel_pass(batches, traced=False)
    traced_s, tracer, spans, nbytes = kernel_pass(batches, traced=True)
    decode_s = decode_pass(batches)
    metrics = {
        "pipeline.decode_s": decode_s,
        "pipeline.build_s": tracer.self_s("pipeline") - decode_s,
        "pipeline.out_spans": spans,
        "pipeline.out_mb": nbytes / 1e6,
        "parser.self_s": tracer.self_s("parser"),
        "parser.docs": tracer.count("parser"),
        "events.s": tracer.self_s("events"),
        "events.calls": tracer.count("events"),
        "tokenizer.s": tracer.self_s("tokenizer"),
        "tokenizer.calls": tracer.count("tokenizer"),
        "trace.overhead_share": traced_s / untraced_s - 1,
    }
    report = {
        "kernel_serial_s": untraced_s,
        "kernel_traced_s": traced_s,
        "kernel_wall_equiv_s": untraced_s / slots,
        "self_s_base": (
            f"seconds of one core, single process, over the {sum(b.num_rows for b in batches)} rows"
            f" in {len(batches)} batches the kernel receives"
        ),
        "per_batch": tracer.per_batch,
    }
    return metrics, report


def _batches(path: str) -> list:
    table = pq.read_table(path, columns=["doc_id", "spans", "parser"])
    return table.to_batches(max_chunksize=BATCH_ROWS)


def _web_html(ph: Phase, wl, slots: int, out: str):
    ph.timed("e2e", wl.run, out)
    docs = wl.docs()
    ph.scan_and_hop(docs.select("doc_id", "spans", "parser"), "docs")
    ph.timed("extract", ph.noop, extract(docs))
    metrics, report = _kernel_layers(_batches(wl.corpus.path), slots)

    def after(log: EventLog) -> float:
        jobs = log.pass_jobs("e2e")
        # run_extraction: data write job(s), then the stats collect from
        # checkpoint.py, then the manifest write
        split = next(i for i, j in enumerate(jobs) if "checkpoint.py" in (j["call_site"] or ""))
        write, stats = jobs[:split], jobs[split:]
        metrics["checkpoint.write_s"] = (write[-1]["end"] - write[0]["start"]) / 1000
        metrics["checkpoint.stats_s"] = (stats[-1]["end"] - stats[0]["start"]) / 1000
        scan = ph.total("scan")
        report["layers_s"] = {
            "scan": scan,
            "arrow_hop": ph.total("hop") - scan,
            "kernel_wall_equiv": report["kernel_wall_equiv_s"],
            "sink (checkpoint.write_s - extract noop)": metrics["checkpoint.write_s"] - ph.wall["extract"],
            "checkpoint.stats_s": metrics["checkpoint.stats_s"],
        }
        report["gap"] = _gap(log, ph, wl.corpus.docs, slots, report["kernel_serial_s"])
        return sum(report["layers_s"].values())

    return metrics, report, after


def _gap(log: EventLog, ph: Phase, docs: int, slots: int, kernel_s: float) -> dict:
    """Where Spark ``extract()`` loses against ``slots`` × the serial kernel,
    in slot-seconds of the extract→noop pass."""
    ext = log.summary("extract", ph.wall["extract"], slots)
    hop = log.summary("hop", ph.total("hop"), slots)
    slot_s = ph.wall["extract"] * slots
    idle = slot_s - ext["task_s"]
    in_task = ext["task_s"] - hop["task_s"] - kernel_s
    return {
        "spark_extract_docs_per_s": docs / ph.wall["extract"],
        "ideal_docs_per_s": slots * docs / kernel_s,
        "efficiency": kernel_s / slot_s,
        "base": f"slot-seconds of the extract->noop pass: {ph.wall['extract']:.3f} s x {slots} slots",
        "slot_s": slot_s,
        "kernel_serial_s": kernel_s,
        "causes": {
            "idle_slots_s": idle,
            "idle_slots_share": idle / slot_s,
            "scan_and_arrow_hop_task_s": hop["task_s"],
            "scan_and_arrow_hop_share": hop["task_s"] / slot_s,
            "in_task_slowdown_s": in_task,
            "in_task_slowdown_share": in_task / slot_s,
        },
        "extract_tasks": ext["tasks"],
        "extract_task_max_over_median": ext["task_max_over_median"],
    }


def _megadoc(ph: Phase, mega, slots: int, out: str):
    ph.timed("e2e.megadoc", mega.run, out)
    html, xml = mega.read("html"), mega.read("xml")
    ph.scan_and_hop(html.select("doc_id", "spans").unionByName(xml.select("doc_id", "spans")), "megadoc")
    seg_path = ph.scratch("segments")
    ph.timed(
        "route",
        lambda: segment_html_docs(html).unionByName(segment_xml_docs(xml)).write.parquet(seg_path),
    )
    ph.timed("whole", ph.noop, mega.extract_whole())
    metrics, report = _kernel_layers(_batches(seg_path), slots)
    metrics["megadoc.segments"] = ph.spark.read.parquet(seg_path).count()
    metrics["megadoc.route_s"] = ph.wall["route"]
    metrics["megadoc.whole_s"] = ph.wall["whole"]

    seg_chars = inspect.signature(extract_html_segmented_rows).parameters["seg_chars"].default
    sizes = mega.doc_bytes
    per_doc = mega.per_doc(out)
    big = [d for d, n in sizes.items() if n > seg_chars]
    split = [d for d in big if per_doc[d]["segments"] > 1]
    metrics["megadoc.split_share"] = (
        sum(sizes[d] for d in split) / sum(sizes[d] for d in big) if big else 0.0
    )
    report["split_share_base"] = (
        f"{sum(sizes[d] for d in split)} bytes segmented of {sum(sizes[d] for d in big)}"
        f" bytes in {len(big)} docs above seg_chars={seg_chars}"
    )
    report["unsplit_docs_above_seg_chars"] = sorted(set(big) - set(split))

    def after(log: EventLog) -> float:
        # the result stage of the rows write holds the window prefix-sum
        # that re-bases span orders, the union and the parquet sink
        metrics["megadoc.reassembly_s"] = log.stage_s(log.pass_stages("e2e.megadoc")[-1])
        report["layers_s"] = {
            "megadoc.route_s": metrics["megadoc.route_s"],
            "kernel_wall_equiv": report["kernel_wall_equiv_s"],
            "megadoc.reassembly_s": metrics["megadoc.reassembly_s"],
        }
        return sum(report["layers_s"].values())

    return metrics, report, after


def _neardup(ph: Phase, dup, out: str):
    spark = ph.spark
    ph.timed("e2e.neardup", dup.run, out)
    ph.scan_and_hop(spark.read.parquet(dup.path).select("doc_id", "text"), "neardup")
    idx = ph.timed("index", dup.write_index, ph.scratch("index"))
    cand_path, ver_path, cc_path = ph.scratch("candidates"), ph.scratch("verified"), ph.scratch("clusters")
    ph.timed("candidates", lambda: dup.candidates(idx).write.parquet(cand_path))
    cand = spark.read.parquet(cand_path)
    ph.timed("verify", lambda: dup.verify(cand).write.parquet(ver_path))
    verified = spark.read.parquet(ver_path)
    ph.timed("cc", lambda: resolve_clusters(verified).write.parquet(cc_path))
    result = ph.timed("apply", dup.apply, spark.read.parquet(cc_path))
    n_cand, n_ver = cand.count(), verified.count()
    local_limit = int(spark.conf.get("spark.libswish3.cc.localEdgeLimit", "2000000"))
    metrics = {
        "signatures.index_s": ph.wall["index"],
        "signatures.bucket_rows": idx.count(),
        "dedup.candidates_s": ph.wall["candidates"],
        "dedup.candidate_pairs": n_cand,
        "dedup.cap_dropped_buckets": cap_drop_metrics(idx, "bucket", MAX_BUCKET).first()["dropped_buckets"],
        "dedup.verify_s": ph.wall["verify"],
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        "dedup.cc_s": ph.wall["cc"],
        "dedup.cc_edges": n_ver,
        # resolve_clusters' documented gate: local union-find when the
        # directed edge count fits spark.libswish3.cc.localEdgeLimit
        "dedup.cc_local": int(0 < local_limit and 2 * n_ver <= local_limit),
        "dedup.apply_s": ph.wall["apply"],
    }
    report = {
        "verify_yield_base": f"{n_ver} verified of {n_cand} candidate pairs",
        "split_chain_result": result,
        "layers_s": {s: ph.wall[s] for s in ("index", "candidates", "verify", "cc", "apply")},
    }
    if result != dup.expected:
        report["gate_failures"] = [f"split chain {result} expected {dup.expected}"]
    return metrics, report, lambda log: sum(report["layers_s"].values())


def _skew(ph: Phase, wl, slots: int, out: str):
    metrics, m_report, m_after = _megadoc(ph, wl.mega, slots, os.path.join(out, "megadoc"))
    d_metrics, d_report, d_after = _neardup(ph, wl.dup, os.path.join(out, "neardup"))
    metrics.update(d_metrics)  # m_after still fills megadoc.reassembly_s in place
    report = {
        "megadoc": m_report,
        "neardup": d_report,
        "gate_failures": d_report.pop("gate_failures", []),
    }
    return metrics, report, lambda log: m_after(log) + d_after(log)


_SPLITS = {"web_html": _web_html, "skew": _skew}


def trace(spark, wl, slots: int, work: str) -> dict:
    """Run the traced phase on ``spark`` (event log on, workers warm) and
    stop it: the traced end-to-end pass, then the layer splits."""
    ph = Phase(spark, work)
    out = ph.scratch("e2e")
    try:
        metrics, report, after = _SPLITS[wl.name](ph, wl, slots, out)
        gate = wl.check(out)
    finally:
        spark.stop()  # flushes and closes the event log
    log = EventLog(os.path.join(work, "events"))
    layers_s = after(log)
    e2e = ph.total("e2e")
    spark_m = log.summary("e2e", e2e, slots)
    values = {k: 0 for k in PER_LAYER}
    values.update(metrics)
    values.update(
        {
            "scan.s": ph.total("scan"),
            "arrow_hop.s": ph.total("hop") - ph.total("scan"),
            "spark.tasks": spark_m["tasks"],
            "spark.slot_busy_share": spark_m["slot_busy_share"],
            "spark.task_max_over_median": spark_m["task_max_over_median"],
            "spark.shuffle_mb": spark_m["shuffle_mb"],
            "trace.coverage": layers_s / e2e,
        }
    )
    report.update(
        {
            "e2e_traced_s": e2e,
            "pass_wall_s": ph.wall,
            "spark_e2e": spark_m,
            "jobs_by_pass": {
                label: [{"call_site": j["call_site"], "s": log.job_s(j)} for j in log.pass_jobs(label)]
                for label in ph.wall
            },
            "coverage_base": f"layers {layers_s:.3f} s / traced e2e pass {e2e:.3f} s",
        }
    )
    return {
        "metrics": {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()},
        "report": report,
        "gate_failures": gate + report.get("gate_failures", []),
    }

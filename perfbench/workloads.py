"""One measured pass per workload, and its output gate.

A pass calls only the library's public entry points and is timed from
outside. Its gate runs after the timer stops: it reads what the pass
produced and compares it with an expectation computed once, untimed, at
set-up. A gate returns the list of its failures; a pass with any
failure counts as failed.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from libswish3_spark.functions.dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    candidate_pairs_from_buckets,
    jaccard_verify,
    resolve_clusters,
)
from libswish3_spark.operators.megadoc import (
    extract_html_segmented_rows,
    extract_xml_segmented_rows,
)
from libswish3_spark.operators.queries import MAX_BUCKET, RESOLVE_BP
from libswish3_spark.operators.signatures import build_minhash_bucket_index
from libswish3_spark.pipeline import ensure_parallelism, extract
from libswish3_spark.plans.checkpoint import read_manifest, run_extraction
from perfbench.corpus import Corpus


class WebHtml:
    """``run_extraction`` over small HTML docs into a fresh output path,
    as ``submit_extract.py`` does in batch mode."""

    name = "web_html"
    # corpus sizes of the warm-up passes: after two full passes the next
    # three still got faster by about 20 % in all
    warm_up = ("full",) * 4

    def __init__(self, spark: SparkSession, corpus: Corpus):
        self.spark, self.corpus = spark, corpus
        self.expected = {
            "docs": corpus.docs,
            "words": corpus.info["expected_nwords"],
            "errors": 0,
        }

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.corpus.path)

    def run(self, out: str) -> None:
        run_extraction(self.spark, self.docs(), out)

    def check(self, out: str) -> list[str]:
        row = read_manifest(self.spark, out).agg(
            F.sum("docs").alias("docs"),
            F.sum("words").alias("words"),
            F.sum("errors").alias("errors"),
        ).first()
        got = {k: row[k] for k in self.expected}
        return [f"manifest {k}={got[k]} expected {v}" for k, v in self.expected.items() if got[k] != v]


class Megadoc:
    """Segmented extraction of HTML and XML mega-docs through
    ``extract_{html,xml}_segmented_rows`` into a parquet sink."""

    def __init__(self, spark: SparkSession, path: str, doc_bytes: dict):
        self.spark, self.path, self.doc_bytes = spark, path, doc_bytes
        # the unsegmented reference: plain extract() with the explicit
        # parser column (extension-less ids would otherwise parse as HTML)
        rows = self.extract_whole().select("doc_id", "nwords", "error").collect()
        bad = [r["doc_id"] for r in rows if r["error"] is not None]
        if bad or len(rows) != len(doc_bytes):
            raise RuntimeError(f"unsegmented reference failed: {len(rows)} rows, errors on {bad}")
        self.expected = {r["doc_id"]: r["nwords"] for r in rows}

    def read(self, kind: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, kind))

    def extract_whole(self) -> DataFrame:
        return extract(self.read("html").unionByName(self.read("xml")))

    def run(self, out: str) -> None:
        extract_html_segmented_rows(self.read("html")).unionByName(
            extract_xml_segmented_rows(self.read("xml"))
        ).write.mode("overwrite").parquet(out)

    def per_doc(self, out: str) -> dict:
        got = (
            self.spark.read.parquet(out)
            .groupBy("orig_id")
            .agg(
                F.sum("nwords").alias("nwords"),
                F.count("*").alias("segments"),
                F.max("error").alias("error"),
            )
            .collect()
        )
        return {r["orig_id"]: r for r in got}

    def check(self, out: str) -> list[str]:
        got = self.per_doc(out)
        fails = [f"doc {d}: missing" for d in self.expected if d not in got]
        fails += [f"doc {d}: unexpected" for d in got if d not in self.expected]
        for d, r in got.items():
            if r["error"] is not None:
                fails.append(f"doc {d}: error {r['error']!r}")
            elif d in self.expected and r["nwords"] != self.expected[d]:
                fails.append(f"doc {d}: nwords {r['nwords']} expected {self.expected[d]}")
        return fails


class Neardup:
    """Minhash index write and read-back, then candidates → Jaccard
    verify → connected components → left-anti apply, the chain of
    ``queries.q_dedup_apply``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark, self.path = spark, path
        table = pq.read_table(path, columns=["doc_id", "text"])
        self.expected = dedup_reference(
            table.column("doc_id").to_pylist(), table.column("text").to_pylist()
        )
        self.result: dict = {}

    def docs(self) -> DataFrame:
        return ensure_parallelism(self.spark.read.parquet(self.path))

    def write_index(self, out: str) -> DataFrame:
        path = os.path.join(out, "minhash_index")
        build_minhash_bucket_index(self.docs(), "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(path)
        return self.spark.read.parquet(path)

    def candidates(self, idx: DataFrame) -> DataFrame:
        return candidate_pairs_from_buckets(idx, max_bucket=MAX_BUCKET)

    def verify(self, cand: DataFrame) -> DataFrame:
        return jaccard_verify(self.docs(), cand, "doc_id", "text", threshold=RESOLVE_BP / 10000)

    def apply(self, clusters: DataFrame) -> dict:
        losers = clusters.where(F.col("doc_id") != F.col("keeper")).select("doc_id")
        row = (
            self.docs()
            .join(losers, "doc_id", "left_anti")
            .groupBy()
            .agg(
                F.count("*").alias("survivors"),
                F.sum(F.length("text")).cast("long").alias("surviving_chars"),
            )
            .first()
        )
        return {"survivors": row["survivors"], "surviving_chars": row["surviving_chars"]}

    def run(self, out: str) -> None:
        idx = self.write_index(out)
        self.result = self.apply(resolve_clusters(self.verify(self.candidates(idx))))

    def check(self, out: str) -> list[str]:
        return [
            f"{k}={self.result.get(k)} expected {v}"
            for k, v in self.expected.items()
            if self.result.get(k) != v
        ]


class Skew:
    """The mega-doc pass, then the near-dup pass, as one job sequence."""

    name = "skew"
    # a full warm-up pass costs 15-25 s of the run; after one over the
    # small corpus the first full pass is within about 10 % of the later
    # ones
    warm_up = ("small",)

    def __init__(self, spark: SparkSession, corpus: Corpus):
        self.mega = Megadoc(
            spark, os.path.join(corpus.path, "megadoc"), corpus.info["megadoc"]["doc_bytes"]
        )
        self.dup = Neardup(spark, os.path.join(corpus.path, "neardup"))
        # (mega-doc s, near-dup s) of every pass, for the report
        self.halves: list[tuple[float, float]] = []

    def run(self, out: str) -> None:
        t0 = time.perf_counter()
        self.mega.run(os.path.join(out, "megadoc"))
        t1 = time.perf_counter()
        self.dup.run(os.path.join(out, "neardup"))
        self.halves.append((t1 - t0, time.perf_counter() - t1))

    def check(self, out: str) -> list[str]:
        return self.mega.check(os.path.join(out, "megadoc")) + self.dup.check(
            os.path.join(out, "neardup")
        )


WORKLOADS = {w.name: w for w in (WebHtml, Skew)}


def make(name: str, spark: SparkSession, corpus: Corpus):
    return WORKLOADS[name](spark, corpus)


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def dedup_reference(ids: list, texts: list) -> dict:
    """(survivors, surviving_chars) of ``queries.ORACLE_DEDUP_APPLY``,
    computed in plain Python: 3-gram shingles of the ASCII token class,
    md5 minhash bands, bucket cap, Jaccard gate, min-id components.

    The DuckDB run of that SQL costs minutes on a few thousand docs, so
    the per-run gate uses this transcription; the smoke test checks the
    two agree on a small corpus."""
    token = re.compile("[a-z0-9'_]+")
    rows = MINHASH_K // MINHASH_BANDS
    shingles: dict = {}
    members = defaultdict(list)
    for doc, text in zip(ids, texts):
        toks = token.findall(text.lower())
        sh = list(dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)))
        shingles[doc] = set(sh)
        if not sh:
            continue
        digests = [
            [hashlib.md5(f"{s}#{g}".encode()).hexdigest() for s in sh]
            for g in range((MINHASH_K + 3) // 4)
        ]
        mins = [min(d[8 * (j % 4) : 8 * (j % 4) + 8] for d in digests[j // 4]) for j in range(MINHASH_K)]
        for b in range(MINHASH_BANDS):
            key = "|".join([str(b)] + mins[b * rows : (b + 1) * rows])
            members[hashlib.md5(key.encode()).hexdigest()].append(doc)
    pairs = {
        (a, b)
        for group in members.values()
        if len(group) <= MAX_BUCKET
        for a in group
        for b in group
        if a < b
    }
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        sa, sb = shingles[a], shingles[b]
        common = len(sa & sb)
        if common * 10000 // (len(sa) + len(sb) - common) >= RESOLVE_BP:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    keep = [find(d) == d for d in ids]
    return {
        "survivors": sum(keep),
        "surviving_chars": sum(len(t) for t, k in zip(texts, keep) if k),
    }

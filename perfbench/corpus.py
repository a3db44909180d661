"""Seeded, cached corpus generators for the two workloads.

Every corpus is derived from ``data/documents.parquet`` (the 5,000-row
sf0.1 ``documents`` table, vendored so the benchmark reads nothing
outside its checkout) and the ``--seed``. A generator writes
multi-file parquet plus a ``_corpus.json`` commit marker, last; a cached
corpus is reused only when the marker exists and the row count of the
parquet files equals the count it records. Each workload comes in two
sizes: ``full`` is measured, ``small`` is the warm-up pass before it
and the smoke test's input.

* ``web_html`` — every base doc replicated ``replicate`` times under
  remapped integer ids, wrapped like ``queries._html_wrap``, rows
  shuffled by the seed. Cost per document dominates.
* ``skew`` — two parts, each with its own kind of skew:

  - ``megadoc/``: HTML and XML mega-docs, alternating by size, built
    from seeded base texts as many top-level blocks, one size at the
    middle of each of ``mega_docs`` equal log-width strata between
    ``MEGA_MIN_CHARS`` and ``mega_max_chars`` (heavy-tailed, with the
    same sizes for every seed). Cost per byte and stragglers
    dominate. The largest doc, an XML one, nests all its blocks in one
    child of the root, a shape the cut scanner cannot split.
  - ``neardup/``: seeded base docs expanded into 1 to 5 variants each
    with word-edit rates on both sides of the 0.5 Jaccard gate,
    shuffled; the doc count, the mix of rates and (nearly) the text
    volume do not depend on the seed.
    Bypasses the parser; stresses the minhash index, shuffle joins and
    connected components.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
BASE_ROWS = 5000
# Σ nwords of the 5,000 HTML-wrapped sf0.1 docs, measured against the
# compiled libswish3 reference (ROADMAP "reference-measured" anchor).
BASE_NWORDS = 290_704

MEGA_FILES_PER_KIND = 2
MEGA_MIN_CHARS = 64 << 10
NEARDUP_FILES = 8
# word-edit rates: 3-gram Jaccard falls roughly as (1-r)^3/(2-(1-r)^3),
# so rates up to 0.08 land above the 0.5 gate and 0.15+ below it
NEARDUP_RATES = (0.0, 0.02, 0.05, 0.08, 0.15, 0.25, 0.4)
NEARDUP_MAX_VARIANTS = 5


@dataclass(frozen=True)
class Size:
    replicate: int
    web_files: int
    mega_docs: int
    mega_max_chars: int
    neardup_base: int


SIZES = {
    "full": Size(replicate=2, web_files=16, mega_docs=8, mega_max_chars=4 << 20, neardup_base=200),
    "small": Size(replicate=1, web_files=4, mega_docs=2, mega_max_chars=256 << 10, neardup_base=40),
}

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
_MARKER = "_corpus.json"


@dataclass(frozen=True)
class Corpus:
    """A generated corpus on disk: ``path`` holds the parquet files (in
    sub-directories for ``skew``); ``docs`` rows and ``text_bytes`` UTF-8
    bytes of document text in total."""

    path: str
    docs: int
    text_bytes: int
    info: dict


def _base() -> tuple[list[str], list[str]]:
    """(text, source) columns of the base table, in row order."""
    t = pq.read_table(BASE, columns=["text", "source"])
    if t.num_rows != BASE_ROWS:
        raise ValueError(f"{BASE}: {t.num_rows} rows, expected {BASE_ROWS}")
    return t.column("text").to_pylist(), t.column("source").to_pylist()


def _spans(texts: list[str]) -> pa.Array:
    n = len(texts)
    values = pa.StructArray.from_arrays(
        [
            pa.array(["text"] * n, pa.string()),
            pa.array(texts, pa.string()),
            pa.array([""] * n, pa.string()),
            pa.array([0] * n, pa.int32()),
        ],
        fields=list(SPAN_TYPE),
    )
    return pa.ListArray.from_arrays(pa.array(range(n + 1), pa.int32()), values)


def _docs_table(ids: list[str], texts: list[str], parser: str) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.string()),
            "spans": _spans(texts),
            "parser": pa.array([parser] * len(ids), pa.string()),
        }
    )


def _write_files(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    files = max(1, min(files, table.num_rows))
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _gen_web_html(seed: int, path: str, scale: Size) -> dict:
    texts, sources = _base()
    order = list(range(BASE_ROWS * scale.replicate))
    random.Random(seed).shuffle(order)
    # new id j is copy j // BASE_ROWS of base doc j % BASE_ROWS; only the
    # row order and file assignment depend on the seed, so Σ nwords is
    # BASE_NWORDS × replicate for every seed
    out_ids, out_texts = [], []
    for j in order:
        i = j % BASE_ROWS
        out_ids.append(str(j))
        out_texts.append(
            f"<html><head><title>doc {j} from {sources[i]}</title></head>"
            f"<body>{texts[i]}</body></html>"
        )
    _write_files(_docs_table(out_ids, out_texts, "HTML"), path, scale.web_files)
    return {"replicate": scale.replicate, "expected_nwords": BASE_NWORDS * scale.replicate}


_HTML_BLOCKS = ("p", "div", "h2", "blockquote", "section")
_XML_BLOCKS = ("para", "note", "item", "entry")


def _blocks(rng: random.Random, texts: list[str], tags: tuple, size: int) -> str:
    parts, acc = [], 0
    while acc < size:
        tag = tags[rng.randrange(len(tags))]
        block = f"<{tag}>{texts[rng.randrange(len(texts))]}</{tag}>\n"
        parts.append(block)
        acc += len(block)
    return "".join(parts)


def _gen_megadoc(seed: int, path: str, scale: Size) -> dict:
    texts, _ = _base()
    rng = random.Random(seed)
    lo, hi = math.log(MEGA_MIN_CHARS), math.log(scale.mega_max_chars)
    width = (hi - lo) / scale.mega_docs
    # the middle of each log-width stratum: heavy-tailed, with the same
    # sizes and the same straggler for every seed (only the blocks vary)
    sizes = [int(math.exp(lo + width * (k + 0.5))) for k in range(scale.mega_docs)]
    html_sizes, xml_sizes = sizes[0::2], sizes[1::2]
    # the largest doc, an XML one, nests every block under one <body>
    # child of the root
    wrapped = len(xml_sizes) - 1
    html_ids, html_texts = [], []
    for k, size in enumerate(html_sizes):
        doc_id = f"mega-html-{k:03d}"
        body = _blocks(rng, texts, _HTML_BLOCKS, size)
        html_ids.append(doc_id)
        html_texts.append(
            f"<html><head><title>mega html {k}</title></head><body>\n{body}</body></html>"
        )
    xml_ids, xml_texts = [], []
    for k, size in enumerate(xml_sizes):
        doc_id = f"mega-xml-{k:03d}"
        body = _blocks(rng, texts, _XML_BLOCKS, size)
        if k == wrapped:
            body = f"<body>\n{body}</body>\n"
        xml_ids.append(doc_id)
        xml_texts.append(f'<?xml version="1.0"?>\n<doc>\n{body}</doc>\n')
    doc_bytes = {d: len(t.encode("utf-8")) for d, t in zip(html_ids + xml_ids, html_texts + xml_texts)}
    _write_files(_docs_table(html_ids, html_texts, "HTML"), os.path.join(path, "html"), MEGA_FILES_PER_KIND)
    _write_files(_docs_table(xml_ids, xml_texts, "XML"), os.path.join(path, "xml"), MEGA_FILES_PER_KIND)
    return {
        "doc_bytes": doc_bytes,
        "wrapped_xml": xml_ids[wrapped],
    }


def _edit(rng: random.Random, words: list[str], vocab: list[str], rate: float) -> str:
    return " ".join(
        vocab[rng.randrange(len(vocab))] if rng.random() < rate else w for w in words
    )


def _gen_neardup(seed: int, path: str, scale: Size) -> dict:
    texts, _ = _base()
    rng = random.Random(seed)
    vocab = sorted({w for t in texts for w in t.split()})
    # 1..NEARDUP_MAX_VARIANTS variants per base doc and every edit rate
    # in equal shares, dealt out by the seed: the doc count and the mix
    # of rates are the same for every seed
    counts = [1 + k % NEARDUP_MAX_VARIANTS for k in range(scale.neardup_base)]
    rng.shuffle(counts)
    rates = [NEARDUP_RATES[k % len(NEARDUP_RATES)] for k in range(sum(counts))]
    rng.shuffle(rates)
    out = []
    # one base doc from each of neardup_base strata of the base docs by
    # length, so the text volume hardly depends on the seed either
    by_len = sorted(range(BASE_ROWS), key=lambda i: (len(texts[i]), i))
    step = BASE_ROWS // scale.neardup_base
    picks = [by_len[k * step + rng.randrange(step)] for k in range(scale.neardup_base)]
    rng.shuffle(picks)
    for i, n in zip(picks, counts):
        words = texts[i].split()
        out.append(texts[i])
        out.extend(_edit(rng, words, vocab, rates.pop()) for _ in range(n))
    rng.shuffle(out)
    table = pa.table(
        {"doc_id": pa.array(range(len(out)), pa.int64()), "text": pa.array(out, pa.string())}
    )
    _write_files(table, path, NEARDUP_FILES)
    return {"docs": len(out)}


def _gen_skew(seed: int, path: str, scale: Size) -> dict:
    return {
        "megadoc": _gen_megadoc(seed, os.path.join(path, "megadoc"), scale),
        "neardup": _gen_neardup(seed, os.path.join(path, "neardup"), scale),
    }


_GENERATORS = {"web_html": _gen_web_html, "skew": _gen_skew}
WORKLOADS = tuple(_GENERATORS)


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _count_rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def _text_bytes(path: str) -> int:
    """UTF-8 bytes of document text: the ``text`` column, or the text of
    every span."""
    total = 0
    for f in _parquet_files(path):
        if "text" in pq.read_schema(f).names:
            col = pq.read_table(f, columns=["text"]).column("text")
        else:
            col = pq.read_table(f, columns=["spans"]).column("spans").combine_chunks().flatten().field("text")
        total += pc.sum(pc.binary_length(col)).as_py() or 0
    return total


def load(workload: str, seed: int, root: str, size: str = "full") -> Corpus:
    """Return the corpus for (workload, seed, size) under ``root``,
    generating it unless a complete copy with the recorded row count is
    cached. Other seeds' corpora of the same workload and size are
    removed, so the cache holds one corpus per workload and size."""
    prefix = f"{workload}-{size}-seed"
    path = os.path.join(root, f"{prefix}{seed}")
    marker = os.path.join(path, _MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            meta = json.load(f)
        if _count_rows(path) == meta["docs"]:
            return Corpus(path, meta["docs"], meta["text_bytes"], meta["info"])
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(prefix):
            shutil.rmtree(os.path.join(root, old))
    info = _GENERATORS[workload](seed, path, SIZES[size])
    meta = {
        "docs": _count_rows(path),
        "text_bytes": _text_bytes(path),
        "info": info,
    }
    with open(marker, "w") as f:
        json.dump(meta, f)
    return Corpus(path, meta["docs"], meta["text_bytes"], info)

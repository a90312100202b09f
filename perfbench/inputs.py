"""Seeded benchmark inputs built from datagen's public per-doc functions.

A seed selects a window of document indices; every document, page blob
and expected output span derives from `datagen.doc_plan`,
`datagen.make_page_descriptor`, `datagen.encode_page` and
`datagen.expected_out_spans` for those indices, so the same seed always
gives the same inputs and `expected_out_spans` stays the oracle.

Generation runs in a small spawn pool before the Spark session starts,
outside every timed region, and writes plain parquet with pyarrow.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from surya_spark import datagen

WINDOW = 100_000  # doc indices reserved per seed

_SPAN = pa.struct([
    pa.field("kind", pa.string(), False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), False),
])
DOCS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), False),
    pa.field("spans", pa.list_(_SPAN), False),
])
BLOBS_SCHEMA = pa.schema([
    pa.field("media_ref", pa.string(), False),
    pa.field("width", pa.int32(), False),
    pa.field("height", pa.int32(), False),
    pa.field("img_bytes", pa.binary(), False),
])


def span_digest(spans) -> str:
    """Digest of a span sequence over (kind, text, media_ref, offset)."""
    key = [(s["kind"], s["text"], s["media_ref"], int(s["offset"]))
           for s in spans]
    return hashlib.sha1(json.dumps(key).encode()).hexdigest()


def _build(indices: list[int]) -> dict:
    """Runs in a pool worker. expected_out_spans re-derives every page
    descriptor, which is half the cost of generation; within this worker
    process datagen.make_page_descriptor is memoized for the duration of
    the call (it is a pure function of its arguments)."""
    original = datagen.make_page_descriptor
    memo: dict = {}

    def memoized(doc_idx: int, span_offset: int, kind: str) -> dict:
        key = (doc_idx, span_offset, kind)
        if key not in memo:
            memo[key] = original(doc_idx, span_offset, kind)
        return memo[key]

    datagen.make_page_descriptor = memoized
    try:
        return _build_docs(indices)
    finally:
        datagen.make_page_descriptor = original


def _build_docs(indices: list[int]) -> dict:
    docs, blobs, expected = [], [], {}
    pages = tables = tall = blob_bytes = 0
    for idx in indices:
        doc_id = f"doc-{idx:09d}"
        plan = datagen.doc_plan(idx)
        docs.append({"doc_id": doc_id, "spans": [
            {"kind": s["kind"], "text": s["text"],
             "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in plan]})
        for s in plan:
            if s["media_ref"] is None:
                continue
            desc = datagen.make_page_descriptor(idx, s["offset"], s["kind"])
            blob = datagen.encode_page(desc)
            blobs.append({"media_ref": s["media_ref"], "width": desc["w"],
                          "height": desc["h"], "img_bytes": blob})
            pages += 1
            tables += s["kind"] == "table"
            tall += desc["h"] > desc["w"]
            blob_bytes += len(blob)
        expected[doc_id] = span_digest(datagen.expected_out_spans(idx))
    return {"docs": docs, "blobs": blobs, "expected": expected,
            "stats": {"pages": pages, "tables": tables, "tall_pages": tall,
                      "blob_bytes": blob_bytes}}


@dataclass
class Inputs:
    """One generated dataset: parquet paths, oracle digests and size."""
    docs_dir: str
    blobs_dir: str
    expected: dict[str, str]
    stats: dict = field(default_factory=dict)

    def input_bytes(self) -> int:
        return sum(dir_bytes(d) for d in (self.docs_dir, self.blobs_dir))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def generate(out_dir: str, seed: int, n_docs: int, doc_files: int,
             blob_files: int, workers: int) -> Inputs:
    """Documents of window `seed` as `doc_files` parquet files (equal doc
    counts, index order) plus their page blobs as `blob_files` files."""
    start = seed * WINDOW
    indices = list(range(start, start + n_docs))
    per = -(-n_docs // doc_files)
    chunks = [indices[i:i + per] for i in range(0, n_docs, per)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(workers, len(chunks))) as pool:
        parts = pool.map(_build, chunks)
        pool.close()
        pool.join()
    docs_dir, blobs_dir = f"{out_dir}/documents", f"{out_dir}/page_blobs"
    os.makedirs(docs_dir)
    os.makedirs(blobs_dir)
    for i, part in enumerate(parts):
        pq.write_table(pa.Table.from_pylist(part["docs"], DOCS_SCHEMA),
                       f"{docs_dir}/part-{i:05d}.parquet")
    blobs = [b for part in parts for b in part["blobs"]]
    per_b = -(-len(blobs) // blob_files)
    for i in range(0, len(blobs), per_b):
        pq.write_table(pa.Table.from_pylist(blobs[i:i + per_b], BLOBS_SCHEMA),
                       f"{blobs_dir}/part-{i // per_b:05d}.parquet")
    expected = {k: v for part in parts for k, v in part["expected"].items()}
    stats = {"docs": n_docs}
    for key in ("pages", "tables", "tall_pages", "blob_bytes"):
        stats[key] = sum(part["stats"][key] for part in parts)
    return Inputs(docs_dir, blobs_dir, expected, stats)


def check_output(out_dir: str, expected: dict[str, str]) -> tuple[int, int]:
    """(attempted, failed) for one extraction output directory: a doc
    fails when its span sequence differs from the oracle, when it is
    missing, or when it appears more than once."""
    seen: dict[str, int] = {}
    failed = 0
    if os.path.isdir(out_dir):
        table = pq.read_table(out_dir, columns=["doc_id", "spans"])
        for row in table.to_pylist():
            doc_id = row["doc_id"]
            seen[doc_id] = seen.get(doc_id, 0) + 1
            if expected.get(doc_id) != span_digest(row["spans"]):
                failed += 1
    failed += sum(1 for d in expected if d not in seen)
    failed += sum(n - 1 for n in seen.values() if n > 1)
    return len(expected), failed

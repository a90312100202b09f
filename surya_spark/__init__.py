"""surya_spark — a from-scratch PySpark-native document-extraction engine.

Re-expresses the capabilities of the reference OCR stack (VikParuchuri/surya,
studied read-only at /root/reference) as an idiomatic Spark DataFrame
pipeline:

    documents(doc_id, spans) ──explode──► span_rows
        media spans ⋈ page_blobs ──► page_rows
        page_rows ──detect UDF──► lines ──clean/expand/sort──► ordered lines
        lines ⋈ crops ──recognize UDF──► ocr_lines
        page_rows ──layout UDF──► regions ──► table crops ──table UDF──► cells
        ocr_lines + text spans ──assemble──► out_spans(doc_id, spans)

Design rules (SURVEY.md §7.0):
  * spans are the IR; every intermediate keyed by (doc_id, media_ref, idx)
  * model inference = four pluggable vectorized pandas/Arrow UDF slots;
    deterministic fixture-backed surrogates in tests, real models on GPU
  * geometry is Column expressions, not Python loops
  * no RDDs, no per-row Python UDFs anywhere
"""

__version__ = "0.1.0"

# Python workers re-read every zip/jar directory on each task unless the
# archive cache check is stat-based; see zipimport_cache.py
from . import zipimport_cache as _zipimport_cache  # noqa: E402

_zipimport_cache.install()

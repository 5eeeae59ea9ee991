"""Spark extraction stage: pages table → structured extraction rows.

One Arrow-batched ``mapInArrow`` over the pages table runs the fused
per-document kernel (parse → reading order → rows → merge → pairs),
i.e. the reference's S3+S4+S5+G1-G8 chain in a single pass over each
document's bytes (SURVEY.md §3.2). Everything downstream of this stage
is native DataFrame code.

Why ``mapInArrow`` (not ``mapInPandas``): the stage's output is nested
(arrays of element/pair structs). Building a pandas frame of Python
object columns and letting the serializer coerce it costs more than
the kernel itself; constructing the Arrow RecordBatch directly
(``RecordBatch.from_pylist`` with an explicit schema) measured ~2-4×
higher end-to-end throughput at local[32].

Scale notes:
* iterator form — per-executor setup is amortized across all batches
  (the reference re-initialized its OCR model per document,
  ``src/ocr/easyocr_client.py:23``; this design can't repeat that bug);
* Arrow batch size bounds worker memory: batches carry whole page
  payloads, so ``spark.sql.execution.arrow.maxRecordsPerBatch`` must
  be sized against payload bytes (default 1024 rows ≈ tens of MB at
  typical web-page sizes; lower it for large documents);
* per-row ``kernel_us`` and ``bytes_in`` feed the lineage sidecar so
  partition skew is observable, not guessed.
"""

from __future__ import annotations

import time
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from ..config.document_types import CREDIT_REQUEST_FIELDS
from ..kernel.fields import clean_value

_PA_BBOX = pa.struct([
    ("x1", pa.float64()), ("y1", pa.float64()),
    ("x2", pa.float64()), ("y2", pa.float64()),
    ("width", pa.float64()), ("height", pa.float64()),
])

# The one definition of the stage's output schema: workers build
# their batches against it, and the driver derives the Spark schema
# from it (``_spark_schema``).
PA_EXTRACTED_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("doc_kind", pa.string()),
    ("page_count", pa.int32()),
    ("extracted_text", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("start", pa.int64()), ("end", pa.int64()),
        ("page", pa.int32())]))),
    ("elements", pa.list_(pa.struct([
        ("elem_idx", pa.int32()), ("page_num", pa.int32()),
        ("text", pa.string()), ("confidence", pa.float64()),
        ("bbox", _PA_BBOX)]))),
    ("pairs", pa.list_(pa.struct([
        ("pair_idx", pa.int32()), ("label", pa.string()),
        ("value", pa.string()), ("page", pa.int32()),
        ("confidence", pa.float64()), ("pair_type", pa.string()),
        ("bounding_box", _PA_BBOX)]))),
    ("n_elements", pa.int32()),
    ("n_pairs", pa.int32()),
    ("bytes_in", pa.int64()),
    ("kernel_us", pa.int64()),
    ("link_canonical", pa.string()),
    ("noindex", pa.bool_()),
    ("title", pa.string()),
    ("published", pa.string()),
    ("base_href", pa.string()),
    ("links", pa.list_(pa.struct([
        ("link_idx", pa.int32()), ("href", pa.string()),
        ("url", pa.string()), ("anchor", pa.string()),
        ("nofollow", pa.bool_())]))),
    ("metas", pa.list_(pa.struct([
        ("meta_idx", pa.int32()), ("name", pa.string()),
        ("content", pa.string())]))),
    ("error", pa.string()),
])

# The ``fields=True`` column: one struct per matched field, the same
# columns and values as ``fields_native.fields_table`` rows minus
# ``url``, taken from the kernel's own match and validation.
PA_FIELD = pa.struct([
    ("field_idx", pa.int32()),
    ("field_name", pa.string()),
    ("value", pa.string()),
    ("confidence", pa.float64()),
    ("page", pa.int32()),
    ("bounding_box", _PA_BBOX),
    ("source", pa.string()),
    ("clean_str", pa.string()),
    ("clean_num", pa.float64()),
    ("clean_bool", pa.bool_()),
    ("is_valid", pa.bool_()),
    ("errors", pa.list_(pa.string())),
])

_CLEAN_COLUMN = {"string": "clean_str", "date": "clean_str",
                 "currency": "clean_num", "area": "clean_num",
                 "number": "clean_num", "boolean": "clean_bool"}

_EMPTY_RESULT = {
    "doc_kind": "error", "page_count": 0, "extracted_text": "",
    "spans": [], "elements": [], "pairs": [],
}

# Batch error guard: a single bad document must degrade to an error
# row, but a batch of >= this many rows where EVERY row errors is a
# systemic kernel regression (ImportError, schema bug, ...) — the job
# must fail fast, not "succeed" with 100% error rows.
_BATCH_GUARD_MIN_ROWS = 32


def _arrow_schema(fields: bool = False) -> pa.Schema:
    if not fields:
        return PA_EXTRACTED_SCHEMA
    schema = PA_EXTRACTED_SCHEMA.remove(
        PA_EXTRACTED_SCHEMA.get_field_index("elements"))
    return schema.append(pa.field("fields", pa.list_(PA_FIELD)))


def _spark_schema(fields: bool = False):
    return from_arrow_schema(_arrow_schema(fields))


def _field_rows(res: dict) -> list[dict]:
    """The kernel's matched fields as ``PA_FIELD`` rows, in spec
    order (error rows carry no ``extracted_fields``: none)."""
    hits = res.get("extracted_fields")
    if not hits:
        return []
    checks = res["validation_results"]
    out = []
    for idx, spec in enumerate(CREDIT_REQUEST_FIELDS):
        hit = hits.get(spec.name)
        if hit is None:
            continue
        row = {
            "field_idx": idx, "field_name": spec.name,
            "value": hit["value"], "confidence": hit["confidence"],
            "page": hit["page"], "bounding_box": hit["bounding_box"],
            "source": hit["source"],
            "is_valid": checks[spec.name]["is_valid"],
            "errors": checks[spec.name]["errors"],
        }
        column = _CLEAN_COLUMN[spec.clean_type]
        clean = clean_value(hit["value"], spec.clean_type)
        if column == "clean_num" and clean is not None:
            try:
                clean = float(clean)
            except OverflowError:  # a digit run past double range
                clean = None
        row[column] = clean
        out.append(row)
    return out


def _extract_batches(
        batches: Iterator[pa.RecordBatch],
        fields: bool = False) -> Iterator[pa.RecordBatch]:
    # Once-per-worker initialization (iterator-UDF prologue).
    from credit_ocr_system_spark.kernel.extract import extract_document

    schema = _arrow_schema(fields)
    for batch in batches:
        urls = batch.column("url").to_pylist()
        payloads = batch.column("html").to_pylist()
        rows = []
        n_errors = 0
        for url, payload in zip(urls, payloads):
            t0 = time.perf_counter_ns()
            try:
                res = extract_document(url, payload)
                err = None
            except Exception as ex:  # poison-doc guard: at 10^12 rows
                # one pathological document must degrade to an error
                # row, never fail the task (and with it, after
                # spark.task.maxFailures retries, the job)
                res = _EMPTY_RESULT
                err = f"{type(ex).__name__}: {ex}"[:500]
                n_errors += 1
            elapsed_us = (time.perf_counter_ns() - t0) // 1000
            row = {
                "url": url,
                "doc_kind": res["doc_kind"],
                "page_count": res["page_count"],
                "extracted_text": res["extracted_text"],
                "spans": res["spans"],
                "pairs": [
                    {"pair_idx": i, "label": p["label"],
                     "value": p["value"], "page": p["page"],
                     "confidence": p["confidence"],
                     "pair_type": p.get("type"),
                     "bounding_box": p["bounding_box"]}
                    for i, p in enumerate(res["pairs"])
                ],
                "n_elements": len(res["elements"]),
                "n_pairs": len(res["pairs"]),
                "bytes_in": len(payload) if payload is not None else 0,
                "kernel_us": elapsed_us,
                "link_canonical": res.get("link_canonical") or None,
                "noindex": bool(res.get("noindex", False)),
                "title": res.get("title") or None,
                "published": res.get("published") or None,
                "base_href": res.get("base_href") or None,
                "links": res.get("links", []),
                "metas": res.get("metas", []),
                "error": err,
            }
            if fields:
                row["fields"] = _field_rows(res)
            else:
                row["elements"] = [
                    {"elem_idx": i, "page_num": e["page_num"],
                     "text": e["text"], "confidence": e["confidence"],
                     "bbox": e["bbox"]}
                    for i, e in enumerate(res["elements"])
                ]
            rows.append(row)
        if n_errors == len(rows) and n_errors >= _BATCH_GUARD_MIN_ROWS:
            raise RuntimeError(
                f"extraction kernel failed on ALL {n_errors} documents "
                f"of a batch — systemic regression, failing the task "
                f"instead of emitting error rows. First error: "
                f"{rows[0]['error']}")
        yield pa.RecordBatch.from_pylist(rows, schema=schema)


def extract_pages(pages: DataFrame, *, fields: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extraction rows.

    Column pruning: only ``url`` and ``html`` cross the Arrow boundary
    — selecting first lets Parquet/Iceberg drop the other columns at
    the scan.

    ``fields=True`` ships ``fields``, the kernel's matched, cleaned and
    validated fields per document (``PA_FIELD``), in place of the
    per-line ``elements`` they were matched from: a consumer needs no
    second match pass, and the largest column after the payload text
    stays out of the Arrow batches.
    """
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _extract_batches(batches, fields=fields)

    return pages.select("url", "html").mapInArrow(
        run, schema=_spark_schema(fields))

"""Output check run after every timed job.

A run passes only if

* the committed ``extracted`` view holds every input url exactly once
  and nothing else, and ``doc_status`` holds each url once;
* for a fixed url-hash sample (plus every genuine PDF on
  ``pdf_scans``), committed ``extracted_text``, ``spans`` and ``pairs``
  serialize byte-equal to a driver-side ``kernel.extract
  .extract_document`` of the same payload, and the committed ``fields``
  rows (name, value, ``is_valid``, ``errors``) equal the kernel's
  ``extracted_fields`` / ``validation_results``;
* at seed 42, committed rows of golden pages present in the corpus
  also match ``tests/goldens/page_*.json`` (read-only).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GOLDEN_SEED = 42
SAMPLE_MOD = 16           # ~1/16 of urls are checked field by field


def _dump(obj) -> str:
    return json.dumps(obj, sort_keys=True, ensure_ascii=False)


def _bbox(b):
    if b is None:
        return None
    return {k: b[k] for k in ("x1", "y1", "x2", "y2", "width", "height")}


def _doc_view(text, spans, pairs) -> str:
    """Canonical serialization of one document's text/spans/pairs —
    the same shape whether built from kernel dicts or committed rows."""
    return _dump({
        "extracted_text": text,
        "spans": [{"start": s["start"], "end": s["end"],
                   "page": s["page"]} for s in spans],
        "pairs": [{"label": p["label"], "value": p["value"],
                   "page": p["page"], "confidence": p["confidence"],
                   "type": p["type"], "bounding_box": _bbox(
                       p["bounding_box"])} for p in pairs],
    })


def _fields_view(extracted_fields: dict, validation: dict) -> str:
    return _dump({name: [hit["value"], validation[name]["is_valid"],
                         validation[name]["errors"]]
                  for name, hit in extracted_fields.items()})


def _kernel_expected(doc: dict) -> tuple[str, str]:
    pairs = [dict(p, type=p.get("type")) for p in doc["pairs"]]
    return (_doc_view(doc["extracted_text"], doc["spans"], pairs),
            _fields_view(doc["extracted_fields"],
                         doc["validation_results"]))


def _goldens(repo_root: str) -> dict:
    out = {}
    for path in sorted(glob.glob(os.path.join(
            repo_root, "tests", "goldens", "page_*.json"))):
        with open(path, encoding="utf-8") as fh:
            g = json.load(fh)
        out[g["document_uuid"]] = _kernel_expected(g["data"])
    return out


class OutputCheck:
    """Expected values are computed once per process; ``check`` then
    compares one committed output root against them."""

    def __init__(self, repo_root: str, sample: list, seed: int):
        from credit_ocr_system_spark.kernel.extract import extract_document

        self.expected = {}
        for url, payload in sample:
            self.expected[url] = _kernel_expected(
                extract_document(url, payload))
        self.golden = _goldens(repo_root) if seed == GOLDEN_SEED else {}

    def check(self, spark: SparkSession, pages: DataFrame,
              out_root: str) -> tuple[list[str], dict]:
        """Returns (problems, counts); an empty list means the run's
        output is correct."""
        from credit_ocr_system_spark.plans.pipeline import SnapshotSink

        problems = []
        ext = SnapshotSink(os.path.join(out_root, "extracted")) \
            .read_committed(spark)
        status = SnapshotSink(os.path.join(out_root, "doc_status")) \
            .read_committed(spark)
        if ext is None or status is None:
            return ["no committed extracted/doc_status snapshot"], {}
        per_url = ext.groupBy("url").agg(
            F.count("*").alias("n"),
            F.sum(F.col("error").isNotNull().cast("int")).alias("e"))
        inputs = pages.select("url").withColumn("in_input", F.lit(1))
        c = per_url.join(inputs, "url", "full_outer").agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("rows"),
            F.count("in_input").alias("inputs"),
            F.sum((F.col("n") > 1).cast("int")).alias("dup"),
            F.sum(F.col("n").isNull().cast("int")).alias("missing"),
            F.sum(F.col("in_input").isNull().cast("int")).alias("extra"),
            F.coalesce(F.sum("e"), F.lit(0)).alias("errors"),
        ).first()
        if c.dup or c.missing or c.extra or c.rows != c.inputs:
            problems.append(
                f"url set: {c.rows} committed rows for {c.inputs} inputs "
                f"({c.dup} duplicated, {c.missing} missing, "
                f"{c.extra} not in input)")
        s = status.agg(F.count("*").alias("n"),
                       F.countDistinct("url").alias("d")).first()
        if s.n != c.inputs or s.d != c.inputs:
            problems.append(f"doc_status: {s.n} rows, {s.d} urls for "
                            f"{c.inputs} inputs")

        expect = ([(u, e, "kernel") for u, e in self.expected.items()]
                  + [(u, e, "golden") for u, e in self.golden.items()])
        urls = sorted({u for u, _e, _src in expect})
        got_docs = {
            r.url: _doc_view(r.extracted_text, r.spans, [
                dict(p.asDict(recursive=True), type=p.pair_type)
                for p in r.pairs])
            for r in ext.where(F.col("url").isin(urls))
            .select("url", "extracted_text", "spans", "pairs").collect()}
        fields = SnapshotSink(os.path.join(out_root, "fields")) \
            .read_committed(spark)
        got_fields: dict = {}
        for r in (fields.where(F.col("url").isin(urls))
                  .select("url", "field_name", "value", "is_valid",
                          "errors").collect()):
            got_fields.setdefault(r.url, {})[r.field_name] = [
                r.value, r.is_valid, list(r.errors)]
        n_golden = 0
        for u, (doc, doc_fields), source in expect:
            if u not in got_docs:
                if source == "kernel":
                    problems.append(f"{u}: sampled url not committed")
                continue  # golden page outside this corpus
            n_golden += source == "golden"
            if got_docs[u] != doc:
                problems.append(f"{u}: text/spans/pairs differ ({source})")
            if _dump(got_fields.get(u, {})) != doc_fields:
                problems.append(f"{u}: fields differ ({source})")
        return problems, {"committed": c.rows, "error_rows": c.errors,
                          "checked_docs": len(got_docs),
                          "golden_docs": n_golden}

"""Traced run: per-layer numbers for one workload.

Spans are recorded from the benchmark's own code, around calls into
each module's public functions; nothing inside the package is
instrumented. A traced run does three things:

1. **Probes** force one layer at a time on the run's input and
   committed state (input scan, resume anti-join, hot-domain pass,
   salted repartition with its shuffle bytes).
2. **Replay** repeats ``plans.pipeline.run_extraction_job`` step by
   step — the same public calls and the same Spark actions in the same
   order — with a span around each action. One extra action, the
   lineage aggregate, runs inside the replay as a probe span; it is
   left out of the replay's total. ``trace.overhead_s`` is the replay
   total minus the median untimed ``job_s`` of the same process, so a
   large gap also says the replay has drifted from the job.
3. **Kernel** times ``kernel.extract`` and its public stages on a
   fixed per-class document sample (seed 42), single process, no Spark.

Spans (name, start, end, parent, run id, counts, self time) are kept in
memory and written as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SAMPLE_SEED = 42
SAMPLE_SIZES = {"html": 48, "pdf_digital": 16, "pdf_scanned": 4}
KERNEL_PASSES = 3
SINKS = ("extracted", "fields", "lineage", "hot_keys")

# Every per-layer metric a traced run reports: name -> (unit, better).
PER_LAYER = {
    "sources.scan_s": ("s", "lower"),
    "pipeline.resume_filter_s": ("s", "lower"),
    "pipeline.hot_domains_s": ("s", "lower"),
    "pipeline.repartition_s": ("s", "lower"),
    "pipeline.shuffle_mb": ("MB", "lower"),
    "pipeline.partition_rows_max_over_mean": ("ratio", "lower"),
    "pipeline.partition_kernel_max_over_mean": ("ratio", "lower"),
    "extraction.stage_s": ("s", "lower"),
    "extraction.kernel_cpu_s": ("s", "lower"),
    "extraction.slot_busy_share": ("ratio", "higher"),
    "extraction.doc_us_p50": ("us", "lower"),
    "extraction.doc_us_p99": ("us", "lower"),
    "extraction.doc_us_max": ("us", "lower"),
    "extraction.cache_mb": ("MB", "lower"),
    "kernel.extract_document_ms.html": ("ms", "lower"),
    "kernel.extract_document_ms.pdf_digital": ("ms", "lower"),
    "kernel.extract_document_ms.pdf_scanned": ("ms", "lower"),
    "kernel.extract_html_ms": ("ms", "lower"),
    "kernel.extract_pdf_ms": ("ms", "lower"),
    "kernel.pair_rows_ms": ("ms", "lower"),
    "kernel.match_fields_ms": ("ms", "lower"),
    "fields.table_s": ("s", "lower"),
    "fields.candidates_per_doc": ("count", "lower"),
    "fields.rows_out": ("count", "higher"),
    **{f"pipeline.sink_write_s.{s}": ("s", "lower") for s in SINKS},
    **{f"pipeline.sink_bytes.{s}": ("B", "lower") for s in SINKS},
    "pipeline.merge_upsert_s": ("s", "lower"),
    "pipeline.merge_upsert_bytes": ("B", "lower"),
    "metrics.lineage_s": ("s", "lower"),
    "pipeline.tasks": ("count", "lower"),
    "pipeline.failed_tasks": ("count", "lower"),
    "trace.replay_s": ("s", "lower"),
    "trace.job_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


class Tracer:
    """In-memory span recorder; spans nest by call order."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, probe: bool = False):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "probe": probe, "counts": {}, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, name: str) -> float:
        rec = next(s for s in self.spans if s["name"] == name)
        return rec["end"] - rec["start"]

    def with_self_times(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the durations of its
        children (spans nest strictly: one thread, no overlap)."""
        def dur(s):
            return s["end"] - s["start"]

        return [dict(s, duration_s=dur(s), self_s=dur(s) - sum(
                    dur(c) for c in self.spans if c["parent"] == s["id"]))
                for s in self.spans]


def data_bytes(path: str) -> int:
    """Parquet bytes under ``path``."""
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n))
                     for n in names if n.endswith(".parquet"))
    return total


def _shuffle_bytes(df: DataFrame) -> int:
    """Bytes written by the shuffle exchanges of ``df``'s last
    execution (read from the executed plan's SQL metrics)."""
    total, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ShuffleExchangeExec":
            total += node.metrics().apply("shuffleBytesWritten").value()
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return total


def _group_tasks(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        for stage_id in (job.stageIds if job else []):
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return tasks, failed


def _max_over_mean(values: list[float]) -> float:
    mean = statistics.fmean(values)
    return max(values) / mean if mean else 0.0


def probes(spark: SparkSession, pages: DataFrame, out_root: str,
           tr: Tracer) -> dict:
    """Force each pre-kernel layer on its own; the output root holds
    the committed state the timed job would resume from."""
    from credit_ocr_system_spark.plans.pipeline import (
        SnapshotSink, detect_hot_domains, preflight, repartition_salted,
        resume_filter)

    spark.sparkContext.setJobGroup("probes", "per-layer probes")
    n_parts = spark.sparkContext.defaultParallelism
    with tr.span("probes"):
        with tr.span("sources.scan") as c:
            row = pages.agg(F.count("*").alias("n"),
                            F.sum(F.length("html")).alias("b")).first()
            c.update(rows=row.n, payload_bytes=row.b)
        committed = SnapshotSink(
            os.path.join(out_root, "extracted")).read_committed(spark)
        todo = resume_filter(preflight(pages), committed)
        with tr.span("pipeline.resume_filter") as c:
            c["rows_out"] = todo.count()
        with tr.span("pipeline.hot_domains") as c:
            c["rows_out"] = detect_hot_domains(todo).count()
        moved = repartition_salted(todo, n_parts).select(
            F.sum(F.length("html")).alias("b"))
        with tr.span("pipeline.repartition") as c:
            moved.collect()
            c["shuffle_bytes"] = shuffled = _shuffle_bytes(moved)
    return {
        "sources.scan_s": tr.duration("sources.scan"),
        "pipeline.resume_filter_s": tr.duration("pipeline.resume_filter"),
        "pipeline.hot_domains_s": tr.duration("pipeline.hot_domains"),
        "pipeline.repartition_s": tr.duration("pipeline.repartition"),
        "pipeline.shuffle_mb": shuffled / 2**20,
    }


def replay(spark: SparkSession, pages: DataFrame, out_root: str,
           tr: Tracer) -> dict:
    """``run_extraction_job`` (no WET/WAT output, hot-domain guard on),
    one span per Spark action."""
    from credit_ocr_system_spark.operators.extraction import extract_pages
    from credit_ocr_system_spark.operators.fields_native import (
        field_config_df, fields_table)
    from credit_ocr_system_spark.operators.metrics import partition_lineage
    from credit_ocr_system_spark.plans.pipeline import (
        SALT_DEFAULT, SnapshotSink, detect_hot_domains, doc_status,
        preflight, repartition_salted, resume_filter)

    sc = spark.sparkContext
    group = f"replay-{tr.run_id}"
    sc.setJobGroup(group, "traced replay of run_extraction_job")
    run_id = uuid.uuid4().hex[:12]
    sink = {name: SnapshotSink(os.path.join(out_root, name))
            for name in SINKS + ("doc_status",)}
    m: dict = {}
    with tr.span("replay"):
        with tr.span("pipeline.read_committed"):
            committed = sink["extracted"].read_committed(spark)
        todo = resume_filter(preflight(pages), committed)
        hot = detect_hot_domains(todo)
        todo = repartition_salted(todo, sc.defaultParallelism,
                                  SALT_DEFAULT)
        extracted = extract_pages(todo).persist()
        try:
            with tr.span("extraction.stage") as c:
                c["docs"] = n_docs = extracted.count()
            with tr.span("extraction.stats", probe=True) as c:
                stats = extracted.agg(
                    F.sum("kernel_us").alias("us"),
                    F.avg(F.size("pairs") + F.size("elements"))
                    .alias("cands")).first()
                kernel_us = sorted(r.kernel_us for r in
                                   extracted.select("kernel_us").collect())
                c["kernel_us"] = stats.us
                m["extraction.cache_mb"] = sum(
                    i.memSize() + i.diskSize() for i in
                    sc._jsc.sc().getRDDStorageInfo()) / 2**20
            with tr.span("metrics.lineage", probe=True):
                partition_lineage(extracted, run_id).collect()
            fields = fields_table(extracted, field_config_df(spark))
            lineage = partition_lineage(extracted, run_id)
            with tr.span("pipeline.sink_write.extracted"):
                sink["extracted"].write_snapshot(
                    extracted.drop("elements"), run_id, {"n_docs": n_docs})
            with tr.span("fields.table") as c:
                c["rows_out"] = n_fields = fields.count()
            with tr.span("pipeline.sink_write.fields"):
                sink["fields"].write_snapshot(
                    fields, run_id, {"n_rows": n_fields})
            with tr.span("pipeline.sink_write.lineage"):
                sink["lineage"].write_snapshot(lineage, run_id)
            with tr.span("pipeline.sink_write.hot_keys") as c:
                sink["hot_keys"].write_snapshot(
                    hot.filter(F.col("is_hot"))
                    .withColumn("run_id", F.lit(run_id)), run_id)
                c["hot_domains"] = (sink["hot_keys"]
                                    .read_snapshot(spark, run_id).count())
            status = (
                doc_status(extracted, run_id)
                .groupBy("url")
                .agg(F.min(F.struct("status", "doc_kind", "error",
                                    "run_id")).alias("m"))
                .select("url", "m.status", "m.doc_kind", "m.error",
                        "m.run_id"))
            with tr.span("pipeline.merge_upsert"):
                sink["doc_status"].merge_upsert(spark, status, run_id,
                                                keys=["url"])
        finally:
            extracted.unpersist()
    sc.setJobGroup("untraced", "benchmark")

    def snap_bytes(name: str) -> int:
        return data_bytes(os.path.join(out_root, name, f"snap-{run_id}"))

    lin = sink["lineage"].read_snapshot(spark, run_id).select(
        "n_docs", "kernel_ms").collect()
    stage_s = tr.duration("extraction.stage")
    kernel_cpu_s = stats.us / 1e6
    tasks, failed = _group_tasks(sc, group)
    probe_s = sum(s["end"] - s["start"] for s in tr.spans if s["probe"])
    m.update({
        "extraction.stage_s": stage_s,
        "extraction.kernel_cpu_s": kernel_cpu_s,
        "extraction.slot_busy_share":
            kernel_cpu_s / (stage_s * sc.defaultParallelism),
        "extraction.doc_us_p50": _quantile(kernel_us, 0.50),
        "extraction.doc_us_p99": _quantile(kernel_us, 0.99),
        "extraction.doc_us_max": float(kernel_us[-1]),
        "pipeline.partition_rows_max_over_mean":
            _max_over_mean([r.n_docs for r in lin]),
        "pipeline.partition_kernel_max_over_mean":
            _max_over_mean([r.kernel_ms for r in lin]),
        "fields.table_s": tr.duration("fields.table"),
        "fields.candidates_per_doc": stats.cands,
        "fields.rows_out": n_fields,
        "metrics.lineage_s": tr.duration("metrics.lineage"),
        "pipeline.merge_upsert_s": tr.duration("pipeline.merge_upsert"),
        "pipeline.merge_upsert_bytes": snap_bytes("doc_status"),
        "pipeline.tasks": tasks,
        "pipeline.failed_tasks": failed,
        "trace.replay_s": tr.duration("replay") - probe_s,
    })
    for name in SINKS:
        m[f"pipeline.sink_write_s.{name}"] = tr.duration(
            f"pipeline.sink_write.{name}")
        m[f"pipeline.sink_bytes.{name}"] = snap_bytes(name)
    return m


def _quantile(sorted_values: list[int], q: float) -> float:
    """Nearest-rank quantile of an ascending list."""
    idx = min(len(sorted_values) - 1,
              max(0, int(-(-q * len(sorted_values) // 1)) - 1))
    return float(sorted_values[idx])


def _kernel_sample_ids(cache_path: str) -> dict[str, list[int]]:
    """Row ids of the fixed per-class sample at seed 42: the first
    HTML pages, genuine text-layer PDFs, and scanned PDFs (a genuine
    PDF whose extraction runs the OCR recognizer). Cached by the
    caller's generator hash."""
    if os.path.exists(cache_path):
        with open(cache_path, encoding="utf-8") as fh:
            return json.load(fh)
    from credit_ocr_system_spark.kernel import ocr
    from credit_ocr_system_spark.kernel.extract import extract_document
    from credit_ocr_system_spark.sources.pages import gen_page

    recognize, calls = ocr.recognize, [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return recognize(*args, **kwargs)

    ids: dict[str, list[int]] = {k: [] for k in SAMPLE_SIZES}
    ocr.recognize = counting
    try:
        row = 0
        while any(len(ids[k]) < n for k, n in SAMPLE_SIZES.items()):
            page = gen_page(row, SAMPLE_SEED)
            payload = page["html"]
            if not payload.startswith(b"%PDF-"):
                kind = "html"
            elif payload.startswith(b"%PDF-1"):
                before = calls[0]
                extract_document(page["url"], payload)
                kind = "pdf_scanned" if calls[0] > before else "pdf_digital"
            else:
                kind = None  # %PDF-GRAFT token layouts: not sampled
            if kind and len(ids[kind]) < SAMPLE_SIZES[kind]:
                ids[kind].append(row)
            row += 1
    finally:
        ocr.recognize = recognize
    tmp = f"{cache_path}.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(ids, fh)
    os.replace(tmp, cache_path)
    return ids


def kernel_bench(cache_path: str, tr: Tracer) -> dict:
    """Per-document CPU ms of the kernel's public calls, median over
    ``KERNEL_PASSES`` passes of the fixed sample."""
    from credit_ocr_system_spark.config.document_types import (
        CREDIT_REQUEST_FIELDS)
    from credit_ocr_system_spark.kernel.extract import extract_document
    from credit_ocr_system_spark.kernel.fields import match_fields
    from credit_ocr_system_spark.kernel.html_extract import extract_html
    from credit_ocr_system_spark.kernel.layout import pair_rows
    from credit_ocr_system_spark.kernel.pdf_layout import extract_pdf
    from credit_ocr_system_spark.sources.pages import gen_page

    sample = {k: [gen_page(i, SAMPLE_SEED) for i in ids]
              for k, ids in _kernel_sample_ids(cache_path).items()}
    all_docs = [p for docs in sample.values() for p in docs]
    pdfs = sample["pdf_digital"] + sample["pdf_scanned"]
    bases = [extract_pdf(p["html"]) if p["html"].startswith(b"%PDF-")
             else extract_html(p["html"]) for p in all_docs]
    pairs = [pair_rows(b["elements"]) for b in bases]

    def per_doc_ms(fn, items) -> float:
        passes = []
        for _ in range(KERNEL_PASSES):
            t0 = time.process_time()
            for item in items:
                fn(item)
            passes.append(time.process_time() - t0)
        return statistics.median(passes) * 1e3 / len(items)

    m = {}
    with tr.span("kernel"):
        for cls, docs in sample.items():
            with tr.span(f"kernel.extract_document.{cls}") as c:
                c["docs"] = len(docs)
                m[f"kernel.extract_document_ms.{cls}"] = per_doc_ms(
                    lambda p: extract_document(p["url"], p["html"]), docs)
        with tr.span("kernel.extract_html"):
            m["kernel.extract_html_ms"] = per_doc_ms(
                lambda p: extract_html(p["html"]), sample["html"])
        with tr.span("kernel.extract_pdf"):
            m["kernel.extract_pdf_ms"] = per_doc_ms(
                lambda p: extract_pdf(p["html"]), pdfs)
        with tr.span("kernel.pair_rows"):
            m["kernel.pair_rows_ms"] = per_doc_ms(
                lambda b: pair_rows(b["elements"]), bases)
        with tr.span("kernel.match_fields"):
            m["kernel.match_fields_ms"] = per_doc_ms(
                lambda bp: match_fields(bp[1], bp[0]["elements"],
                                        CREDIT_REQUEST_FIELDS),
                list(zip(bases, pairs)))
    return m


def write_spans(tr: Tracer, path: str) -> list[dict]:
    spans = tr.with_self_times()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(spans, fh, indent=1)
    return spans

"""Spark pipeline ≡ pure kernel, plus scale mechanics (resume, salt)."""

import glob
import os

import pytest

from credit_ocr_system_spark.kernel.extract import extract_document
from credit_ocr_system_spark.operators.extraction import extract_pages
from credit_ocr_system_spark.operators.fields_native import (
    field_config_df,
    fields_table,
    match_fields_native,
    missing_fields_native,
)
from credit_ocr_system_spark.operators.metrics import (
    confidence_stats,
    partition_lineage,
)
from credit_ocr_system_spark.plans.pipeline import (
    SnapshotSink,
    repartition_salted,
    resume_filter,
    run_extraction_job,
)
from credit_ocr_system_spark.sources.pages import gen_page, pages_df

N_DOCS = 120


@pytest.fixture(scope="module")
def extracted(spark):
    return extract_pages(pages_df(spark, N_DOCS, partitions=6)).persist()


def test_spark_extraction_equals_kernel(spark, extracted):
    rows = {r["url"]: r for r in extracted.collect()}
    assert len(rows) == N_DOCS
    for i in range(N_DOCS):
        page = gen_page(i)
        want = extract_document(page["url"], page["html"])
        got = rows[page["url"]]
        assert got["extracted_text"] == want["extracted_text"]
        assert got["doc_kind"] == want["doc_kind"]
        got_spans = [(s["start"], s["end"], s["page"]) for s in got["spans"]]
        want_spans = [(s["start"], s["end"], s["page"])
                      for s in want["spans"]]
        assert got_spans == want_spans
        got_pairs = [(p["label"], p["value"], p["page"], p["confidence"],
                      p["pair_type"]) for p in got["pairs"]]
        want_pairs = [(p["label"], p["value"], p["page"], p["confidence"],
                       p.get("type")) for p in want["pairs"]]
        assert got_pairs == want_pairs
        # bbox structs round-trip exactly (doubles are lossless in Arrow)
        for gp, wp in zip(got["pairs"], want["pairs"]):
            for k in ("x1", "y1", "x2", "y2", "width", "height"):
                assert gp["bounding_box"][k] == wp["bounding_box"][k]


def test_native_field_matching_equals_kernel(spark, extracted):
    fields = fields_table(extracted, field_config_df(spark)).collect()
    got = {}
    for row in fields:
        got[(row["url"], row["field_name"])] = row
    n_checked = 0
    for i in range(N_DOCS):
        page = gen_page(i)
        want = extract_document(page["url"], page["html"])
        want_fields = want["extracted_fields"]
        got_fields = {k[1] for k in got if k[0] == page["url"]}
        assert got_fields == set(want_fields), page["url"]
        for name, wf in want_fields.items():
            gf = got[(page["url"], name)]
            assert gf["value"] == wf["value"]
            assert gf["confidence"] == wf["confidence"]
            assert gf["page"] == wf["page"]
            assert gf["source"] == wf["source"]
            vr = want["validation_results"][name]
            assert gf["is_valid"] == vr["is_valid"], (name, gf["value"])
            assert list(gf["errors"]) == vr["errors"], (name, gf["value"])
            n_checked += 1
    assert n_checked > N_DOCS * 5  # sanity: plenty of matched fields


def test_native_cleaning_equals_kernel(spark, extracted):
    from credit_ocr_system_spark.config.document_types import (
        CREDIT_REQUEST_FIELDS,
    )
    from credit_ocr_system_spark.kernel.fields import clean_value

    spec_by_name = {s.name: s for s in CREDIT_REQUEST_FIELDS}
    for row in fields_table(extracted, field_config_df(spark)).collect():
        spec = spec_by_name[row["field_name"]]
        want = clean_value(row["value"], spec.clean_type)
        if spec.clean_type in ("string", "date"):
            assert row["clean_str"] == want
        elif spec.clean_type == "boolean":
            assert row["clean_bool"] == want
        elif spec.clean_type == "number":
            assert row["clean_num"] == (float(want)
                                        if want is not None else None)
        else:  # currency / area
            assert row["clean_num"] == want


def test_missing_fields_native_equals_kernel(spark, extracted):
    matched = match_fields_native(extracted, field_config_df(spark))
    missing = {r["url"]: list(r["missing_fields"])
               for r in missing_fields_native(extracted, matched).collect()}
    for i in range(N_DOCS):
        page = gen_page(i)
        want = extract_document(page["url"], page["html"])
        assert missing[page["url"]] == want["missing_fields"]


def test_lineage_accounts_for_every_doc(spark, extracted):
    rows = partition_lineage(extracted, "test-run").collect()
    assert sum(r["n_docs"] for r in rows) == N_DOCS
    assert all(r["bytes_in"] > 0 for r in rows)
    assert sum(r["n_pdf"] for r in rows) > 0


def test_confidence_stats_band_totals(spark, extracted):
    stats = confidence_stats(extracted).collect()
    for r in stats:
        assert r["n_high"] + r["n_mid"] + r["n_low"] == r["n_elements"]


def test_salted_repartition_balances(spark):
    from pyspark.sql import functions as F

    pages = pages_df(spark, 400, partitions=4)
    parts = (
        repartition_salted(pages, 8)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in parts]
    assert len(counts) == 8
    # uniform-ish despite Zipf domain skew: no partition > 2× the mean
    assert max(counts) < 2 * (sum(counts) / len(counts))


def test_salted_repartition_defuses_single_domain(spark):
    """Pathological hotspot: 100% of urls on one domain. Partitioning
    on the salted full-url hash (not the domain) stays uniform."""
    from pyspark.sql import functions as F

    one_domain = (
        spark.range(0, 512)
        .select(
            F.concat(F.lit("https://hot.example/p/"),
                     F.col("id").cast("string")).alias("url"))
    )
    counts = [
        r["count"]
        for r in repartition_salted(one_domain, 8)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    ]
    assert len(counts) == 8
    assert max(counts) < 2 * (sum(counts) / len(counts))


def test_resume_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    half = pages_df(spark, 60, partitions=4).limit(30)
    full = pages_df(spark, 60, partitions=4)

    r1 = run_extraction_job(spark, half, out, num_partitions=4)
    assert r1["n_docs"] == 30
    r2 = run_extraction_job(spark, full, out, num_partitions=4)
    assert r2["n_docs"] == 30  # only the uncommitted half is recomputed

    sink = SnapshotSink(os.path.join(out, "extracted"))
    committed = sink.read_committed(spark)
    assert committed.count() == 60
    assert committed.select("url").distinct().count() == 60  # no dupes

    r3 = run_extraction_job(spark, full, out, num_partitions=4)
    assert r3.get("skipped") is True  # nothing left to do

    # lineage sidecar recorded both real runs
    lineage_sink = SnapshotSink(os.path.join(out, "lineage"))
    lineage = lineage_sink.read_committed(spark)
    assert lineage.select("run_id").distinct().count() == 2
    assert (lineage.groupBy().sum("n_docs").collect()[0][0]) == 60


def test_resume_filter_without_committed_is_passthrough(spark):
    pages = pages_df(spark, 10, partitions=2)
    assert resume_filter(pages, None) is pages


# Values the native field tail reads differently from the kernel (and
# so from the reference validation.py the kernel mirrors); both survive
# HTML extraction. The job commits the kernel's reading.
_EDGE_ROWS = [("Construction Year", "1_999"),   # float() accepts "_"
              ("Purchase Price", "١٢٣"),        # Arabic-Indic digits
              ("Company Name", "ACME GmbH")]


def _edge_page():
    cells = "".join(f"<tr><td>{a}</td><td>{b}</td></tr>"
                    for a, b in _EDGE_ROWS)
    return ("https://edge.example/fields",
            f"<html><body><table>{cells}</table></body></html>"
            .encode())


def _kernel_field_rows(url, payload):
    """The 13-column fields rows, built from ``extract_document``."""
    from credit_ocr_system_spark.config.document_types import (
        CREDIT_REQUEST_FIELDS)
    from credit_ocr_system_spark.kernel.fields import clean_value

    doc = extract_document(url, payload)
    rows = set()
    for idx, spec in enumerate(CREDIT_REQUEST_FIELDS):
        hit = doc["extracted_fields"].get(spec.name)
        if hit is None:
            continue
        clean = clean_value(hit["value"], spec.clean_type)
        check = doc["validation_results"][spec.name]
        bbox = hit["bounding_box"]
        rows.add((
            url, idx, spec.name, hit["value"], hit["confidence"],
            hit["page"],
            tuple(bbox[k] for k in ("x1", "y1", "x2", "y2", "width",
                                    "height")),
            hit["source"],
            clean if spec.clean_type in ("string", "date") else None,
            (float(clean) if clean is not None else None)
            if spec.clean_type in ("currency", "area", "number")
            else None,
            clean if spec.clean_type == "boolean" else None,
            check["is_valid"], tuple(check["errors"])))
    return rows


def test_committed_fields_equal_kernel_on_edge_values(spark, tmp_path):
    from pyspark.sql import functions as F

    gen = pages_df(spark, 40, partitions=2)
    url, payload = _edge_page()
    edge = spark.createDataFrame(
        [(url, None, payload, "", "en")], schema=gen.schema)
    pages = gen.unionByName(edge)
    out = str(tmp_path / "out")
    stats = run_extraction_job(spark, pages, out, num_partitions=4)

    committed = SnapshotSink(os.path.join(out, "fields")) \
        .read_committed(spark)
    got = {(r.url, r.field_idx, r.field_name, r.value, r.confidence,
            r.page, tuple(r.bounding_box), r.source, r.clean_str,
            r.clean_num, r.clean_bool, r.is_valid, tuple(r.errors))
           for r in committed.collect()}
    want = _kernel_field_rows(url, payload)
    for i in range(40):
        page = gen_page(i)
        want |= _kernel_field_rows(page["url"], page["html"])
    assert got == want
    assert stats["n_fields"] == committed.count() == len(want)

    by_name = {r.field_name: r for r in committed
               .where(F.col("url") == url).collect()}
    assert by_name["construction_year"].is_valid
    assert by_name["construction_year"].clean_num == 1999.0
    assert by_name["purchase_price"].clean_num == 123.0


def test_job_records_its_actions_without_taking_the_job_group(
        spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller's own group")
    try:
        stats = run_extraction_job(spark, pages_df(spark, 20, partitions=2),
                                   str(tmp_path / "out"), num_partitions=2)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        caller_jobs = sc.statusTracker().getJobIdsForGroup("caller-group")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(stats["action_s"]) == {
        "count", "write.extracted", "write.fields", "write.lineage",
        "write.hot_keys", "merge.doc_status"}
    assert all(s > 0 for s in stats["action_s"].values())
    # every job of the call ran under the caller's group as well
    assert 0 < stats["spark_jobs"] <= len(caller_jobs)


def test_delta_run_jobs_do_not_grow_with_committed_history(
        spark, tmp_path):
    """The same 10-doc delta over the same 30 committed docs launches
    the same Spark jobs whether the 30 were committed in 1 slice or in
    5: reading the committed view is one scan, not one per snapshot."""
    def delta_jobs(out, slices):
        size = 30 // slices
        for i in range(slices):
            run_extraction_job(
                spark, pages_df(spark, size, partitions=2, start=i * size),
                out, num_partitions=2)
        stats = run_extraction_job(spark, pages_df(spark, 40, partitions=2),
                                   out, num_partitions=2)
        assert stats["n_docs"] == 10
        return stats["spark_jobs"]

    one = delta_jobs(str(tmp_path / "one"), 1)
    five = delta_jobs(str(tmp_path / "five"), 5)
    assert five == one


def test_delta_snapshot_is_one_url_sorted_zstd_file(spark, tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "out")
    run_extraction_job(spark, pages_df(spark, 30, partitions=2), out,
                       num_partitions=2)
    stats = run_extraction_job(spark, pages_df(spark, 40, partitions=2),
                               out, num_partitions=2)
    assert stats["n_docs"] == 10

    snap = SnapshotSink(os.path.join(out, "extracted")).committed_paths()[-1]
    files = glob.glob(os.path.join(snap, "*.parquet"))
    assert len(files) == 1
    urls = pq.read_table(files[0], columns=["url"]).column("url").to_pylist()
    assert len(urls) == 10 and urls == sorted(urls)
    meta = pq.ParquetFile(files[0]).metadata
    assert {meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)} == {"ZSTD"}

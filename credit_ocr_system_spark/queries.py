"""Driver-contract query registry: Spark implementation + DuckDB oracle
for every operator family (SURVEY.md §2 + training-data ops).

Each entry pairs a DataFrame-native Spark query with an ANSI-SQL oracle
that DuckDB runs over the same parquet tables. Column names and types
are aligned on both sides; cross-engine float rules are documented in
``operators/relational.py``.

The extraction/media queries (``x_*``) are oracle-checked through the
golden materialization in ``oracle_golden.py``: the pure-Python kernel
runs driver-side over the same deterministic sources and writes its
output to parquet, and the oracles either re-derive the relational
tail in SQL over that parquet (``x_extract_fields``,
``x_extract_lineage``, ``x_annotations``, ``media_near_dup``) or
compare the distributed run against the independently-computed golden
(``x_extract_pages``, ``x_media_*`` — see ``oracle_golden.py`` for
what each flavor does and does not prove).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracle_golden as G
from .kernel.html_extract import ROW_PITCH as _HTML_ROW_PITCH
from .kernel.html_extract import ROWS_PER_PAGE as _HTML_ROWS_PER_PAGE
from .operators.portable import sql_pround

# the synthetic HTML page span (annotation overlays rebase absolute y
# to page-local by this amount per page beyond the first)
_HTML_PAGE_SPAN = _HTML_ROWS_PER_PAGE * _HTML_ROW_PITCH

from .operators import relational as R
from .operators import textops as T
from .operators import similarity as S
from .operators.textops import (
    EN_STOPWORDS,
    INT64_MIN,
    LANG_IDS,
    LANG_STOPWORDS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
    _hex_bucket_sql,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# Extraction-engine queries (oracle-checked via oracle_golden.py)
# ---------------------------------------------------------------------------


def _x_pages(spark: SparkSession) -> DataFrame:
    from .sources.pages import pages_df

    return pages_df(spark, G.X_N_PAGES, partitions=8)


def x_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked: the oracle reads the driver-side pure-Python
    kernel run (same code, same pages), so this row proves the
    distributed Arrow plumbing, while the kernel's own semantics are
    pinned by the golden-file + reference-parity pytest suites."""
    from .operators.extraction import extract_pages

    return extract_pages(_x_pages(spark)).select(
        "url", "doc_kind", "page_count", "extracted_text",
        "n_elements", "n_pairs")


def x_extract_scanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked over the corpus's picked scanned-document rows
    (``oracle_golden.X_SCAN_ROWS``): image-only PDFs across
    bilevel/G4/greyscale/JPEG encodings — placed as image XObjects
    AND as inline BI…ID…EI images (rows 557/909, the fax-to-PDF
    shape) — with skew/speck/rotation artifact draws, extracted by
    the from-scratch OCR (``kernel/ocr.py``). The oracle reads the driver-side pure-Python
    kernel run over the same rows, so this row proves the OCR path
    through the distributed Arrow stage — the explicit driver-gate
    evidence for the scanned branch. The row filter sits BEFORE the
    generator's ``mapInPandas``, so only the picked pages render."""
    import functools

    from .operators.extraction import extract_pages
    from .sources.pages import PAGES_SCHEMA, _gen_batches

    base = spark.range(0, max(G.X_SCAN_ROWS) + 1, numPartitions=8)
    picked = base.filter(F.col("id").isin(*G.X_SCAN_ROWS))
    pages = picked.mapInPandas(
        functools.partial(_gen_batches, seed=42),
        schema=PAGES_SCHEMA)
    return extract_pages(pages).select(
        "url", "doc_kind", "page_count", "extracted_text",
        "n_elements", "n_pairs")


def x_extract_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: DuckDB re-derives match → clean → validate
    (reference ``src/llm/field_extractor.py:206-274``,
    ``src/llm/validation.py:29-94``) from the materialized kernel
    pairs/elements + field config."""
    from .operators.extraction import extract_pages
    from .operators.fields_native import field_config_df, fields_table

    ext = extract_pages(_x_pages(spark))
    return fields_table(ext, field_config_df(spark)).select(
        "url", "field_name", "value", "confidence", "page", "source",
        "is_valid")


def x_extract_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled per-partition lineage: the input is repartitioned
    by the portable url bucket (``metrics.portable_bucket``), so each
    lineage row covers a bucket co-located within one physical
    partition, and any engine can re-derive the aggregates."""
    from .operators.extraction import extract_pages
    from .operators.metrics import bucket_lineage, portable_bucket

    pages = _x_pages(spark).repartition(
        8, portable_bucket(F.col("url"), 8))
    ext = extract_pages(pages)
    return bucket_lineage(ext, "entry-run").select(
        "partition_id", "n_docs", "n_elements", "n_pairs", "bytes_in")


def x_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked (see x_extract_pages): feature vector travels as
    ``feat_json`` — raw arrays are banned in oracle-checked outputs."""
    from .operators.multimodal import extract_media_features, media_df

    return extract_media_features(
        media_df(spark, G.X_N_MEDIA)).drop("feat")


def x_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked. Frame payloads travel as md5(hex(bytes)) +
    byte length: raw binary, like raw arrays, is unhashable in the
    driver's pandas canonicalizer — digests compare exactly without
    tripping it."""
    from .operators.multimodal import media_df, sample_video_frames

    frames = sample_video_frames(media_df(spark, G.X_N_MEDIA),
                                 every_n=G.X_FRAME_EVERY_N)
    return frames.select(
        "media_id", "frame_idx",
        F.md5(F.hex("frame")).alias("frame_md5"),
        F.octet_length("frame").alias("frame_bytes"),
        "width", "height")


def x_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked; binary → digest, see x_media_frames."""
    from .operators.multimodal import media_df, resize_images

    out = resize_images(media_df(spark, G.X_N_MEDIA),
                        out_w=G.X_RESIZE_W, out_h=G.X_RESIZE_H)
    return out.select(
        "media_id", "width", "height",
        F.md5(F.hex("pixels")).alias("pixels_md5"),
        F.octet_length("pixels").alias("n_bytes"))


def x_media_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked: feature extraction over REAL PNG/BMP/WAV
    payloads, decoded by the stdlib codecs (``kernel/codecs.py``) —
    the codec seam closed, not stubbed. Vector travels as
    ``feat_json`` (raw arrays banned in oracle-checked outputs)."""
    from .operators.multimodal import (
        decode_media,
        extract_media_features,
        real_media_df,
    )

    return extract_media_features(
        real_media_df(spark, G.X_N_MEDIA), decode=decode_media
    ).drop("feat")


def x_media_real_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked: frame sampling over REAL MJPEG-in-AVI payloads
    — the RIFF container walk + per-frame baseline-JPEG decode
    (``kernel/codecs.py::decode_avi_mjpeg``), not the deterministic
    stand-in. Frames travel as digests (see x_media_frames)."""
    from .operators.multimodal import (
        decode_media,
        real_media_df,
        sample_video_frames,
    )

    frames = sample_video_frames(
        real_media_df(spark, G.X_N_MEDIA),
        every_n=G.X_FRAME_EVERY_N, decode=decode_media)
    return frames.select(
        "media_id", "frame_idx",
        F.md5(F.hex("frame")).alias("frame_md5"),
        F.octet_length("frame").alias("frame_bytes"),
        "width", "height")


def x_warc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked: the WARC container scan (``sources/warc.py``)
    — binaryFile path listing + streaming member-at-a-time gzip parse
    in ONE mapInArrow stage — against a driver-side single-process
    parse of the identical files. Payloads travel as digests (raw
    binary is unhashable in the driver's canonicalizer)."""
    from .sources.warc import warc_pages

    warc_dir = G.ensure_warc_corpus()
    return warc_pages(spark, warc_dir).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        F.md5("html").alias("html_md5"),
        F.octet_length("html").cast("long").alias("n_bytes"),
        "http_status", "mime", "charset", "content_encoding",
        "redirect_to", "x_robots_tag",
        "warc_file", "record_idx")


def x_warc_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked: the SPLITTABLE WARC scan (offset-index slices,
    ``records_per_slice=25`` → multiple tasks per file) must produce
    exactly the rows of the whole-file scan — the same golden parquet
    as ``x_warc_pages``, keyed on the member offset (the CDX seek
    key) instead of the whole-file ordinal."""
    from .sources.warc import warc_pages_sliced

    warc_dir = G.ensure_warc_corpus()
    return warc_pages_sliced(spark, warc_dir,
                             records_per_slice=25).select(
        "url",
        F.unix_micros("warc_ts").alias("warc_us"),
        F.md5("html").alias("html_md5"),
        F.octet_length("html").cast("long").alias("n_bytes"),
        "http_status", "mime", "charset", "content_encoding",
        "redirect_to", "x_robots_tag",
        "warc_file", "offset")


def x_wet_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: the WET ``conversion`` record column
    (``sources/warc.py::wet_record_col`` — what :func:`write_wet`
    serializes per extracted document, Common Crawl's .warc.wet
    layout) re-assembled independently by DuckDB from the driver-side
    kernel goldens. Records travel as (md5, byte-length) digests; the
    byte count doubles as the Content-Length/UTF-8 check (the golden
    corpus draws non-ASCII text, so ``octet_length`` vs
    ``char_length`` mistakes hash-mismatch here)."""
    from .operators.extraction import extract_pages
    from .sources.warc import wet_record_col

    pages = _x_pages(spark)
    docs = extract_pages(pages).join(
        pages.select("url", "warc_ts"), "url")
    rec = docs.select("url", wet_record_col().alias("rec"))
    return rec.select(
        "url",
        F.md5(F.col("rec").cast("binary")).alias("rec_md5"),
        F.octet_length("rec").cast("int").alias("rec_bytes"))


def x_wat_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: the WAT ``metadata`` record column
    (``sources/warc.py::wat_record_col`` — the Links/Head JSON
    envelope :func:`write_wat` serializes, Common Crawl's .warc.wat
    layout) re-assembled independently by DuckDB from the docs+links
    goldens — JSON escaping via DuckDB's ``to_json`` on each scalar,
    null/empty fields omitted, links ordered by ``link_idx``, the
    PDF ``Annot@/URI`` path discriminator included. Byte-level twin
    fidelity (Jackson's uppercase control escapes etc.) is pinned
    separately by ``tests/test_wat.py``; the golden corpus carries no
    control characters, so the two escapers agree here."""
    from .operators.extraction import extract_pages
    from .sources.warc import wat_record_col

    pages = _x_pages(spark)
    docs = extract_pages(pages).join(
        pages.select("url", "warc_ts"), "url")
    rec = docs.select("url", wat_record_col().alias("rec"))
    return rec.select(
        "url",
        F.md5(F.col("rec").cast("binary")).alias("rec_md5"),
        F.octet_length("rec").cast("int").alias("rec_bytes"))


def x_meta_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked: the general <meta> surface — every meta tag
    carrying a ``name=`` or ``property=`` key, raw and in document
    order (the WAT ``Metas`` array; og:*, description, twitter:*,
    robots, article:*), exploded one row per tag. The oracle is the
    driver-side kernel golden, so this gate covers the distributed
    Arrow plumbing of the ``metas`` column."""
    from .operators.extraction import extract_pages

    docs = extract_pages(_x_pages(spark))
    return docs.select(
        "url", F.explode("metas").alias("m")).select(
        "url", F.col("m.meta_idx").alias("meta_idx"),
        F.col("m.name").alias("name"),
        F.col("m.content").alias("content"))


def x_strip_boilerplate_lines(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """SQL-oracled: CCNet-style cross-document boilerplate removal
    over the extraction surface
    (``operators/textops.py::strip_boilerplate_lines``) — lines
    repeated across ≥10 distinct documents (nav bars, form labels)
    are stripped from every document; DuckDB re-derives the frequency
    table, the strip, and the ordered re-stitch independently over
    the docs golden."""
    from .operators.extraction import extract_pages
    from .operators.textops import strip_boilerplate_lines

    docs = extract_pages(_x_pages(spark))
    return strip_boilerplate_lines(docs)


def x_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: global first-occurrence line deduplication
    (``operators/textops.py::dedup_lines_global``) — every distinct
    non-blank extracted line keeps exactly one copy corpus-wide (its
    first (url, pos) occurrence); DuckDB re-derives the winner via a
    row_number window and re-stitches."""
    from .operators.extraction import extract_pages
    from .operators.textops import dedup_lines_global

    docs = extract_pages(_x_pages(spark))
    return dedup_lines_global(docs)


def x_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: the C4 line-level cleaning rules + page verdict
    (``operators/textops.py::c4_line_filter``) over the extraction
    surface — terminal-punctuation/min-words/javascript line keeps,
    blocked-phrase/brace/min-sentence page drops, zero shuffles;
    DuckDB re-derives every rule with list lambdas over the docs
    golden."""
    from .operators.extraction import extract_pages
    from .operators.textops import c4_line_filter

    docs = extract_pages(_x_pages(spark))
    return c4_line_filter(docs)


def x_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: soft-404 detection over the extraction surface
    (``operators/textops.py::soft404_flags``) — 200-ok pages whose
    content is an error page (the corpus carries ~1/30 such pages,
    including the sneaky variant whose <title> stays legitimate);
    DuckDB re-derives the phrase/length rule over the docs golden."""
    from .operators.extraction import extract_pages
    from .operators.textops import soft404_flags

    docs = extract_pages(_x_pages(spark))
    return soft404_flags(docs)


def x_head_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked: the <head> metadata surface (rel=canonical
    href — including renders that declare ANOTHER url canonical —
    robots noindex, the normalized <title> text, and
    article:published_time) surfaced by the extraction kernel through
    the distributed Arrow stage. Canonical/noindex are the
    server-declared dedup/keep signals URL canonicalization alone
    cannot see; title/published are the metadata temporal mixing and
    display slicing run on."""
    from .operators.extraction import extract_pages

    return extract_pages(_x_pages(spark)).select(
        "url", "link_canonical", "noindex", "title", "published")


def x_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: DuckDB re-assembles the SVG overlays from the
    materialized kernel elements (integer-pixel coords + pinned
    element order make the strings engine-portable)."""
    from .operators.annotate import annotation_svg
    from .operators.extraction import extract_pages

    return annotation_svg(extract_pages(_x_pages(spark)))


def x_annotations_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-checked: the raster (real-PNG) annotation overlays —
    the reference's matplotlib-PNG sink parity
    (``ocr_visualization.py:9-107``), rendered via the engine's own
    PNG encoder + glyph atlas; the oracle reads the driver-side
    render of the same pages (plumbing-check pattern)."""
    from .operators.annotate import annotation_png
    from .operators.extraction import extract_pages

    return annotation_png(extract_pages(_x_pages(spark))).select(
        "url", "page_num", "n_elements",
        F.md5("png").alias("png_md5"),
        F.length("png").cast("bigint").alias("png_bytes"))


def x_llm_prompts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: DuckDB re-assembles the reference-style prompts
    from the materialized kernel pairs (U2 orchestration, stage 1)."""
    from .operators.extraction import extract_pages
    from .operators.llm_infer import build_prompts

    return build_prompts(extract_pages(_x_pages(spark)))


def x_llm_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled end-to-end U2 shape: prompt build → batched
    inference (deterministic ``fake_infer`` seam) → fence/comment
    strip + JSON parse. The oracle recomputes the responses in SQL
    because the stand-in model's output is a pure function
    (md5 + length) of the prompt."""
    from .operators.extraction import extract_pages
    from .operators.llm_infer import (
        build_prompts,
        llm_batch_infer,
        parse_llm_response,
    )

    prompts = build_prompts(extract_pages(_x_pages(spark)))
    return parse_llm_response(llm_batch_infer(prompts)).select(
        "url", "response", "prompt_md5", "prompt_chars")


def x_confidence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled per-(url, page) confidence banding (reference G10)
    over the kernel elements; the average rounds portably at the
    query boundary."""
    from .operators.extraction import extract_pages
    from .operators.metrics import confidence_stats
    from .operators.portable import pround

    stats = confidence_stats(extract_pages(_x_pages(spark)))
    return stats.select(
        "url", "page_num", "n_elements",
        pround(F.col("avg_confidence"), 6).alias("avg_confidence"),
        "n_high", "n_mid", "n_low")


def x_processing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled per-document summary (reference G11): doc ⋈ fields
    stitch with per-doc field/validation counts."""
    from .operators.extraction import extract_pages
    from .operators.fields_native import field_config_df, fields_table
    from .operators.metrics import processing_summary

    ext = extract_pages(_x_pages(spark))
    fields = fields_table(ext, field_config_df(spark))
    return processing_summary(ext, fields).select(
        "url", "doc_kind", "page_count", "n_elements", "n_pairs",
        "n_extracted_fields", "n_validation_errors")


def media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: multimodal features feed the cosine near-dup
    operator; DuckDB recomputes the cosines from the feature golden."""
    from .operators.multimodal import media_df
    from .operators.multimodal import media_near_dup as op

    return op(media_df(spark, G.X_N_MEDIA))


def _visits(spark: SparkSession) -> DataFrame:
    from .sources.visits import visits_df

    # both sides derive the page pool via visits.visit_pool(n): the
    # Spark generator here, the golden writer in oracle_golden
    return visits_df(spark, G.X_N_VISITS, partitions=16)


def q_canonical_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled BOTH ways: the raw crawl log is golden-materialized
    (same generator code), and DuckDB re-derives canonicalization +
    collapse with an independent SQL implementation — this checks the
    operator's logic, not just plumbing."""
    from .operators.weburl import canonical_pages

    return canonical_pages(_visits(spark))


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.weburl import blocklist_df, blocklist_filter

    return blocklist_filter(_visits(spark), blocklist_df(spark))


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.weburl import domain_stats

    return domain_stats(_visits(spark))


def q_robots_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled both ways: the robots table is golden-materialized
    (same generator+parser code), and DuckDB re-derives group
    selection + longest-match + allow-tie evaluation with its own
    list-lambda implementation over the same regex literals."""
    from .operators.weburl import robots_gate
    from .sources.robots import robots_df

    urls = _visits(spark).select("url").distinct()
    return robots_gate(urls, robots_df(spark)).select(
        "url", "canonical_host", "allowed")


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: sitemap discovery — the ``Sitemap:`` directives
    of every host's robots.txt (kernel ``parse_sitemaps``: global
    scope, file order, keep-first dedup), re-derived by DuckDB from
    the RAW robots files golden with its own comment-strip /
    key-match / dedup SQL."""
    from .sources.robots import robots_sitemaps_df

    return robots_sitemaps_df(spark)


def x_canonical_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-oracled: server-declared canonical collapse — documents
    group under ``coalesce(link_canonical, url)`` (the other half of
    URL dedup: what the SITE says is the same page). One hash
    exchange with map-side partials; per group the alias count and
    the deterministic representative (min url)."""
    from .operators.extraction import extract_pages

    docs = extract_pages(_x_pages(spark))
    tgt = F.coalesce("link_canonical", "url").alias("canonical_target")
    return (docs.select(tgt, "url")
            .groupBy("canonical_target")
            .agg(F.count("*").alias("n_aliases"),
                 F.min("url").alias("keep_url")))


def x_published_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-oracled: temporal composition of the corpus by declared
    publication year (the slice temporal mixing rebalances on);
    undated documents bucket as year 0."""
    from .operators.extraction import extract_pages

    docs = extract_pages(_x_pages(spark))
    year = F.coalesce(
        F.substring("published", 1, 4).cast("int"),
        F.lit(0)).alias("pub_year")
    return (docs.select(year)
            .groupBy("pub_year")
            .agg(F.count("*").alias("n_docs")))


def _x_links(spark: SparkSession) -> DataFrame:
    from .operators.extraction import extract_pages
    from .operators.webgraph import page_links

    return page_links(extract_pages(_x_pages(spark)))


def x_page_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden+SQL-oracled: the outlink surface (kernel capture +
    RFC 3986 resolution are golden-materialized; the ENDPOINT
    CANONICALIZATION is re-derived in SQL by running the independent
    DuckDB canon chain over both ends) — the WAT-adjacent per-link
    view the web-graph family builds on."""
    return _x_links(spark).select(
        "src_url", "link_idx", "href", "dst_url", "anchor",
        "nofollow", "src_host", "src_canonical", "dst_host",
        "dst_canonical")


def x_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled over the golden links: the inter-host edge list
    with link/follow/distinct-source-page counts — Common Crawl's
    host-graph shape. One hash exchange; the two exact distincts ride
    it via the Expand rewrite."""
    from .operators.webgraph import host_graph

    return host_graph(_x_links(spark))


def x_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled bit-for-bit (unrolled iterations, ordered neighbor
    folds, shared damping literals): directed PageRank over the
    follow-only host graph — the crawl-prioritization rank."""
    from .operators.webgraph import host_pagerank

    return host_pagerank(_x_links(spark))


def x_anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: top-k anchor texts per canonical target (count
    desc, anchor asc — deterministic), WindowGroupLimit-pruned before
    the rank exchange."""
    from .operators.webgraph import anchor_topk

    return anchor_topk(_x_links(spark))


def q_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled both ways: the raw sitemap XML is golden-
    materialized and DuckDB re-derives the PARSE (regexp block
    extraction) plus the canonical anti-join diff — so both the
    xml.etree parse and the frontier logic are cross-checked."""
    from .operators.weburl import sitemap_frontier
    from .sources.sitemaps import sitemap_urls_df

    return sitemap_frontier(sitemap_urls_df(spark), _visits(spark))


def q_sitemap_frontier_bloom(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """SQL-oracled: the bloom-position scale path of the frontier
    diff. Deterministic md5-prefix slots make the sketch EXACTLY
    reproducible in DuckDB — the oracle computes the same slots, the
    same collisions, the same verdicts (slot literals shared via
    weburl.BLOOM_WIDTH/BLOOM_K; the evaluation re-derived)."""
    from .operators.weburl import sitemap_frontier_bloom
    from .sources.sitemaps import sitemap_urls_df

    return sitemap_frontier_bloom(sitemap_urls_df(spark),
                                  _visits(spark))


def q_indexable_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed keep-gate, oracled end-to-end: extraction's head
    metadata (noindex) joined with the RFC 9309 robots verdict on the
    SAME urls — the corpus a compliant training pipeline may actually
    keep. Oracle reuses the shared robots-eval CTE chain over the
    kernel-golden docs table."""
    from .operators.extraction import extract_pages
    from .operators.weburl import robots_gate
    from .sources.robots import robots_df

    docs = extract_pages(_x_pages(spark)).select("url", "noindex")
    gated = robots_gate(docs, robots_df(spark))
    return gated.filter(F.col("allowed")
                        & ~F.col("noindex")).select("url")


def x_indexable_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pipeline composed as one plan, oracled end-to-end:
    WARC scan → HTTP gate (status 200 ∧ extractable mime ∧ non-empty)
    → extraction (meta-robots noindex) ⋈ header directive
    (X-Robots-Tag) → RFC 9309 robots verdict — the set of urls a
    compliant training pipeline may actually keep from a crawl.
    Restricted to the rows the docs golden covers (the WARC corpus is
    a superset). The oracle composes the warc-scan golden, the docs
    golden, and the shared robots-eval CTE chain — every stage
    re-derived or independently materialized."""
    from .operators.extraction import extract_pages
    from .operators.weburl import robots_gate
    from .sources.robots import robots_df
    from .sources.warc import ok_pages, warc_pages

    pages = warc_pages(spark, G.ensure_warc_corpus()).filter(
        F.regexp_extract("url", r"/credit/(\d{9})$", 1).cast("int")
        < G.X_N_PAGES)
    ok = ok_pages(pages)
    docs = extract_pages(ok.select("url", "html")) \
        .select("url", "noindex")
    keep = docs.join(ok.select("url", "x_robots_tag"), "url")
    gated = robots_gate(keep, robots_df(spark))
    return gated.filter(
        F.col("allowed") & ~F.col("noindex")
        & (F.col("x_robots_tag").isNull()
           | ~F.lower("x_robots_tag").contains("noindex"))
    ).select("url")


def x_content_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full content-side keep gate composed as ONE plan, oracled
    end-to-end: extraction (one kernel pass) → compliance (robots
    verdict ∧ ¬noindex) ∧ content quality (¬soft-404 ∧ C4 page
    verdict). All three content rules are pure column expressions
    over the SAME extraction output — the plan-guard test asserts a
    single MapInArrow, so composing the gates costs zero extra kernel
    or shuffle work. The oracle carries the soft404/C4 expressions
    through the shared robots-eval CTE chain."""
    from .operators.extraction import extract_pages
    from .operators.textops import c4_cols, soft404_cols
    from .operators.weburl import robots_gate
    from .sources.robots import robots_df

    docs = extract_pages(_x_pages(spark))
    flags = docs.select(
        "url", "noindex",
        soft404_cols()["soft404"].alias("soft404"),
        c4_cols()["keep"].alias("c4_keep"))
    gated = robots_gate(flags, robots_df(spark))
    return (gated.filter(F.col("allowed") & ~F.col("noindex")
                         & ~F.col("soft404") & F.col("c4_keep"))
            .select("url"))


def q_incremental_canonical_pages(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Append-mode crawl collapse: the first 80% of visits collapse
    into committed MERGEABLE state, the rest fold in as a delta
    (one delta collapse + one equi-join — never a corpus rescan).
    The oracle is the batch canonical_pages SQL VERBATIM: equality
    with the full recompute IS the correctness claim (counts add,
    sets union, last-wins by strictly-later epoch)."""
    from .operators.weburl import (
        canonical_state,
        merge_canonical_state,
        state_to_pages,
    )

    v = _visits(spark)
    cut = G.X_N_VISITS * 4 // 5
    committed = canonical_state(v.filter(F.col("visit_id") < cut))
    merged = merge_canonical_state(
        committed, v.filter(F.col("visit_id") >= cut))
    return state_to_pages(merged)


def q_resolve_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled both ways (like canonical_pages): DuckDB re-derives
    edge extraction + the unrolled bounded-hop resolution with its own
    canonicalization chain run over BOTH endpoints."""
    from .operators.weburl import resolve_redirects

    return resolve_redirects(_visits(spark))


def q_kmv_content_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-oracled: KMV (theta) sketch set arithmetic over two crawl
    windows' distinct content_sha sets. DuckDB recomputes the sketches
    (same md5 / lexicographic top-K rule) and replays the identical
    estimator expressions; the exact auditor columns re-derive from
    plain COUNT(DISTINCT ...)."""
    from .operators.weburl import kmv_content_overlap

    return kmv_content_overlap(_visits(spark), G.X_N_VISITS // 2)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the extraction engine applied to driver testdata —
    documents wrapped as HTML pages, through kernel + field join."""
    from .operators.extraction import extract_pages

    docs = R.load(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
         .alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>t</title></head><body>"
                      "<nav><a href='/'>home</a></nav><main><p>"),
                F.col("text"),
                F.lit("</p></main><footer>f</footer></body></html>"),
            ), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    return extract_pages(pages).select(
        "url", "doc_kind", "extracted_text", "n_elements", "n_pairs")


# ---------------------------------------------------------------------------
# Oracle-checked queries
# ---------------------------------------------------------------------------

_TERMS_SQL = ", ".join(f"('{t}')" for t in R.SEARCH_TERMS)
_TOKS = ("list_filter(regexp_split_to_array(lower(text), '\\s+'), "
         "t -> t <> '')")
_EN_IN = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

# unigrams + word bigrams as one list, the DSIR feature space
# (mirrors textops._shingles(width=2) appended to the token list)
_UNI_BI = ("list_concat(toks, CASE WHEN len(toks) >= 2 THEN "
           "[toks[i] || ' ' || toks[i+1] "
           "FOR i IN generate_series(1, len(toks) - 1)] "
           "ELSE CAST([] AS VARCHAR[]) END)")


def _zorder_keys(events):
    from .plans.zorder import zorder_keys

    return zorder_keys(events)


def _soft404_or(col: str) -> str:
    # SQL twin of the soft404_flags pattern OR-chain, literals shared
    return " OR ".join(
        f"contains({col}, '{p}')" for p in T.SOFT404_PATTERNS)


def _soft404_sql(title: str, text: str) -> str:
    # the full soft404 verdict (phrase OR-chain + length guard) —
    # shared by the x_soft404 oracle and the composed content gate
    lt = f"lower(COALESCE({title}, ''))"
    lx = f"lower(COALESCE({text}, ''))"
    return (f"((({_soft404_or(lt)}) OR ({_soft404_or(lx)})) AND "
            f"length(COALESCE({text}, '')) < {T.SOFT404_MAX_CHARS})")


# SQL twin of textops.c4_cols' kept-lines lambda (shared by the
# x_c4_filter oracle and the composed content gate). trim with the
# same explicit char set as the Spark btrim — space, tab, CR — so a
# CRLF corpus reads identically in both engines.
_C4_WS_SQL = "concat(' ', chr(9), chr(13))"
_C4_KEPTL_SQL = f"""list_transform(list_filter(str_split({{text}}, chr(10)), l ->
      right(trim(l, {_C4_WS_SQL}), 1) IN ('.', '!', '?', '"')
      AND len(list_filter(string_split_regex(trim(l, {_C4_WS_SQL}),
                                             '\\s+'),
                          w -> w <> '')) >= 3
      AND NOT contains(lower(trim(l, {_C4_WS_SQL})), 'javascript')),
      l -> trim(l, {_C4_WS_SQL}))"""


def _c4_keptl_sql(text: str) -> str:
    return _C4_KEPTL_SQL.format(text=text)


def _c4_keep_sql(keptl: str, clean: str, text: str) -> str:
    # the C4 page verdict over precomputed kept-lines/clean columns
    return ("(len(" + keptl + ") >= 1 AND length(" + clean + ") - "
            "length(translate(" + clean + ", '.!?', '')) >= 3 "
            "AND NOT contains(lower(" + text + "), 'lorem ipsum') "
            "AND NOT contains(" + text + ", '{'))")


def _simhash_oracle() -> str:
    # Mirrors textops.simhash: 64 parity votes over the two md5
    # halves; bit 63's weight is INT64_MIN (signed-64 packing).
    votes = ",\n   ".join(
        f"SUM(CASE WHEN ascii(substr(h, {i + 1}, 1)) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS))
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(SIMHASH_BITS - 1))
    bits += (f" + (CASE WHEN v{SIMHASH_BITS - 1} > 0 "
             f"THEN ({INT64_MIN + 1} - 1) ELSE 0 END)")
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(list_distinct({_TOKS})) AS tok
  FROM documents),
 hashed AS (SELECT doc_id, md5(tok) || md5('1:' || tok) AS h FROM toks),
 votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
"""


# Shared tokenize+shingle prefix for every MinHash oracle — one copy,
# so retuning the shingling can never desynchronize the variants.
_MINHASH_PREFIX = f"""
toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKS} AS toks
  FROM documents),
shingled AS (
  SELECT doc_id,
   CASE WHEN len(toks) >= 3
    THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
          FOR i IN generate_series(1, len(toks) - 2)]
    ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks)"""


def _minhash_cte(sig_expr: str) -> str:
    return f"""{_MINHASH_PREFIX},
sigs AS (
  SELECT doc_id, CAST(b AS INT) AS band,
   {sig_expr} AS minhash
  FROM shingled, generate_series(0, 3) t(b))
"""


_MINHASH_CTE = _minhash_cte(
    "list_min(list_transform(shingles,"
    " s -> md5(CAST(b AS VARCHAR) || ':' || s)))")

# (b=4, r=2) variant: band b concatenates the minima of hash-family
# members 2b and 2b+1 — '||' is NULL-propagating like F.concat.
_MINHASH_R2_CTE = _minhash_cte(
    "list_min(list_transform(shingles,"
    " s -> md5(CAST(b * 2 AS VARCHAR) || ':' || s)))"
    " || '|' || "
    "list_min(list_transform(shingles,"
    " s -> md5(CAST(b * 2 + 1 AS VARCHAR) || ':' || s)))")


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank mirroring
    ``textops.candidate_pagerank`` statement-for-statement: the edge
    CTE is the minhash_candidates oracle (structural reuse), neighbor
    sums are ORDERED left folds by source doc_id, and the damping
    constants are the identical decimal literals (``1 - 0.85`` is a
    different double than a literal ``0.15``)."""
    parts = [
        "live AS (SELECT * FROM sigs WHERE minhash IS NOT NULL)",
        """e AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM live a JOIN live b
    ON a.band = b.band AND a.minhash = b.minhash
   AND a.doc_id < b.doc_id)""",
        """und AS (SELECT doc_a AS src, doc_b AS dst FROM e
        UNION ALL SELECT doc_b, doc_a FROM e)""",
        "deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src)",
        "ed AS (SELECT u.src, u.dst, d.deg FROM und u"
        " JOIN deg d USING (src))",
        "n AS (SELECT COUNT(*) AS n_docs FROM documents)",
        "nodes AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, n_docs"
        " FROM documents CROSS JOIN n)",
        "rank0 AS (SELECT doc_id, 1.0 / n_docs AS r FROM nodes)",
    ]
    for t in range(1, T.PAGERANK_ITERS + 1):
        parts.append(f"""contrib{t} AS (
  SELECT e.dst, e.src, r.r / e.deg AS c
  FROM ed e JOIN rank{t - 1} r ON e.src = r.doc_id)""")
        parts.append(f"""fold{t} AS (
  SELECT dst,
   list_reduce(list_prepend(CAST(0 AS DOUBLE), list(c ORDER BY src)),
               (a, b) -> a + b) AS s
  FROM contrib{t} GROUP BY dst)""")
        parts.append(f"""rank{t} AS (
  SELECT nd.doc_id,
   {T.PAGERANK_BASE!r} / nd.n_docs
   + {T.PAGERANK_DAMPING!r} * COALESCE(f.s, 0.0) AS r
  FROM nodes nd LEFT JOIN fold{t} f ON nd.doc_id = f.dst)""")
    body = ",\n ".join(parts)
    return f"""
WITH {_MINHASH_CTE},
 {body}
SELECT doc_id, {sql_pround("r", 9)} AS pagerank
FROM rank{T.PAGERANK_ITERS}
"""


def _language_id_oracle() -> str:
    # same vocabulary-table join the Spark operator runs: the VALUES
    # list is generated from LANG_STOPWORDS, so vocabulary edits can
    # never desynchronize the oracle
    vocab_rows = ", ".join(
        f"('{w}', '{lang}')" for lang in LANG_IDS
        for w in LANG_STOPWORDS[lang])
    hit_defs = ",\n   ".join(
        f"CAST(SUM(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END)"
        f" AS INT) AS {lang}_hits"
        for lang in LANG_IDS)
    hit_cols = ", ".join(f"{lang}_hits" for lang in LANG_IDS)
    m = "greatest(" + ", ".join(f"{lang}_hits" for lang in LANG_IDS) + ")"
    n_max = " + ".join(
        f"(CASE WHEN {lang}_hits = {m} THEN 1 ELSE 0 END)"
        for lang in LANG_IDS)
    argmax = " ".join(
        f"WHEN {lang}_hits = {m} THEN '{lang}'" for lang in LANG_IDS)
    return f"""
WITH vocab(word, lang) AS (VALUES {vocab_rows}),
 toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(list_append({_TOKS}, '')) AS tok
  FROM documents),
 wide AS (
  SELECT doc_id,
   {hit_defs}
  FROM toks LEFT JOIN vocab ON tok = word GROUP BY doc_id)
SELECT doc_id, {hit_cols},
 CASE WHEN {m} > 0 AND ({n_max}) = 1
      THEN (CASE {argmax} END)
      ELSE 'unknown' END AS lang_guess
FROM wide
"""

def _bpe_ctes() -> str:
    """Unrolled fixed-round BPE training mirroring
    ``textops.bpe_merges`` statement-for-statement: the same
    ``[a-z0-9]+`` vocabulary contraction, the same (count DESC, lhs
    ASC, rhs ASC) winner order, and the IDENTICAL greedy
    suffix-replace fold (list_reduce with the '·'-delimited string
    accumulator), so merge application cannot drift between engines."""
    parts = [f"""words0 AS (
  SELECT w, freq,
   regexp_replace(w, '(.)', '·\\1', 'g') || '·' AS repr
  FROM (SELECT tok AS w, COUNT(*) AS freq
        FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
        WHERE regexp_matches(tok, '^[a-z0-9]+$')
        GROUP BY tok))"""]
    for t in range(1, T.BPE_MERGES + 1):
        parts.append(f"""sy{t} AS (
  SELECT w, freq,
   list_slice(string_split(repr, '·'), 2,
              len(string_split(repr, '·')) - 1) AS s
  FROM words{t - 1})""")
        parts.append(f"""pairs{t} AS (
  SELECT freq,
   unnest([struct_pack(l := s[i], r := s[i + 1])
           FOR i IN generate_series(1, len(s) - 1)]) AS p
  FROM sy{t})""")
        parts.append(f"""cnt{t} AS (
  SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM pairs{t} GROUP BY 1, 2)""")
        parts.append(f"""best{t} AS (
  SELECT l, r, pair_count FROM cnt{t}
  ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1)""")
        parts.append(f"""words{t} AS (
  SELECT w, freq,
   list_reduce(list_prepend('·', s),
     (a, x) -> CASE WHEN ends_with(a, '·' || b.l || '·') AND x = b.r
               THEN substr(a, 1, len(a) - len(b.l) - 1)
                    || b.l || b.r || '·'
               ELSE a || x || '·' END) AS repr
  FROM sy{t} CROSS JOIN best{t} b)""")
    return ",\n ".join(parts)


def _bpe_oracle() -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS merge_rank, l AS lhs, r AS rhs,"
        f" pair_count FROM best{t}"
        for t in range(1, T.BPE_MERGES + 1))
    return f"WITH {_bpe_ctes()}\n{sel}"


def _bpe_vocab_oracle() -> str:
    """Encode-side twin: the final words{K} CTE of the training chain
    IS the merged encoding of every vocabulary word, so the token
    table is one explode+aggregate over it — the training CTEs are
    shared verbatim with the bpe_merges oracle (structural reuse)."""
    k = T.BPE_MERGES
    return f"""WITH {_bpe_ctes()}
SELECT token, n_occurrences FROM (
 SELECT s_tok AS token, CAST(SUM(freq) AS BIGINT) AS n_occurrences
 FROM (SELECT freq,
        unnest(list_slice(string_split(repr, '·'), 2,
                          len(string_split(repr, '·')) - 1)) AS s_tok
       FROM words{k})
 GROUP BY 1)
ORDER BY n_occurrences DESC, token ASC LIMIT {T.BPE_VOCAB_TOPK}"""


_ANN_CTE = """
corpus AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id,
                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
queries AS (SELECT CAST(vec_id AS BIGINT) AS query_id,
                   CAST(embedding AS DOUBLE[]) AS q
            FROM embeddings WHERE vec_id < 5)
"""

# Small-corpus LSH tuning for the REGISTERED bucketed_near_dup query:
# the testdata embeddings are 500 near-random vectors (max pairwise
# cosine ~0.5), so 8 bits x 4 tables yields a meaningful non-empty
# result set to hash-compare. Production default is the corpus-scaled
# >=16-bit path (n_bits=None) — see similarity._scaled_bits.
ND_BITS = 8
ND_TABLES = 4
_ND_PLANES = S.lsh_hyperplanes(ND_TABLES, ND_BITS, S.EMB_DIMS)
_TOPK_PLANES = S.lsh_hyperplanes(1, S.N_BUCKET_BITS, S.EMB_DIMS)[0]

# the oracle bucket expressions are GENERATED from the identical
# hyperplane literals the Spark plan embeds (similarity.proj_bucket /
# proj_bucket_sql) — retuning bits/tables/seed cannot desynchronize
_BUCKET_EXPR = S.proj_bucket_sql("{col}", _TOPK_PLANES)


def _lsh_tables_cte(planes, src: str, id_col: str) -> str:
    """UNION ALL of one bucket projection per LSH table — the SQL
    mirror of similarity.lsh_candidate_pairs' posexplode."""
    return "\n  UNION ALL ".join(
        f"SELECT {id_col}, {t} AS t, "
        f"{S.proj_bucket_sql('v', planes[t])} AS bucket FROM {src}"
        for t in range(len(planes)))

_COS_CD = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")


def _kmeans_ctes(sample_hex: str | None = None) -> str:
    """Unrolled fixed-iteration Lloyd's k-means, mirroring
    ``similarity.kmeans_codebook`` statement-for-statement: seeded from
    the first N_CENTROIDS vectors, argmax-cosine assignment with the
    same tie-break, and ORDERED left-fold dimension sums (zipped
    unnest + ``list_reduce`` over vec_id order) so every float lands
    bit-identically to the Spark side. With ``sample_hex`` both the
    training corpus and the seeds come from the identical md5-prefix
    Bernoulli sample the Spark side draws. Final codebook: ``cents``."""
    cos = _COS_CD.format(a="k.v", b="p.c")
    sample = (
        f" WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1,"
        f" {len(sample_hex)}) < '{sample_hex}'" if sample_hex else "")
    seeds0 = (
        f"cents0 AS (SELECT vec_id AS centroid_id, v AS c FROM kcorpus"
        f" ORDER BY vec_id LIMIT {S.N_CENTROIDS})"
        if sample_hex else
        f"cents0 AS (SELECT CAST(vec_id AS BIGINT) AS centroid_id,"
        f" CAST(embedding AS DOUBLE[]) AS c FROM embeddings"
        f" WHERE vec_id < {S.N_CENTROIDS})")
    parts = [
        "kcorpus AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        f" CAST(embedding AS DOUBLE[]) AS v FROM embeddings{sample})",
        seeds0,
    ]
    for t in range(1, S.KMEANS_ITERS + 1):
        prev = f"cents{t - 1}"
        parts.append(f"""assign{t} AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT k.vec_id, k.v, p.centroid_id,
     row_number() OVER (PARTITION BY k.vec_id ORDER BY
       {cos} DESC, p.centroid_id ASC) AS crn
    FROM kcorpus k CROSS JOIN {prev} p)
  WHERE crn = 1)""")
        parts.append(f"""dims{t} AS (
  SELECT centroid_id, vec_id,
   unnest(generate_series(1, len(v))) AS i, unnest(v) AS val
  FROM assign{t})""")
        parts.append(f"""sums{t} AS (
  SELECT centroid_id, i,
   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                            list(val ORDER BY vec_id)),
               (a, b) -> a + b) AS s,
   COUNT(*) AS n
  FROM dims{t} GROUP BY 1, 2)""")
        parts.append(f"""cents{t} AS (
  SELECT p.centroid_id, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT centroid_id, list(s / n ORDER BY i) AS c
    FROM sums{t} GROUP BY centroid_id) m USING (centroid_id))""")
    parts.append(
        f"cents AS (SELECT centroid_id, c FROM cents{S.KMEANS_ITERS})")
    return ",\n".join(parts)


_IVF_CTE = f"""
{_kmeans_ctes()},
corpus_assign AS (
  SELECT neighbor_id, v, centroid_id FROM (
    SELECT neighbor_id, v, centroid_id,
     row_number() OVER (PARTITION BY neighbor_id ORDER BY
       list_dot_product(v, c) /
         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c)))
       DESC, centroid_id ASC) AS crn
    FROM corpus CROSS JOIN cents)
  WHERE crn = 1)
"""


ORACLES: Dict[str, str] = {
    # --- relational families ------------------------------------------
    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
 CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
   AS sum_base_price,
 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
   AS DOUBLE) AS sum_disc_price,
 COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    "value_banding": """
SELECT event_type,
 COUNT(*) AS n_events,
 CAST(SUM(CASE WHEN value >= 75 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
 CAST(SUM(CASE WHEN value >= 50 AND value < 75 THEN 1 ELSE 0 END)
   AS BIGINT) AS n_mid,
 CAST(SUM(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
 CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
""",
    "latest_event_per_user": """
SELECT user_id, event_id, event_type, value
FROM (SELECT user_id, event_id, event_type, value,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
""",
    "first_doc_containing": f"""
WITH terms(term) AS (VALUES {_TERMS_SQL})
SELECT term, CAST(doc_id AS BIGINT) AS doc_id, source
FROM (SELECT t.term, d.doc_id, d.source,
       row_number() OVER (PARTITION BY t.term ORDER BY d.doc_id) AS rn
      FROM documents d JOIN terms t ON contains(lower(d.text), t.term))
WHERE rn = 1
""",
    "recent_orders_page": """
SELECT CAST(rn AS INT) AS rank, o_orderkey, o_orderdate, o_totalprice
FROM (SELECT o_orderkey, o_orderdate, o_totalprice,
       row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey ASC)
         AS rn
      FROM orders)
WHERE rn > 10 AND rn <= 30
""",
    "missing_event_types": """
WITH u AS (SELECT DISTINCT user_id FROM events),
 t AS (SELECT DISTINCT event_type FROM events),
 p AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT u.user_id, t.event_type AS missing_type
FROM u CROSS JOIN t
WHERE NOT EXISTS (SELECT 1 FROM p
                  WHERE p.user_id = u.user_id
                    AND p.event_type = t.event_type)
""",
    "clean_currency": """
WITH base AS (
 SELECT o_orderkey,
  CASE WHEN o_orderkey % 3 = 0
   THEN CAST(o_orderkey AS VARCHAR) || ',' ||
        lpad(CAST(o_custkey % 100 AS VARCHAR), 2, '0') || ' €'
   ELSE '€' || CAST(o_orderkey AS VARCHAR) || '.' ||
        lpad(CAST(o_custkey % 100 AS VARCHAR), 2, '0')
  END AS dirty
 FROM orders WHERE o_orderkey % 5 <> 0)
SELECT o_orderkey, dirty,
 CASE WHEN c = '' THEN NULL ELSE TRY_CAST(c AS DOUBLE) END AS amount
FROM (SELECT o_orderkey, dirty,
       regexp_replace(replace(replace(replace(dirty, '€', ''), ' ', ''),
                      ',', '.'), '[^0-9.]', '', 'g') AS c
      FROM base)
""",
    "validate_dates": """
SELECT o_orderkey, raw_date,
 regexp_matches(raw_date, '^\\d{2}\\.\\d{2}\\.\\d{4}$') AS is_valid,
 CASE WHEN regexp_matches(raw_date, '^\\d{2}\\.\\d{2}\\.\\d{4}$')
      THEN raw_date END AS clean_date
FROM (SELECT o_orderkey,
       CASE WHEN o_orderkey % 7 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
            ELSE strftime(o_orderdate, '%d.%m.%Y') END AS raw_date
      FROM orders)
""",
    "validate_german_numbers": """
SELECT l_orderkey, raw_value, value_num,
 (min_err IS NULL AND max_err IS NULL) AS is_valid,
 CAST((CASE WHEN min_err IS NOT NULL THEN 1 ELSE 0 END)
    + (CASE WHEN max_err IS NOT NULL THEN 1 ELSE 0 END) AS INT)
   AS n_errors,
 COALESCE(min_err, max_err) AS first_error
FROM (
 SELECT l_orderkey, raw_value, value_num,
  CASE WHEN value_num < 5 THEN 'Value must be at least 5' END AS min_err,
  CASE WHEN value_num > 45 THEN 'Value must be at most 45' END AS max_err
 FROM (
  SELECT l_orderkey, raw_value,
   TRY_CAST(replace(replace(raw_value, '.', ''), ',', '.') AS DOUBLE)
     AS value_num
  FROM (
   SELECT l_orderkey,
    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || ',' ||
    lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0') AS raw_value
   FROM lineitem WHERE l_linenumber = 1)))
""",
    "clean_labels": """
SELECT p_partkey, dirty_label,
 trim(regexp_replace(regexp_replace(dirty_label, ':+$', ''),
      '\\?+$', '')) AS clean_label
FROM (SELECT p_partkey,
       p_name || (CASE p_partkey % 4 WHEN 0 THEN ':' WHEN 1 THEN '?::'
                  WHEN 2 THEN '::??' ELSE '' END) AS dirty_label
      FROM part)
""",
    "revenue_by_region_year": """
SELECT r_name AS region, CAST(year(o_orderdate) AS INT) AS order_year,
 COUNT(*) AS n_orders,
 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, order_year ORDER BY region, order_year
""",
    "time_rollup": """
SELECT day, event_type, COUNT(*) AS n_events,
 CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM (SELECT date_trunc('day', ts) AS day, event_type, value
      FROM events)
GROUP BY ROLLUP (day, event_type)
""",
    "asof_join": """
WITH tagged AS (
  SELECT event_id, user_id, ts, value,
   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side
  FROM events WHERE event_type IN ('click', 'purchase')),
 carried AS (
  SELECT event_id, user_id, ts, side,
   last_value(CASE WHEN side = 0 THEN
       {'event_id': event_id, 'ts': ts, 'value': value} END
     IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, side, event_id
          ROWS UNBOUNDED PRECEDING) AS m
  FROM tagged)
SELECT event_id, user_id, ts,
 m.event_id AS asof_event_id, m.ts AS asof_ts, m.value AS asof_value
FROM carried WHERE side = 1
""",
    "pii_scrub": f"""
WITH base AS (
 SELECT c_custkey,
  c_name || ' reach '
  || (CASE WHEN c_custkey % 5 = 0 THEN 'User' ELSE 'user' END)
  || CAST(c_custkey AS VARCHAR)
  || (CASE WHEN c_custkey % 5 = 0 THEN '@Mail.Example'
      ELSE '@mail.example' END)
  || (CASE WHEN c_custkey % 3 = 0
      THEN ' or call +49 30 '
           || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
      ELSE '' END)
  || (CASE WHEN c_custkey % 2 = 0
      THEN ' from 10.0.' || CAST(c_nationkey AS VARCHAR) || '.'
           || CAST(c_custkey % 200 AS VARCHAR)
      ELSE '' END) AS dirty
 FROM customer)
SELECT c_custkey, dirty,
 regexp_replace(
   regexp_replace(
     regexp_replace(dirty,
       '{R.PII_EMAIL_RE}', '<EMAIL>', 'g'),
     '{R.PII_PHONE_RE}', '<PHONE>', 'g'),
   '{R.PII_IP_RE}', '<IP>', 'g') AS scrubbed,
 CAST(len(regexp_extract_all(dirty, '{R.PII_EMAIL_RE}')) AS INT)
   AS n_emails,
 CAST(len(regexp_extract_all(dirty, '{R.PII_PHONE_RE}')) AS INT)
   AS n_phones,
 CAST(len(regexp_extract_all(dirty, '{R.PII_IP_RE}')) AS INT)
   AS n_ips
FROM base
""",
    # --- dedup / text analysis ----------------------------------------
    "exact_dedup": """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
   AS text_hash,
 CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
 COUNT(*) AS n_copies
FROM documents GROUP BY text_hash
""",
    "jaccard_pairs": f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(list_distinct({_TOKS})) AS tok
  FROM documents WHERE doc_id < 200),
 sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
 inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, jaccard
FROM (SELECT doc_a, doc_b,
       {sql_pround("n_inter / (sa.n_tok + sb.n_tok - n_inter)", 6)} AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
WHERE jaccard >= 0.55
""",
    "minhash_signatures": f"""
WITH {_MINHASH_CTE}
SELECT doc_id, band, minhash FROM sigs WHERE minhash IS NOT NULL
""",
    "minhash_candidates": f"""
WITH {_MINHASH_CTE},
 live AS (SELECT * FROM sigs WHERE minhash IS NOT NULL)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM live a JOIN live b
  ON a.band = b.band AND a.minhash = b.minhash
 AND a.doc_id < b.doc_id
""",
    "minhash_candidates_b4r2": f"""
WITH {_MINHASH_R2_CTE},
 live AS (SELECT * FROM sigs WHERE minhash IS NOT NULL)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM live a JOIN live b
  ON a.band = b.band AND a.minhash = b.minhash
 AND a.doc_id < b.doc_id
""",
    "dedup_clusters": f"""
WITH RECURSIVE {_MINHASH_CTE},
 live AS (SELECT * FROM sigs WHERE minhash IS NOT NULL),
 edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM live a JOIN live b
    ON a.band = b.band AND a.minhash = b.minhash
   AND a.doc_id < b.doc_id),
 und AS (SELECT doc_a AS a, doc_b AS b FROM edges
         UNION SELECT doc_b, doc_a FROM edges),
 reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
 roots AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_root
  FROM reach GROUP BY a)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
 CAST(COALESCE(r.cluster_root, d.doc_id) AS BIGINT) AS cluster_root
FROM documents d LEFT JOIN roots r ON r.doc_id = d.doc_id
""",
    # candidates → exact-Jaccard verify (candidates only): the shared
    # MinHash prefix IS the candidates oracle, so (b, r) retuning can
    # never desynchronize the composed pipeline from its parts
    "verified_near_dup_pairs": f"""
WITH {_MINHASH_CTE},
 live AS (SELECT * FROM sigs WHERE minhash IS NOT NULL),
 cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM live a JOIN live b
    ON a.band = b.band AND a.minhash = b.minhash
   AND a.doc_id < b.doc_id),
 sh AS (SELECT doc_id, unnest(list_distinct(shingles)) AS sh
        FROM shingled),
 sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
 inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
  GROUP BY 1, 2)
SELECT doc_a, doc_b, jaccard
FROM (SELECT doc_a, doc_b,
       {sql_pround("n_inter / (sa.n_sh + sb.n_sh - n_inter)", 6)}
         AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
WHERE jaccard >= {T.VERIFY_JACCARD_THRESHOLD}
""",
    "sessionize_events": """
SELECT user_id, CAST(session_idx AS INT) AS session_idx,
 COUNT(*) AS n_events,
 MIN(ts) AS t_start, MAX(ts) AS t_end,
 CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM (
 SELECT user_id, ts, value,
  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_idx
 FROM (
  SELECT user_id, event_id, ts, value,
   CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
         (PARTITION BY user_id ORDER BY ts, event_id) > 1800
        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           IS NULL
        THEN 1 ELSE 0 END AS new_s
  FROM events))
GROUP BY user_id, session_idx
""",
    "repetition_score": f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKS} AS toks
  FROM documents),
 uni_c AS (
  SELECT doc_id, g, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS g FROM toks) GROUP BY 1, 2),
 uni AS (
  SELECT doc_id, MAX(cnt) AS top_w, SUM(cnt) AS n_w FROM uni_c
  GROUP BY 1),
 bi_c AS (
  SELECT doc_id, g, COUNT(*) AS cnt
  FROM (SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i+1]
                 FOR i IN generate_series(1, len(toks) - 1)]) AS g
        FROM toks WHERE len(toks) >= 2) GROUP BY 1, 2),
 bi AS (
  SELECT doc_id, MAX(cnt) AS top_b, SUM(cnt) AS n_b FROM bi_c
  GROUP BY 1),
 tri_c AS (
  SELECT doc_id, g, COUNT(*) AS cnt
  FROM (SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                 FOR i IN generate_series(1, len(toks) - 2)]) AS g
        FROM toks WHERE len(toks) >= 3) GROUP BY 1, 2),
 tri AS (
  SELECT doc_id, SUM(cnt) AS n_t,
   SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_t FROM tri_c
  GROUP BY 1)
SELECT doc_id, n_tokens, top_word_frac, top_bigram_frac,
 dup_trigram_frac,
 (top_word_frac > {T.TOP_WORD_FRAC_MAX}
  OR dup_trigram_frac > {T.DUP_TRIGRAM_FRAC_MAX}) AS is_repetitive
FROM (
 SELECT u.doc_id, CAST(u.n_w AS BIGINT) AS n_tokens,
  {sql_pround("u.top_w / greatest(u.n_w, 1)", 6)} AS top_word_frac,
  {sql_pround("COALESCE(b.top_b, 0) / greatest(COALESCE(b.n_b, 0), 1)", 6)}
    AS top_bigram_frac,
  {sql_pround("COALESCE(t.dup_t, 0) / greatest(COALESCE(t.n_t, 0), 1)", 6)}
    AS dup_trigram_frac
 FROM uni u LEFT JOIN bi b ON u.doc_id = b.doc_id
 LEFT JOIN tri t ON u.doc_id = t.doc_id)
""",
    "decontaminate": f"""
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
   CASE WHEN len(toks) >= {T.DECONTAM_NGRAM_W}
    THEN [{" || ' ' || ".join(f"toks[i+{j}]" for j in range(T.DECONTAM_NGRAM_W))}
          FOR i IN generate_series(1, len(toks) - {T.DECONTAM_NGRAM_W - 1})]
    ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
 bench AS (
  SELECT DISTINCT unnest(list_distinct(grams)) AS bgram FROM g
  WHERE doc_id < {T.DECONTAM_BENCH_IDS}),
 dg AS (SELECT doc_id, unnest(list_append(grams, '')) AS gram FROM g)
SELECT doc_id, n_hits, n_hits > 0 AS is_contaminated
FROM (SELECT doc_id,
       CAST(SUM(CASE WHEN b.bgram IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_hits
      FROM dg LEFT JOIN bench b ON dg.gram = b.bgram
      GROUP BY doc_id)
""",
    "deterministic_sample": f"""
SELECT doc_id, source, hash_key,
 substr(hash_key, 1, {len(T.SAMPLE_RATE_HEX)}) < '{T.SAMPLE_RATE_HEX}'
   AS kept_bernoulli,
 CAST(rn AS INT) AS src_rank,
 rn <= {T.SOURCE_QUOTA} AS kept_quota
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       md5(CAST(doc_id AS VARCHAR)) AS hash_key,
       row_number() OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                   doc_id) AS rn
      FROM documents)
""",
    # ("weighted_sample" is assigned below the dict literal — its SQL
    # needs the portable hex-fold helper)
    # Okapi BM25: same tokenize prefix; the per-doc score re-derived
    # with the identical formula parenthesization and the SAME
    # term-ordered fold (list_reduce over list(s ORDER BY term))
    "bm25_topk": f"""
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKS} AS toks
  FROM documents),
 dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
 stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                  AVG(dl) AS avgdl FROM dl),
 tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
  FROM (SELECT d.doc_id, unnest(d.toks) AS term,
               CAST(len(d.toks) AS DOUBLE) AS dl
        FROM docs d)
  WHERE term IN ({", ".join(f"'{t}'" for t in T.BM25_QUERY)})
  GROUP BY doc_id, term),
 dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
         FROM tf GROUP BY term),
 scored AS (
  SELECT tf.doc_id, tf.term,
   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
   * (tf.tf * {T.BM25_K1 + 1.0})
   / (tf.tf + {T.BM25_K1}
      * ({1.0 - T.BM25_B} + {T.BM25_B} * tf.dl / avgdl)) AS s
  FROM tf JOIN dft USING (term) CROSS JOIN stats),
 per_doc AS (
  SELECT doc_id,
   list_reduce(list_prepend(0.0, list(s ORDER BY term)),
               (a, x) -> a + x) AS raw,
   CAST(COUNT(*) AS INT) AS n_terms
  FROM scored GROUP BY doc_id)
SELECT doc_id, {sql_pround("raw", 6)} AS score, n_terms
FROM per_doc
ORDER BY score DESC, doc_id ASC
LIMIT {T.BM25_TOP_K}
""",
    "tfidf_top_terms": f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_TOKS}) AS term
  FROM documents),
 tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
 dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
 n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
 scored AS (
  SELECT doc_id, term, tf, df,
   {sql_pround("tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)", 6)}
     AS tf_idf
  FROM tf JOIN dft USING (term) CROSS JOIN n)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
 tf_idf, CAST(rn AS INT) AS rank
FROM (SELECT doc_id, term, tf, df, tf_idf,
       row_number() OVER (PARTITION BY doc_id
                          ORDER BY tf_idf DESC, term ASC) AS rn
      FROM scored)
WHERE rn <= {T.TFIDF_TOP_K}
""",
    "duplicate_spans": f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKS} AS toks
  FROM documents),
 g1 AS (SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {T.DUP_SPAN_W - 1})) AS i
        FROM toks WHERE len(toks) >= {T.DUP_SPAN_W}),
 grams AS (SELECT doc_id, i,
            {" || ' ' || ".join(f"toks[i+{j}]" for j in range(T.DUP_SPAN_W))}
              AS gram
           FROM g1),
 shared AS (SELECT gram
            FROM (SELECT gram, MIN(doc_id) AS lo, MAX(doc_id) AS hi
                  FROM grams GROUP BY gram)
            WHERE lo < hi),
 cov1 AS (SELECT doc_id,
           unnest(generate_series(i, i + {T.DUP_SPAN_W - 1})) AS pos
          FROM grams JOIN shared USING (gram)),
 cov AS (SELECT doc_id, COUNT(DISTINCT pos) AS n_covered
         FROM cov1 GROUP BY doc_id)
SELECT doc_id, n_tokens, n_covered, dup_span_frac,
 dup_span_frac > {T.DUP_SPAN_FRAC_MAX} AS is_dup_span
FROM (
 SELECT d.doc_id, d.n_tokens,
  CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
  {sql_pround("COALESCE(c.n_covered, 0) / greatest(d.n_tokens, 1)", 6)}
    AS dup_span_frac
 FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents) d
 LEFT JOIN cov c ON d.doc_id = c.doc_id)
""",
    "corpus_percentiles": f"""
WITH docs AS (SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(doc_id AS BIGINT) AS doc_id FROM documents),
 ranked AS (SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS rk
            FROM docs),
 cnt AS (SELECT lang, COUNT(*) AS n_docs FROM docs GROUP BY lang),
 ps(p) AS (VALUES {", ".join(f"(CAST({p} AS DOUBLE))"
                             for p in T.PERCENTILE_PS)}),
 locs AS (SELECT lang, n_docs, p, p * (n_docs - 1) AS h
          FROM cnt CROSS JOIN ps),
 locs2 AS (SELECT lang, n_docs, p,
            CAST(floor(h) + 1 AS BIGINT) AS lo_rk,
            CAST(least(floor(h) + 2, CAST(n_docs AS DOUBLE)) AS BIGINT)
              AS hi_rk,
            h - floor(h) AS frac
           FROM locs)
SELECT l.lang, l.p, l.n_docs,
 {sql_pround("lo.n_chars + (hi.n_chars - lo.n_chars) * l.frac", 6)}
   AS value
FROM locs2 l
JOIN ranked lo ON lo.lang = l.lang AND lo.rk = l.lo_rk
JOIN ranked hi ON hi.lang = l.lang AND hi.rk = l.hi_rk
""",
    # the sketch value itself is engine-specific, so the CONTRACT is
    # oracled instead: the rank-error bound must hold for every
    # (lang, p) — the Spark side computes within_bound from the
    # sketch's exact rank interval, the oracle asserts it TRUE (any
    # violation hash-mismatches); textops.approx_corpus_percentiles
    "approx_percentiles": f"""
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents
           GROUP BY lang),
 ps(p) AS (VALUES {", ".join(f"(CAST({p} AS DOUBLE))"
                             for p in T.PERCENTILE_PS)})
SELECT lang, p, n_docs, TRUE AS within_bound
FROM c CROSS JOIN ps
""",
    # mirrors textops.unigram_lm_score: per-token −ln p quantized to
    # UNIGRAM_TERM_DIGITS before the ORDERED fold over token order
    "unigram_lm_score": f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_TOKS}) AS tok
  FROM documents),
 tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks),
 vocab AS (
  SELECT tok,
   {sql_pround("-ln(CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM tot))",
               T.UNIGRAM_TERM_DIGITS)} AS nlogp
  FROM toks GROUP BY tok),
 tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
 terms AS (SELECT doc_id, tok, CAST(tf AS DOUBLE) * nlogp AS t, tf
           FROM tf JOIN vocab USING (tok)),
 agg AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
   CAST(COUNT(*) AS BIGINT) AS n_distinct,
   list_reduce(list_prepend(CAST(0 AS DOUBLE), list(t ORDER BY tok)),
               (a, b) -> a + b) AS s
  FROM terms GROUP BY doc_id)
SELECT doc_id, n_tokens, n_distinct,
 {sql_pround("s / CAST(n_tokens AS DOUBLE)", 6)} AS cross_entropy
FROM agg
""",
    # mirrors textops.temperature_mixture: α = 0.5 applied as sqrt()
    # (IEEE-exact), Σ over sources as an ORDERED fold by source name,
    # identical literal {T.MIXTURE_TARGET_FRAC!r} on both sides
    "temperature_mixture": f"""
WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
               md5(CAST(doc_id AS VARCHAR)) AS hash_key FROM documents),
 counts AS (SELECT source, COUNT(*) AS n_src FROM docs GROUP BY source),
 z AS (SELECT
   list_reduce(
     list_prepend(CAST(0 AS DOUBLE),
                  list(sqrt(CAST(n_src AS DOUBLE)) ORDER BY source)),
     (a, b) -> a + b) AS z,
   CAST(SUM(n_src) AS DOUBLE) AS n_total
  FROM counts),
 quotas AS (
  SELECT source, CAST(n_src AS BIGINT) AS n_src,
   sqrt(CAST(n_src AS DOUBLE)) / z AS q,
   CAST({sql_pround(
       f"{T.MIXTURE_TARGET_FRAC!r} * n_total"
       " * (sqrt(CAST(n_src AS DOUBLE)) / z)", 0)} AS BIGINT) AS cap
  FROM counts CROSS JOIN z),
 ranked AS (SELECT doc_id, source, hash_key,
             row_number() OVER (PARTITION BY source
                                ORDER BY hash_key, doc_id) AS rn
            FROM docs)
SELECT r.doc_id, r.source, qu.n_src,
 {sql_pround("qu.q", 9)} AS q, qu.cap,
 CAST(r.rn AS INT) AS src_rank, r.rn <= qu.cap AS kept
FROM ranked r JOIN quotas qu USING (source)
""",
    # mirrors textops.pack_sequences: per-source prefix sum over
    # doc_id order, integer arithmetic only
    "pack_sequences": f"""
WITH c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
            CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
 o AS (SELECT doc_id, source, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tokens
          AS start_off
       FROM c),
 s AS (SELECT doc_id, source, n_tokens, start_off,
        CAST(floor(start_off / {T.PACK_SEQ_LEN}) AS BIGINT)
          AS start_seq,
        CAST(floor((start_off + greatest(n_tokens - 1, 0))
                   / {T.PACK_SEQ_LEN}) AS BIGINT) AS end_seq
       FROM o)
SELECT doc_id, source, n_tokens, start_off, start_seq, end_seq,
 CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
      ELSE end_seq - start_seq + 1 END AS n_seqs
FROM s
""",
    # mirrors textops.dsir_importance: hashed unigram+bigram buckets,
    # Laplace-smoothed target/raw log-ratio with each ln() quantized
    # to {T.DSIR_LOGP_DIGITS} digits BEFORE the subtraction, ordered
    # fold over bucket index, threshold = the keep-frac quantile of
    # the md5-Bernoulli sample, comparisons on the ROUNDED weight
    "dsir_importance": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKS} AS toks
           FROM documents),
 g AS (SELECT doc_id, unnest({_UNI_BI}) AS gram FROM t),
 feats AS (SELECT doc_id, {_hex_bucket_sql("md5(gram)", T.DSIR_BUCKETS)}
             AS bucket, COUNT(*) AS c
           FROM g GROUP BY 1, 2),
 raw AS (SELECT bucket, SUM(c) AS cr FROM feats GROUP BY bucket),
 tgt AS (SELECT bucket, SUM(c) AS ct FROM feats
         WHERE doc_id < {T.DSIR_TARGET_IDS} GROUP BY bucket),
 tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tr,
          CAST(SUM(CASE WHEN doc_id < {T.DSIR_TARGET_IDS}
                    THEN c ELSE 0 END) AS DOUBLE) AS tt
         FROM feats),
 lam AS (SELECT raw.bucket,
   {sql_pround(
       "ln((CAST(COALESCE(tgt.ct, 0) AS DOUBLE) + 1.0)"
       f" / (tot.tt + {float(T.DSIR_BUCKETS)!r}))",
       T.DSIR_LOGP_DIGITS)}
   - {sql_pround(
       "ln((CAST(raw.cr AS DOUBLE) + 1.0)"
       f" / (tot.tr + {float(T.DSIR_BUCKETS)!r}))",
       T.DSIR_LOGP_DIGITS)} AS lam
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
 scored AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
   {sql_pround(
       "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
       " list(CAST(c AS DOUBLE) * lam ORDER BY bucket)),"
       " (a, b) -> a + b)", 6)} AS log_weight
  FROM feats JOIN lam USING (bucket) GROUP BY doc_id),
 samp AS (SELECT doc_id, log_weight,
           row_number() OVER (ORDER BY log_weight DESC, doc_id) AS rn
          FROM scored
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1,
                       {len(T.DSIR_SAMPLE_HEX)})
                < '{T.DSIR_SAMPLE_HEX}'),
 ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM samp),
 thr AS (SELECT max(thr) AS thr FROM (
          SELECT log_weight AS thr FROM samp CROSS JOIN ns
          WHERE rn = greatest(CAST(1 AS BIGINT),
                              CAST(ceil({T.DSIR_KEEP_FRAC!r} * ns)
                                   AS BIGINT))))
SELECT doc_id, n_feats, log_weight,
 log_weight >= COALESCE(thr, CAST('-infinity' AS DOUBLE)) AS kept
FROM scored CROSS JOIN thr
""",
    "inverted_index": f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_TOKS}) AS term
  FROM documents),
 pairs AS (SELECT term, doc_id, COUNT(*) AS n FROM toks GROUP BY 1, 2)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
 CAST(SUM(n) AS BIGINT) AS n_occurrences,
 array_to_string(
   list_transform(list_sort(list(doc_id))[1:{T.POSTINGS_CAP}],
                  d -> CAST(d AS VARCHAR)), ',') AS postings_head
FROM pairs GROUP BY term
""",
    "candidate_pagerank": _pagerank_oracle(),
    "simhash": _simhash_oracle(),
    # band count, width, mask and hamming bound all derived from the
    # textops constants so retuning them cannot desynchronize the oracle
    "simhash_candidates": f"""
WITH sims AS (SELECT * FROM ({_simhash_oracle()})),
bands AS (
  SELECT doc_id, simhash, b AS band,
   (simhash >> (b * {SIMHASH_BITS // SIMHASH_BANDS}))
     & {(1 << (SIMHASH_BITS // SIMHASH_BANDS)) - 1} AS key
  FROM sims, generate_series(0, {SIMHASH_BANDS - 1}) t(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
         b.doc_id AS doc_b, b.simhash AS sim_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
 CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
""",
    "language_id": _language_id_oracle(),
    "quality_score": f"""
SELECT doc_id,
 CAST(n_chars AS BIGINT) AS n_chars,
 CAST(n_tokens AS BIGINT) AS n_tokens,
 {sql_pround("(n_chars - (n_tokens - 1)) / greatest(n_tokens, 1.0)", 6)}
   AS mean_tok_len,
 {sql_pround("stop_hits / greatest(n_tokens, 1.0)", 6)} AS stop_ratio,
 {sql_pround("n_digits / greatest(n_chars, 1.0)", 6)} AS digit_ratio,
 {sql_pround("n_punct / greatest(n_chars, 1.0)", 6)} AS punct_ratio,
 {sql_pround("n_distinct / greatest(n_tokens, 1.0)", 6)} AS diversity,
 {sql_pround("least(n_tokens / 50.0, 1.0) * 0.3 + (stop_hits / greatest(n_tokens, 1.0)) * 0.2 + (n_distinct / greatest(n_tokens, 1.0)) * 0.3 + (1.0 - n_punct / greatest(n_chars, 1.0)) * 0.1 + (1.0 - n_digits / greatest(n_chars, 1.0)) * 0.1", 3)}
   AS quality
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS DOUBLE) AS n_chars,
       CAST(len(toks) AS DOUBLE) AS n_tokens,
       CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct,
       CAST(len(list_filter(toks, t -> t IN ({_EN_IN}))) AS DOUBLE)
         AS stop_hits,
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
         AS DOUBLE) AS n_digits,
       CAST(length(text)
            - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
         AS DOUBLE) AS n_punct
      FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents))
""",
    "token_counts": f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
 CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
 CAST(len(regexp_extract_all(lower(text),
      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS re_tokens
FROM documents
""",
    "fingerprints": """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
 sha256(norm) AS fp_sha256,
 md5(substr(norm, 1, 64)) AS fp_prefix64,
 list_reduce(
   list_prepend(CAST(0 AS BIGINT),
     list_transform(generate_series(1, length(norm)),
                    i -> CAST(unicode(substr(norm, i, 1)) AS BIGINT))),
   (h, c) -> (h * 131 + c) % 1000000007) AS fp_roll,
 CASE WHEN length(norm) >= 8 THEN
   list_min(list_transform(generate_series(1, length(norm) - 7),
                           i -> md5(substr(norm, i, 8))))
 END AS fp_shingle_min
FROM (SELECT doc_id,
       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents)
""",
    "shingle_jaccard_pairs": f"""
WITH sh AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
     THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           FOR i IN generate_series(1, len(toks) - 2)]
     ELSE CAST([] AS VARCHAR[]) END)) AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE doc_id < 150)),
 sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
 inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, jaccard
FROM (SELECT doc_a, doc_b,
       {sql_pround("n_inter / (sa.n_sh + sb.n_sh - n_inter)", 6)} AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
WHERE jaccard >= 0.10
""",
    "parse_json_props": """
SELECT event_id, raw_props, trim(uncommented) AS clean_json,
 CAST(json_extract(trim(uncommented), '$.k') AS INT) AS k_value
FROM (
 SELECT event_id, raw_props,
  regexp_replace(
    regexp_replace(raw_props, '(?s)^```[^\\n]*\\n(.*?)\\n?```.*$',
                   '\\1'),
    '//[^\\n]*', '', 'g') AS uncommented
 FROM (
  SELECT event_id,
   CASE WHEN event_id % 3 = 0
    THEN '```json' || chr(10) || props || ' // trailing note'
         || chr(10) || '```'
    ELSE props END AS raw_props
  FROM events WHERE event_id % 5 <> 0))
""",
    # --- similarity search ---------------------------------------------
    "cosine_topk": f"""
WITH {_ANN_CTE},
 scored AS (
  SELECT query_id, neighbor_id,
   list_dot_product(q, v) /
     (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(v, v)))
     AS cos
  FROM corpus CROSS JOIN queries)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank
FROM (SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 10
""",
    "cosine_near_dup": f"""
WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 300)
SELECT vec_a, vec_b, {sql_pround("raw_cos", 6)} AS cos_sim
FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_dot_product(a.v, b.v) /
         (sqrt(list_dot_product(a.v, a.v))
          * sqrt(list_dot_product(b.v, b.v))) AS raw_cos
      FROM base a JOIN base b ON a.vec_id < b.vec_id)
WHERE raw_cos >= 0.35
""",
    "bucketed_near_dup": f"""
WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
 tb AS ({_lsh_tables_cte(_ND_PLANES, 'base', 'vec_id')}),
 cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM tb a JOIN tb b
            ON a.t = b.t AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id),
 scored AS (
  SELECT vec_a, vec_b,
   list_dot_product(va.v, vb.v) /
     (sqrt(list_dot_product(va.v, va.v))
      * sqrt(list_dot_product(vb.v, vb.v))) AS raw_cos
  FROM cand JOIN base va ON va.vec_id = cand.vec_a
            JOIN base vb ON vb.vec_id = cand.vec_b)
SELECT vec_a, vec_b, {sql_pround("raw_cos", 6)} AS cos_sim
FROM scored WHERE raw_cos >= 0.35
""",
    "bucketed_topk": f"""
WITH {_ANN_CTE},
 cb AS (SELECT neighbor_id, v,
         {_BUCKET_EXPR.format(col='v')} AS bucket FROM corpus),
 qb AS (SELECT query_id, q,
         {_BUCKET_EXPR.format(col='q')} AS bucket FROM queries),
 scored AS (
  SELECT query_id, neighbor_id,
   list_dot_product(q, v) /
     (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(v, v)))
     AS cos
  FROM cb JOIN qb ON cb.bucket = qb.bucket)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank
FROM (SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
""",
    # the registered query exercises the SAMPLED-training contract
    # (scale path): corpus and seeds drawn from the same md5-prefix
    # Bernoulli sample on both sides
    "kmeans_codebook": f"""
WITH {_kmeans_ctes(S.KMEANS_SAMPLE_HEX)}
SELECT centroid_id, CAST(i - 1 AS INT) AS dim_idx, val AS value
FROM (SELECT centroid_id,
       unnest(generate_series(1, len(c))) AS i, unnest(c) AS val
      FROM cents)
""",
    "ivf_assign": f"""
WITH corpus AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
{_IVF_CTE}
SELECT neighbor_id AS vec_id, centroid_id FROM corpus_assign
""",
    "ivf_topk": f"""
WITH {_ANN_CTE},
{_IVF_CTE},
probes AS (
  SELECT query_id, q, centroid_id FROM (
    SELECT query_id, q, centroid_id,
     row_number() OVER (PARTITION BY query_id ORDER BY
       list_dot_product(q, c) /
         (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(c, c)))
       DESC, centroid_id ASC) AS crn
    FROM queries CROSS JOIN cents)
  WHERE crn <= {S.N_PROBE}),
scored AS (
  SELECT p.query_id, a.neighbor_id,
   list_dot_product(p.q, a.v) /
     (sqrt(list_dot_product(p.q, p.q))
      * sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM corpus_assign a JOIN probes p USING (centroid_id))
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank
FROM (SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
""",
    "bpe_merges": _bpe_oracle(),
    "bpe_vocab": _bpe_vocab_oracle(),
    # mirrors similarity.semdedup: trained-codebook assignment (the
    # exact ivf_assign CTE chain), cluster-local pairs, drop the
    # higher id of any pair at cosine >= the identical literal
    "semdedup": f"""
WITH corpus AS (SELECT CAST(vec_id AS BIGINT) AS neighbor_id,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
{_IVF_CTE},
 pairs AS (
  SELECT a.neighbor_id AS ia, b.neighbor_id AS ib
  FROM corpus_assign a JOIN corpus_assign b
    ON a.centroid_id = b.centroid_id
   AND a.neighbor_id < b.neighbor_id
  WHERE {_COS_CD.format(a="a.v", b="b.v")} >= {S.SEMDEDUP_COS!r}),
 drops AS (SELECT DISTINCT ib FROM pairs)
SELECT ca.neighbor_id AS vec_id, ca.centroid_id,
 (d.ib IS NULL) AS kept
FROM corpus_assign ca LEFT JOIN drops d ON d.ib = ca.neighbor_id
""",
    # mirrors textops.fuzzy_decontaminate: corpus sigs vs the
    # held-out set's sigs (same _MINHASH_CTE both sides), exact
    # shingle-Jaccard verify on candidates, per-doc rollup with the
    # identical rounded threshold comparison
    "fuzzy_decontaminate": f"""
WITH {_MINHASH_CTE},
 live AS (SELECT * FROM sigs WHERE minhash IS NOT NULL),
 bench AS (SELECT doc_id AS bench_id, band, minhash FROM live
           WHERE doc_id < {T.DECONTAM_BENCH_IDS}),
 cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.bench_id AS doc_b
          FROM live a JOIN bench b
            ON a.band = b.band AND a.minhash = b.minhash),
 sh AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s
        FROM shingled),
 sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
 inter AS (SELECT doc_a, doc_b, COUNT(*) AS n_inter
           FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
                     JOIN sh sb ON sb.doc_id = cand.doc_b
                               AND sb.s = sa.s
           GROUP BY 1, 2),
 hits AS (SELECT doc_a, jaccard FROM (
   SELECT doc_a,
    {sql_pround("n_inter / (sa.n_sh + sb.n_sh - n_inter)", 6)}
      AS jaccard
   FROM inter JOIN sizes sa ON sa.doc_id = inter.doc_a
              JOIN sizes sb ON sb.doc_id = inter.doc_b)
  WHERE jaccard >= {T.DECONTAM_FUZZY_JACCARD!r}),
 per_doc AS (SELECT doc_a, CAST(COUNT(*) AS BIGINT) AS n,
              MAX(jaccard) AS mx FROM hits GROUP BY doc_a)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
 CAST(COALESCE(p.n, 0) AS BIGINT) AS n_bench_matches,
 COALESCE(p.mx, 0.0) AS max_jaccard,
 COALESCE(p.n, 0) > 0 AS is_contaminated
FROM documents d LEFT JOIN per_doc p ON p.doc_a = d.doc_id
""",
}


def _x_oracles() -> Dict[str, str]:
    """Oracles for the extraction/media tail, over the materialized
    kernel-output parquet (``oracle_golden.py``). Paths are absolute —
    the driver's DuckDB connection runs from an arbitrary cwd."""
    docs = G.golden_path("x_docs.parquet")
    links = G.golden_path("x_links.parquet")
    metas = G.golden_path("x_metas.parquet")
    elements = G.golden_path("x_elements.parquet")
    pairs = G.golden_path("x_pairs.parquet")
    config = G.golden_path("x_field_config.parquet")
    features = G.golden_path("x_media_features.parquet")
    frames = G.golden_path("x_media_frames.parquet")
    resize = G.golden_path("x_media_resize.parquet")
    real = G.golden_path("x_media_real.parquet")
    from .operators.multimodal import (
        MEDIA_NEAR_DUP_THRESHOLD,
        media_lsh_planes as _media_planes,
    )
    from .operators.llm_infer import (
        FAKE_MODEL_TAG,
        PROMPT_FOOTER,
        PROMPT_HEADER,
    )

    prompts_sql = f"""
  SELECT url, '{PROMPT_HEADER}'
         || string_agg(label || ': ' || value, chr(10)
                       ORDER BY pair_idx)
         || '{PROMPT_FOOTER}' AS prompt,
         COUNT(*) AS n_pairs
  FROM read_parquet('{pairs}') GROUP BY url"""

    band = ("CASE WHEN confidence >= 0.9 THEN '#2e7d32' "
            "WHEN confidence >= 0.7 THEN '#ef6c00' "
            "ELSE '#c62828' END")

    def px(col: str) -> str:
        return f"CAST(CAST(ceil({col}) AS BIGINT) AS VARCHAR)"

    out = {
        "x_extract_pages": f"""
SELECT url, doc_kind, page_count, extracted_text, n_elements, n_pairs
FROM read_parquet('{docs}')
""",
        "x_head_meta": f"""
SELECT url, link_canonical, noindex, title, published
FROM read_parquet('{docs}')
""",
        "x_canonical_groups": f"""
SELECT COALESCE(link_canonical, url) AS canonical_target,
       COUNT(*) AS n_aliases, MIN(url) AS keep_url
FROM read_parquet('{docs}') GROUP BY 1
""",
        "x_published_mix": f"""
SELECT COALESCE(TRY_CAST(substr(published, 1, 4) AS INT), 0)
         AS pub_year,
       COUNT(*) AS n_docs
FROM read_parquet('{docs}') GROUP BY 1
""",
        "x_extract_scanned": f"""
SELECT url, doc_kind, page_count, extracted_text, n_elements, n_pairs
FROM read_parquet('{G.golden_path("x_scan_docs.parquet")}')
""",
        # match → clean → validate re-derived in SQL, mirroring
        # fields_native.py (priority 0 = pair matches outrank line
        # fallbacks; first match = lowest emission index; validation =
        # the reference's five error rules, is_valid = none fired)
        "x_extract_fields": f"""
WITH pair_c AS (
  SELECT url, 0 AS priority, pair_idx AS match_idx,
         label AS match_text, value, confidence, page, 'pair' AS source
  FROM read_parquet('{pairs}')),
 line_c AS (
  SELECT url, 1 AS priority, elem_idx AS match_idx,
         text AS match_text, text AS value, confidence,
         page_num AS page, 'line' AS source
  FROM read_parquet('{elements}')),
 cands AS (SELECT * FROM pair_c UNION ALL SELECT * FROM line_c),
 cfg AS (SELECT * FROM read_parquet('{config}')),
 matched AS (
  SELECT c.url, f.field_name, f.vtype, f.vmin, f.vmax, f.pattern,
         c.value, c.confidence, c.page, c.source,
         row_number() OVER (PARTITION BY c.url, f.field_name
                            ORDER BY c.priority, c.match_idx) AS rn
  FROM cands c JOIN cfg f
    ON len(list_filter(f.candidates,
           x -> contains(lower(c.match_text), x))) > 0),
 normed AS (
  SELECT *, TRY_CAST(replace(replace(value, '.', ''), ',', '.')
                     AS DOUBLE) AS as_num
  FROM matched WHERE rn = 1)
SELECT url, field_name, value, confidence, CAST(page AS INT) AS page,
 source,
 ((NOT (vtype = 'number' AND as_num IS NULL))
  AND (NOT (vtype = 'boolean'
            AND lower(value) NOT IN ('true', 'false')))
  AND (NOT (vtype = 'number' AND vmin IS NOT NULL
            AND as_num IS NOT NULL AND as_num < vmin))
  AND (NOT (vtype = 'number' AND vmax IS NOT NULL
            AND as_num IS NOT NULL AND as_num > vmax))
  AND (NOT (pattern IS NOT NULL
            AND NOT regexp_matches(value, pattern)))) AS is_valid
FROM normed
""",
        "x_extract_lineage": f"""
WITH docs AS (
  SELECT n_elements, n_pairs, bytes_in,
         ascii(substr(md5(url), 31, 1)) AS ah,
         ascii(substr(md5(url), 32, 1)) AS al
  FROM read_parquet('{docs}'))
SELECT
 CAST(((CASE WHEN ah >= 97 THEN ah - 87 ELSE ah - 48 END) * 16
       + (CASE WHEN al >= 97 THEN al - 87 ELSE al - 48 END)) % 8
   AS INT) AS partition_id,
 COUNT(*) AS n_docs,
 CAST(SUM(n_elements) AS BIGINT) AS n_elements,
 CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
 CAST(SUM(bytes_in) AS BIGINT) AS bytes_in
FROM docs GROUP BY 1
""",
        "x_media_features": f"""
SELECT media_id, kind, n_bytes, feat_json, mean_val, std_val,
       width, height, n_frames
FROM read_parquet('{features}')
""",
        "x_media_frames": f"""
SELECT media_id, frame_idx, md5(hex(frame)) AS frame_md5,
       CAST(octet_length(frame) AS INT) AS frame_bytes, width, height
FROM read_parquet('{frames}')
""",
        "x_media_resize": f"""
SELECT media_id, width, height, md5(hex(pixels)) AS pixels_md5,
       CAST(octet_length(pixels) AS INT) AS n_bytes
FROM read_parquet('{resize}')
""",
        "x_media_real": f"""
SELECT media_id, kind, n_bytes, feat_json, mean_val, std_val,
       width, height, n_frames
FROM read_parquet('{real}')
""",
        "x_annotations_png": f"""
SELECT url, page_num, n_elements, png_md5, png_bytes
FROM read_parquet('{G.golden_path("x_annotations_png.parquet")}')
""",
        "x_media_real_frames": f"""
SELECT media_id, frame_idx, md5(hex(frame)) AS frame_md5,
       CAST(octet_length(frame) AS INT) AS frame_bytes, width, height
FROM read_parquet('{G.golden_path("x_media_real_frames.parquet")}')
""",
        "x_warc_pages": f"""
SELECT url, CAST(epoch_us(warc_ts) AS BIGINT) AS warc_us,
       html_md5, n_bytes, http_status, mime, charset, content_encoding,
       redirect_to, x_robots_tag,
       warc_file, record_idx
FROM read_parquet('{G.golden_path("x_warc_pages.parquet")}')
""",
        "x_warc_sliced": f"""
SELECT url, CAST(epoch_us(warc_ts) AS BIGINT) AS warc_us,
       html_md5, n_bytes, http_status, mime, charset, content_encoding,
       redirect_to, x_robots_tag,
       warc_file, "offset"
FROM read_parquet('{G.golden_path("x_warc_pages.parquet")}')
""",
        # the WET record re-assembled from the kernel goldens: header
        # order/CRLFs mirror wet_record_col, WARC-Date rebuilt from
        # epoch micros, Content-Length = strlen (UTF-8 BYTES)
        "x_wet_records": f"""
WITH rec AS (
  SELECT url,
    'WARC/1.0' || E'\\r\\n' ||
    'WARC-Type: conversion' || E'\\r\\n' ||
    'WARC-Target-URI: ' || url || E'\\r\\n' ||
    'WARC-Date: ' ||
      strftime(make_timestamp(warc_us), '%Y-%m-%dT%H:%M:%SZ') ||
      E'\\r\\n' ||
    'WARC-Record-ID: <urn:uuid:' || md5(url) || '>' || E'\\r\\n' ||
    'Content-Type: text/plain' || E'\\r\\n' ||
    'Content-Length: ' || CAST(strlen(extracted_text) AS VARCHAR) ||
    E'\\r\\n\\r\\n' || extracted_text || E'\\r\\n\\r\\n' AS rec
  FROM read_parquet('{docs}'))
SELECT url, md5(rec) AS rec_md5,
       CAST(strlen(rec) AS INT) AS rec_bytes
FROM rec
""",
        # the metas surface vs the kernel golden (distributed-plumbing
        # gate, same pattern as x_extract_pages)
        "x_meta_tags": f"""
SELECT url, meta_idx, name, content
FROM read_parquet('{metas}')
""",
        # cross-document boilerplate strip: line frequency, threshold,
        # strip, ordered re-stitch — all re-derived in SQL
        "x_strip_boilerplate_lines": f"""
WITH lines AS (
  SELECT url,
    unnest(generate_series(
      1, len(str_split(extracted_text, chr(10))))) AS pos,
    unnest(str_split(extracted_text, chr(10))) AS line
  FROM read_parquet('{docs}')),
bl AS (
  SELECT line FROM lines WHERE trim(line) <> ''
  GROUP BY line HAVING COUNT(DISTINCT url) >= 10),
kept AS (
  SELECT l.url, l.pos, l.line
  FROM lines l LEFT JOIN bl USING (line) WHERE bl.line IS NULL),
agg AS (
  SELECT url, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY url)
SELECT d.url,
  CAST(len(str_split(d.extracted_text, chr(10))) AS INT) AS n_lines,
  CAST(len(str_split(d.extracted_text, chr(10)))
       - COALESCE(a.n_kept, 0) AS INT) AS n_stripped,
  COALESCE(a.clean_text, '') AS clean_text
FROM read_parquet('{docs}') d LEFT JOIN agg a USING (url)
""",
        # global first-occurrence line dedup: winner via row_number
        # over (line) ordered by (url, pos); blanks always survive
        "x_line_dedup": f"""
WITH lines AS (
  SELECT url,
    unnest(generate_series(
      1, len(str_split(extracted_text, chr(10))))) AS pos,
    unnest(str_split(extracted_text, chr(10))) AS line
  FROM read_parquet('{docs}')),
ranked AS (
  SELECT url, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY url, pos) AS rn
  FROM lines WHERE trim(line) <> ''),
kept AS (
  SELECT url, pos, line FROM ranked WHERE rn = 1
  UNION ALL
  SELECT url, pos, line FROM lines WHERE trim(line) = ''),
agg AS (
  SELECT url, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY url)
SELECT d.url,
  CAST(len(str_split(d.extracted_text, chr(10))) AS INT) AS n_lines,
  CAST(len(str_split(d.extracted_text, chr(10)))
       - COALESCE(a.n_kept, 0) AS INT) AS n_removed,
  COALESCE(a.clean_text, '') AS clean_text
FROM read_parquet('{docs}') d LEFT JOIN agg a USING (url)
""",
        # C4 line rules + page verdict, every rule re-derived with
        # DuckDB list lambdas (same trim/right/split/translate
        # primitives the Spark expressions compile to)
        "x_c4_filter": f"""
WITH base AS (
  SELECT url, extracted_text AS text,
         str_split(extracted_text, chr(10)) AS rawl,
         {_c4_keptl_sql("extracted_text")} AS keptl
  FROM read_parquet('{docs}')),
c AS (SELECT url, text, rawl, keptl,
             -- duckdb array_to_string([]) is NULL; spark's is ''
             COALESCE(array_to_string(keptl, chr(10)), '') AS clean
      FROM base)
SELECT url,
 CAST(len(rawl) AS INT) AS n_lines,
 CAST(len(keptl) AS INT) AS n_kept,
 CAST(length(clean) - length(translate(clean, '.!?', '')) AS INT)
   AS n_sentences,
 {_c4_keep_sql("keptl", "clean", "text")} AS keep,
 clean AS clean_text
FROM c
""",
        # the composed content gate: soft404/C4 expressions carried
        # THROUGH the shared robots-eval CTE chain — structural reuse
        # on all three rule families
        "x_content_gate": f"""
WITH u0 AS (
  SELECT url, noindex, title, extracted_text AS text,
         {_c4_keptl_sql("extracted_text")} AS keptl
  FROM read_parquet('{docs}')),
u1 AS (SELECT url, noindex, title, text, keptl,
        COALESCE(array_to_string(keptl, chr(10)), '') AS clean
       FROM u0),
u AS (SELECT url, noindex,
       {_soft404_sql("title", "text")} AS soft404,
       {_c4_keep_sql("keptl", "clean", "text")} AS c4_keep
      FROM u1),
{_robots_eval_ctes(carry="url, noindex, soft404, c4_keep")}
SELECT url FROM ev
WHERE best.allow AND NOT noindex AND NOT soft404 AND c4_keep
""",
        # soft-404 phrase/length rule re-derived over the docs golden;
        # pattern literals shared with textops.SOFT404_PATTERNS
        "x_soft404": f"""
SELECT url,
 CAST(length(COALESCE(extracted_text, '')) AS INT) AS n_chars,
 ({_soft404_or("lower(COALESCE(title, ''))")}) AS title_hit,
 ({_soft404_or("lower(COALESCE(extracted_text, ''))")}) AS body_hit,
 {_soft404_sql("title", "extracted_text")} AS soft404
FROM read_parquet('{docs}')
""",
        # the WAT record re-assembled from the docs+links goldens:
        # JSON via to_json-escaped scalars concatenated in struct
        # order, null/empty fields omitted (Jackson ignoreNullFields),
        # links ordered by link_idx with the RAW href, Refers-To =
        # the WET/response id (md5(url)), Content-Length = payload
        # UTF-8 bytes
        "x_wat_records": f"""
WITH lobj AS (
  SELECT l.url, l.link_idx,
    '{{"path":' || CASE WHEN d.doc_kind = 'pdf'
        THEN '"Annot@/URI"' ELSE '"A@/href"' END
    || ',"url":' || to_json(l.href)
    || CASE WHEN l.anchor IS NOT NULL AND l.anchor <> ''
        THEN ',"text":' || to_json(l.anchor) ELSE '' END
    || CASE WHEN l.nofollow THEN ',"rel":"nofollow"' ELSE '' END
    || '}}' AS obj
  FROM read_parquet('{links}') l
  JOIN read_parquet('{docs}') d USING (url)),
larr AS (
  SELECT url,
         '[' || string_agg(obj, ',' ORDER BY link_idx) || ']' AS arr
  FROM lobj GROUP BY url),
mobj AS (
  SELECT url, meta_idx,
    '{{"name":' || to_json(name)
    || ',"content":' || to_json(content) || '}}' AS obj
  FROM read_parquet('{metas}')),
marr AS (
  SELECT url,
         '[' || string_agg(obj, ',' ORDER BY meta_idx) || ']' AS arr
  FROM mobj GROUP BY url),
hp AS (
  SELECT d.url,
    CASE WHEN title IS NOT NULL AND title <> ''
      THEN ',"Title":' || to_json(title) ELSE '' END ||
    CASE WHEN base_href IS NOT NULL AND base_href <> ''
      THEN ',"Base":' || to_json(base_href) ELSE '' END ||
    CASE WHEN link_canonical IS NOT NULL AND link_canonical <> ''
      THEN ',"Canonical":' || to_json(link_canonical) ELSE '' END ||
    CASE WHEN m.arr IS NOT NULL
      THEN ',"Metas":' || m.arr ELSE '' END AS h
  FROM read_parquet('{docs}') d LEFT JOIN marr m ON d.url = m.url),
pl AS (
  SELECT d.url, d.warc_us,
    '{{"Envelope":{{"Payload-Metadata":{{"HTML-Metadata":{{"Head":'
    || CASE WHEN hp.h = '' THEN '{{}}'
            ELSE '{{' || substr(hp.h, 2) || '}}' END
    || ',"Links":' || COALESCE(larr.arr, '[]')
    || '}}}}}}}}' AS payload
  FROM read_parquet('{docs}') d
  JOIN hp USING (url) LEFT JOIN larr USING (url)),
rec AS (
  SELECT url,
    'WARC/1.0' || E'\\r\\n' ||
    'WARC-Type: metadata' || E'\\r\\n' ||
    'WARC-Target-URI: ' || url || E'\\r\\n' ||
    'WARC-Date: ' ||
      strftime(make_timestamp(warc_us), '%Y-%m-%dT%H:%M:%SZ') ||
      E'\\r\\n' ||
    'WARC-Record-ID: <urn:uuid:' || md5(url || '#wat') || '>' ||
      E'\\r\\n' ||
    'WARC-Refers-To: <urn:uuid:' || md5(url) || '>' || E'\\r\\n' ||
    'Content-Type: application/json' || E'\\r\\n' ||
    'Content-Length: ' || CAST(strlen(payload) AS VARCHAR) ||
    E'\\r\\n\\r\\n' || payload || E'\\r\\n\\r\\n' AS rec
  FROM pl)
SELECT url, md5(rec) AS rec_md5,
       CAST(strlen(rec) AS INT) AS rec_bytes
FROM rec
""",
        "x_annotations": f"""
WITH ybased AS (
  -- HTML synthetic geometry is document-absolute (monotonic y); the
  -- overlay rebases it to page-local by the fixed page span, exactly
  -- like operators/annotate.py. PDF pages are already page-local.
  SELECT *, y1 - yoff AS yl1, y2 - yoff AS yl2 FROM (
    SELECT *, CASE WHEN doc_kind = 'html'
                   THEN (CAST(page_num AS DOUBLE) - 1)
                        * {float(_HTML_PAGE_SPAN)}
                   ELSE 0 END AS yoff
    FROM read_parquet('{elements}'))),
shaped AS (
  SELECT url, page_num, elem_idx,
   '<rect x="' || {px('x1')}
   || '" y="' || {px('yl1')}
   || '" width="' || {px('width')}
   || '" height="' || {px('height')}
   || '" fill="none" stroke="' || ({band})
   || '"/><text x="' || {px('x1')}
   || '" y="' || CAST(CAST(ceil(yl1) AS BIGINT) - 2 AS VARCHAR)
   || '" font-size="8">'
   || replace(replace(replace(
        (CASE WHEN length(text) > 30 THEN substr(text, 1, 30) || '...'
              ELSE text END),
        '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
   || '</text>' AS shape,
   CAST(ceil(x2) AS BIGINT) AS cx2, CAST(ceil(yl2) AS BIGINT) AS cy2
  FROM ybased),
 pp AS (
  SELECT url, page_num, COUNT(*) AS n_elements,
   string_agg(shape, chr(10) ORDER BY elem_idx) AS body,
   MAX(cx2) AS mx, MAX(cy2) AS my
  FROM shaped GROUP BY url, page_num)
SELECT url, page_num, n_elements,
 '<svg xmlns="http://www.w3.org/2000/svg" width="'
 || CAST(mx + 10 AS VARCHAR) || '" height="'
 || CAST(my + 10 AS VARCHAR) || '">' || chr(10) || body
 || chr(10) || '</svg>' AS svg
FROM pp
""",
        "x_llm_prompts": f"""
WITH p AS ({prompts_sql})
SELECT url, prompt, n_pairs FROM p
""",
        "x_llm_extract": f"""
WITH p AS ({prompts_sql})
SELECT url,
 '```json' || chr(10) || '{{"prompt_md5": "' || md5(prompt)
 || '", "prompt_chars": ' || CAST(length(prompt) AS VARCHAR)
 || '}}' || ' // {FAKE_MODEL_TAG}' || chr(10) || '```' AS response,
 md5(prompt) AS prompt_md5,
 CAST(length(prompt) AS INT) AS prompt_chars
FROM p
""",
        "x_confidence_stats": f"""
SELECT url, page_num, COUNT(*) AS n_elements,
 {sql_pround("CAST(SUM(CAST(confidence AS DECIMAL(18,4))) AS DOUBLE)"
             " / COUNT(*)", 6)} AS avg_confidence,
 CAST(SUM(CASE WHEN confidence >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
   AS n_high,
 CAST(SUM(CASE WHEN confidence >= 0.7 AND confidence < 0.9
          THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
 CAST(SUM(CASE WHEN confidence < 0.7 THEN 1 ELSE 0 END) AS BIGINT)
   AS n_low
FROM read_parquet('{elements}')
GROUP BY url, page_num
""",
        # candidates are bucket-local (multi-table hyperplane sign-LSH
        # generated from the SAME literals the Spark plan embeds) on
        # BOTH sides — the SQL mirrors the operator's pruning exactly
        "media_near_dup": f"""
WITH f AS (SELECT media_id, CAST(feat AS DOUBLE[]) AS v
           FROM read_parquet('{features}')),
 tb AS ({_lsh_tables_cte(_media_planes(), 'f', 'media_id')}),
 cand AS (SELECT DISTINCT a.media_id AS media_a,
                 b.media_id AS media_b
          FROM tb a JOIN tb b
            ON a.t = b.t AND a.bucket = b.bucket
               AND a.media_id < b.media_id),
 scored AS (
  SELECT media_a, media_b,
   list_dot_product(fa.v, fb.v) /
     (sqrt(list_dot_product(fa.v, fa.v))
      * sqrt(list_dot_product(fb.v, fb.v))) AS raw
  FROM cand JOIN f fa ON fa.media_id = cand.media_a
            JOIN f fb ON fb.media_id = cand.media_b)
SELECT media_a, media_b, {sql_pround("raw", 6)} AS cos_sim
FROM scored WHERE raw >= {MEDIA_NEAR_DUP_THRESHOLD}
""",
    }
    # G11 doc ⋈ fields stitch: the fields CTE IS the x_extract_fields
    # oracle (structural reuse — the match/clean/validate definition
    # can never drift between the two queries)
    out["x_processing_summary"] = f"""
WITH f AS ({out["x_extract_fields"]})
SELECT d.url, d.doc_kind, d.page_count, d.n_elements, d.n_pairs,
 CAST(COALESCE(ff.nf, 0) AS BIGINT) AS n_extracted_fields,
 CAST(COALESCE(ff.ne, 0) AS BIGINT) AS n_validation_errors
FROM read_parquet('{docs}') d
LEFT JOIN (SELECT url, COUNT(*) AS nf,
            SUM(CASE WHEN NOT is_valid THEN 1 ELSE 0 END) AS ne
           FROM f GROUP BY url) ff ON d.url = ff.url
"""
    return out


def build_queries() -> Dict[str, QueryFn]:
    q: Dict[str, QueryFn] = {
        # relational families
        "pricing_summary": R.pricing_summary,
        "value_banding": R.value_banding,
        "value_banding_salted": R.value_banding_salted,
        "latest_event_per_user": R.latest_event_per_user,
        "first_doc_containing": R.first_doc_containing,
        "recent_orders_page": R.recent_orders_page,
        "missing_event_types": R.missing_event_types,
        "clean_currency": R.clean_currency_col,
        "validate_dates": R.validate_dates,
        "validate_german_numbers": R.validate_german_numbers,
        "clean_labels": R.clean_labels,
        "pii_scrub": R.pii_scrub,
        "asof_join": R.asof_join_events,
        "time_rollup": R.time_rollup,
        "session_error_counts": R.session_error_counts,
        "parse_json_props": R.parse_json_props,
        "revenue_by_region_year": R.revenue_by_region_year,
        # dedup / text analysis
        "exact_dedup": lambda s, d: T.exact_dedup(R.load(s, d, "documents")),
        "jaccard_pairs": lambda s, d: T.jaccard_pairs(
            R.load(s, d, "documents")),
        "minhash_signatures": lambda s, d: T.minhash_signatures(
            R.load(s, d, "documents")),
        "minhash_candidates": lambda s, d: T.minhash_candidates(
            R.load(s, d, "documents")),
        "minhash_candidates_b4r2": lambda s, d: T.minhash_candidates(
            R.load(s, d, "documents"), n_bands=4, rows_per_band=2),
        "dedup_clusters": lambda s, d: T.dedup_clusters(
            R.load(s, d, "documents")),
        "verified_near_dup_pairs": lambda s, d: T.verified_near_dup_pairs(
            R.load(s, d, "documents")),
        "verified_dedup_clusters": lambda s, d: T.verified_near_dup_clusters(
            R.load(s, d, "documents")),
        "incremental_dedup": lambda s, d: T.incremental_dedup(
            R.load(s, d, "documents")),
        "sessionize_events": R.sessionize_events,
        "simhash": lambda s, d: T.simhash(R.load(s, d, "documents")),
        "simhash_candidates": lambda s, d: T.simhash_candidates(
            R.load(s, d, "documents")),
        "language_id": lambda s, d: T.language_id(
            R.load(s, d, "documents")),
        "quality_score": lambda s, d: T.quality_score(
            R.load(s, d, "documents")),
        "repetition_score": lambda s, d: T.repetition_score(
            R.load(s, d, "documents")),
        "token_counts": lambda s, d: T.token_counts(
            R.load(s, d, "documents")),
        "fingerprints": lambda s, d: T.fingerprints(
            R.load(s, d, "documents")),
        "shingle_jaccard_pairs": lambda s, d: T.shingle_jaccard_pairs(
            R.load(s, d, "documents")),
        "decontaminate": lambda s, d: T.decontaminate(
            R.load(s, d, "documents")),
        "dedup_keep_best": lambda s, d: T.dedup_keep_best(
            R.load(s, d, "documents")),
        "leakage_safe_split": lambda s, d: T.leakage_safe_split(
            R.load(s, d, "documents")),
        "bm25_topk": lambda s, d: T.bm25_topk(
            R.load(s, d, "documents")),
        "tfidf_top_terms": lambda s, d: T.tfidf_top_terms(
            R.load(s, d, "documents")),
        "duplicate_spans": lambda s, d: T.duplicate_spans(
            R.load(s, d, "documents")),
        "inverted_index": lambda s, d: T.inverted_index(
            R.load(s, d, "documents")),
        "candidate_pagerank": lambda s, d: T.candidate_pagerank(
            R.load(s, d, "documents")),
        "corpus_percentiles": lambda s, d: T.corpus_percentiles(
            R.load(s, d, "documents")),
        "approx_percentiles": lambda s, d: T.approx_corpus_percentiles(
            R.load(s, d, "documents")).drop("approx_value"),
        "weighted_sample": lambda s, d: T.weighted_sample(
            R.load(s, d, "documents")),
        "deterministic_sample": lambda s, d: T.deterministic_sample(
            R.load(s, d, "documents")),
        "bigram_lm_score": lambda s, d: T.bigram_lm_score(
            R.load(s, d, "documents")),
        "approx_user_cardinality": lambda s, d: R.approx_user_cardinality(
            R.load(s, d, "events")),
        "hot_keys": lambda s, d: R.hot_keys(
            R.load(s, d, "events")),
        "zorder_keys": lambda s, d: _zorder_keys(
            R.load(s, d, "events")),
        "pan_redaction": lambda s, d: R.redact_pans(
            R.load(s, d, "documents")),
        "unigram_lm_score": lambda s, d: T.unigram_lm_score(
            R.load(s, d, "documents")),
        "perplexity_buckets": lambda s, d: T.perplexity_buckets(
            R.load(s, d, "documents")),
        "bpe_merges": lambda s, d: T.bpe_merges(
            R.load(s, d, "documents")),
        "bpe_vocab": lambda s, d: T.bpe_vocab(
            R.load(s, d, "documents")),
        "fuzzy_decontaminate": lambda s, d: T.fuzzy_decontaminate(
            R.load(s, d, "documents")),
        "semdedup": lambda s, d: S.semdedup(
            R.load(s, d, "embeddings")),
        "qc_weights": lambda s, d: T.quality_classifier_weights(
            R.load(s, d, "documents")),
        "quality_classifier": lambda s, d: T.quality_classifier_scores(
            R.load(s, d, "documents")),
        "temperature_mixture": lambda s, d: T.temperature_mixture(
            R.load(s, d, "documents")),
        "pack_sequences": lambda s, d: T.pack_sequences(
            R.load(s, d, "documents")),
        "dsir_importance": lambda s, d: T.dsir_importance(
            R.load(s, d, "documents")),
        "remove_duplicate_spans": lambda s, d: T.remove_duplicate_spans(
            R.load(s, d, "documents")),
        "quality_filter": lambda s, d: T.quality_filter(
            R.load(s, d, "documents")),
        # web-URL crawl-log family (canonicalize + collapse)
        "canonical_pages": q_canonical_pages,
        "blocklist_filter": q_blocklist_filter,
        "domain_stats": q_domain_stats,
        "resolve_redirects": q_resolve_redirects,
        "incremental_canonical_pages": q_incremental_canonical_pages,
        "kmv_content_overlap": q_kmv_content_overlap,
        "robots_verdicts": q_robots_verdicts,
        "robots_sitemaps": q_robots_sitemaps,
        "x_indexable_crawl": x_indexable_crawl,
        "indexable_docs": q_indexable_docs,
        "sitemap_frontier": q_sitemap_frontier,
        "sitemap_frontier_bloom": q_sitemap_frontier_bloom,
        # similarity
        "cosine_topk": lambda s, d: S.cosine_topk(
            R.load(s, d, "embeddings")),
        "bucketed_topk": lambda s, d: S.bucketed_topk(
            R.load(s, d, "embeddings")),
        "cosine_near_dup": lambda s, d: S.cosine_near_dup(
            R.load(s, d, "embeddings")),
        "bucketed_near_dup": lambda s, d: S.bucketed_near_dup(
            R.load(s, d, "embeddings"),
            n_bits=ND_BITS, n_tables=ND_TABLES),
        "kmeans_codebook": lambda s, d: S.kmeans_codebook(
            R.load(s, d, "embeddings"),
            sample_rate_hex=S.KMEANS_SAMPLE_HEX).selectExpr(
                "centroid_id", "posexplode(c) AS (dim_idx, value)"),
        "ivf_assign": lambda s, d: S.ivf_assign(
            R.load(s, d, "embeddings")),
        "ivf_topk": lambda s, d: S.ivf_topk(
            R.load(s, d, "embeddings")),
        "pq_codebooks": lambda s, d: S.pq_codebooks(
            R.load(s, d, "embeddings"),
            sample_rate_hex=S.PQ_SAMPLE_HEX).selectExpr(
                "sub", "centroid_id",
                "posexplode(c) AS (dim_idx, value)"),
        "pq_encode": lambda s, d: S.pq_encode(
            R.load(s, d, "embeddings"),
            sample_rate_hex=S.PQ_SAMPLE_HEX),
        "pq_topk": lambda s, d: S.pq_topk(
            R.load(s, d, "embeddings"),
            sample_rate_hex=S.PQ_SAMPLE_HEX),
        "ivfpq_topk": lambda s, d: S.ivfpq_topk(
            R.load(s, d, "embeddings"),
            pq_sample_hex=S.PQ_SAMPLE_HEX),
        # extraction engine (oracled via golden materialization)
        "x_extract_pages": x_extract_pages,
        "x_extract_scanned": x_extract_scanned,
        "x_extract_fields": x_extract_fields,
        "x_extract_lineage": x_extract_lineage,
        # multimodal plumbing (codec is a documented stub; the
        # fake-decode path is fully oracled)
        "x_media_features": x_media_features,
        "x_media_frames": x_media_frames,
        "x_media_resize": x_media_resize,
        "x_media_real": x_media_real,
        "x_media_real_frames": x_media_real_frames,
        "media_near_dup": media_near_dup,
        # U2 batched-inference orchestration (deterministic seam)
        "x_llm_prompts": x_llm_prompts,
        "x_llm_extract": x_llm_extract,
        # raster PNG annotation sink (reference S8 parity, r5)
        "x_annotations_png": x_annotations_png,
        # metrics sidecar family (G10/G11)
        "x_confidence_stats": x_confidence_stats,
        "x_processing_summary": x_processing_summary,
        # annotation overlay sink
        "x_annotations": x_annotations,
        # WARC container ingestion (binaryFile listing + streaming
        # gzip-member parse; _sliced = offset-index splittable scan)
        "x_head_meta": x_head_meta,
        "x_canonical_groups": x_canonical_groups,
        "x_published_mix": x_published_mix,
        "x_warc_pages": x_warc_pages,
        "x_warc_sliced": x_warc_sliced,
        "x_wet_records": x_wet_records,
        "x_wat_records": x_wat_records,
        "x_strip_boilerplate_lines": x_strip_boilerplate_lines,
        "x_line_dedup": x_line_dedup,
        "x_c4_filter": x_c4_filter,
        "x_soft404": x_soft404,
        "x_content_gate": x_content_gate,
        "x_meta_tags": x_meta_tags,
        # web-graph family over the outlink surface
        "x_page_links": x_page_links,
        "x_host_graph": x_host_graph,
        "x_host_pagerank": x_host_pagerank,
        "x_anchor_topk": x_anchor_topk,
    }
    ordered = {name: q[name] for name in _DRIVER_PRIORITY}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    assert len(ordered) == len(q)
    return ordered


# Driver-coverage rotation (VERDICT r4 next-round item #1): the
# per-round driver verifies the FIRST ~50 registry entries, so the
# front of the registry carries (a) the six queries that have never
# had a driver CORRECTNESS row (they landed after the r4 driver check
# ran), (b) the 14 queries whose last green driver row is r2 (oldest,
# due a refresh), then (c) the 50 queries last checked in r3, oldest
# families first. The tail pushed past the cap is exactly the 50
# queries the r4 driver just verified green; every registered query
# still runs in the pytest mini-driver (tests/test_oracle_parity.py)
# each session regardless of position. Ordering derived from the
# union of CORRECTNESS_r0{2,3,4}.json: last-checked round per name,
# ascending (never < r2 < r3 < r4).
_DRIVER_PRIORITY = [
    # never driver-checked (VERDICT r4 "What's missing" #1)
    "approx_percentiles", "x_media_real_frames", "pack_sequences",
    "dsir_importance", "leakage_safe_split", "bm25_topk",
    # new in r5: raster PNG annotation sink (reference S8 parity)
    "x_annotations_png",
    # last green row is r2 — oldest, due refresh (media + ivf +
    # extraction/llm/annotation tails)
    "media_near_dup", "ivf_assign", "ivf_topk", "x_extract_pages",
    "x_extract_fields", "x_extract_lineage", "x_processing_summary",
    "x_media_features", "x_media_frames", "x_media_resize",
    "x_llm_prompts", "x_llm_extract", "x_confidence_stats",
    "x_annotations",
    # last green row is r3 — similarity/dedup/curation families first
    "bucketed_near_dup", "bucketed_topk", "cosine_near_dup",
    "cosine_topk",
    "minhash_signatures", "minhash_candidates", "minhash_candidates_b4r2",
    "exact_dedup", "jaccard_pairs", "shingle_jaccard_pairs",
    "dedup_clusters", "verified_near_dup_pairs", "verified_dedup_clusters",
    "dedup_keep_best", "duplicate_spans", "remove_duplicate_spans",
    "decontaminate", "deterministic_sample", "quality_filter",
    "unigram_lm_score", "temperature_mixture", "language_id",
    "quality_score", "repetition_score", "token_counts", "fingerprints",
    "tfidf_top_terms", "inverted_index", "candidate_pagerank",
    "corpus_percentiles", "simhash", "simhash_candidates",
    # last green row is r3 — stable relational family
    "pricing_summary", "value_banding", "value_banding_salted",
    "latest_event_per_user", "first_doc_containing", "recent_orders_page",
    "missing_event_types", "clean_currency", "validate_dates",
    "validate_german_numbers", "clean_labels", "pii_scrub", "asof_join",
    "time_rollup", "session_error_counts", "parse_json_props",
    "revenue_by_region_year", "sessionize_events",
    # last green row is r4 (just verified; freshest, so last)
    "kmeans_codebook", "x_media_real", "perplexity_buckets",
    "fuzzy_decontaminate", "semdedup", "bpe_merges", "bpe_vocab",
    "qc_weights", "quality_classifier", "pq_codebooks", "pq_encode",
    "pq_topk", "ivfpq_topk", "bigram_lm_score", "approx_user_cardinality",
    "pan_redaction", "hot_keys", "x_c4_filter", "x_soft404",
    "x_content_gate", "zorder_keys", "x_page_links", "x_host_graph",
    "x_host_pagerank", "x_anchor_topk", "x_warc_pages", "x_warc_sliced",
    "x_wet_records", "x_wat_records", "x_strip_boilerplate_lines",
    "x_line_dedup", "x_meta_tags", "x_head_meta", "x_canonical_groups",
    "x_published_mix", "canonical_pages", "blocklist_filter",
    "domain_stats", "resolve_redirects", "robots_verdicts",
    "robots_sitemaps", "x_indexable_crawl", "indexable_docs",
    "sitemap_frontier", "sitemap_frontier_bloom",
    "incremental_canonical_pages", "kmv_content_overlap",
    "weighted_sample", "x_extract_scanned", "incremental_dedup",
]


# the salted two-phase decomposition must equal the plain aggregation
# BY CONSTRUCTION — one oracle string, referenced twice, so an edit to
# the banding SQL can never drift the value-identity proof
ORACLES["value_banding_salted"] = ORACLES["value_banding"]

# A-ES weighted sampling: identical md5 draw (ascii hex fold), the
# same ln(u)/w key parenthesization, 9-digit snap, (key DESC, doc_id)
# tie-break
def _weighted_sample_sql() -> str:
    from .operators.portable import sql_hex_prefix_val
    from .operators.textops import _WS_HEX_CHARS, _WS_SPACE, WS_SAMPLE_K

    v = sql_hex_prefix_val(
        "md5('ws:' || CAST(doc_id AS VARCHAR))", _WS_HEX_CHARS)
    u = f"(CAST(({v} + 1) AS DOUBLE) / {_WS_SPACE!r})"
    w = "CAST((CAST(n_chars AS BIGINT) + 1) AS DOUBLE)"
    key = sql_pround(f"(ln({u}) / {w})", 9)
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       {key} AS es_key
FROM documents
ORDER BY es_key DESC, CAST(doc_id AS BIGINT)
LIMIT {WS_SAMPLE_K}
"""


ORACLES["weighted_sample"] = _weighted_sample_sql()

# CCNet head/middle/tail: the score CTE IS the unigram_lm_score
# oracle (structural reuse); the cutoff rule is the same
# integer-count comparison over the per-(lang, rounded-score)
# histogram the Spark side computes
ORACLES["perplexity_buckets"] = f"""
WITH u AS ({ORACLES["unigram_lm_score"]}),
 sc AS (SELECT u.doc_id, d.lang, u.cross_entropy
        FROM u JOIN documents d ON d.doc_id = u.doc_id),
 hist AS (SELECT lang, cross_entropy, COUNT(*) AS n
          FROM sc GROUP BY 1, 2),
 cum AS (SELECT lang, cross_entropy,
          SUM(n) OVER (PARTITION BY lang ORDER BY cross_entropy
                       ROWS UNBOUNDED PRECEDING) AS cum
         FROM hist),
 tot AS (SELECT lang, SUM(n) AS n_docs FROM hist GROUP BY lang),
 cuts AS (SELECT c.lang,
   MIN(CASE WHEN 3 * cum >= n_docs THEN cross_entropy END) AS c1,
   MIN(CASE WHEN 3 * cum >= 2 * n_docs THEN cross_entropy END) AS c2
  FROM cum c JOIN tot t USING (lang) GROUP BY c.lang)
SELECT sc.doc_id, sc.lang, sc.cross_entropy,
 CASE WHEN sc.cross_entropy <= cuts.c1 THEN 'head'
      WHEN sc.cross_entropy <= cuts.c2 THEN 'middle'
      ELSE 'tail' END AS ppl_bucket
FROM sc JOIN cuts USING (lang)
"""

# clusters over VERIFIED edges: the edge CTE IS the
# verified_near_dup_pairs oracle (structural reuse), followed by the
# same recursive-reachability closure dedup_clusters uses
ORACLES["verified_dedup_clusters"] = f"""
WITH RECURSIVE verified AS ({ORACLES["verified_near_dup_pairs"]}),
 und AS (SELECT doc_a AS a, doc_b AS b FROM verified
         UNION SELECT doc_b, doc_a FROM verified),
 reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
 roots AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_root
  FROM reach GROUP BY a)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
 CAST(COALESCE(r.cluster_root, d.doc_id) AS BIGINT) AS cluster_root
FROM documents d LEFT JOIN roots r ON r.doc_id = d.doc_id
"""

# append-mode dedup folds a delta into a committed clustering; its
# defining property is that the result EQUALS the batch clustering
# over the full corpus (docs never leave, components only merge), so
# the batch SQL above IS its oracle — the Spark side earns the row by
# computing it the delta-restricted way
ORACLES["incremental_dedup"] = ORACLES["verified_dedup_clusters"]

# the split hashes the CLUSTER ROOT (leakage guard: a verified
# near-dup cluster can never straddle splits); the clusters CTE is the
# exact verified_dedup_clusters oracle string, and the boundary hex
# literals are the same module constants the Spark side compares
ORACLES["leakage_safe_split"] = f"""
WITH clusters AS ({ORACLES["verified_dedup_clusters"]})
SELECT doc_id, cluster_root,
 CASE WHEN substr(md5(CAST(cluster_root AS VARCHAR)), 1, 2)
           < '{T.SPLIT_TEST_HEX}' THEN 'test'
      WHEN substr(md5(CAST(cluster_root AS VARCHAR)), 1, 2)
           < '{T.SPLIT_VALID_HEX}' THEN 'valid'
      ELSE 'train' END AS split
FROM clusters
"""

# keep-best composes the verified-clusters and quality oracles
# STRUCTURALLY (both CTEs are the exact oracle strings of their own
# queries), so neither definition can drift from its parts; the window
# ranks the ROUNDED quality, identical in every engine
ORACLES["dedup_keep_best"] = f"""
WITH clusters AS ({ORACLES["verified_dedup_clusters"]}),
 q AS (SELECT doc_id, quality FROM ({ORACLES["quality_score"]}))
SELECT doc_id, cluster_root, quality, rn = 1 AS is_canonical
FROM (SELECT c.doc_id, c.cluster_root, q.quality,
       row_number() OVER (PARTITION BY c.cluster_root
                          ORDER BY q.quality DESC, c.doc_id ASC) AS rn
      FROM clusters c JOIN q USING (doc_id))
"""

# mirrors textops.remove_duplicate_spans: same gram-postings chain as
# duplicate_spans, keep-first (min doc_id) semantics, reconstruction
# by ordered string_agg over surviving positions
ORACLES["remove_duplicate_spans"] = f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKS} AS toks
  FROM documents),
 g1 AS (SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {T.DUP_SPAN_W - 1})) AS i
        FROM toks WHERE len(toks) >= {T.DUP_SPAN_W}),
 grams AS (SELECT doc_id, i,
            {" || ' ' || ".join(f"toks[i+{j}]"
                                for j in range(T.DUP_SPAN_W))} AS gram
           FROM g1),
 keepers AS (SELECT gram, keeper
             FROM (SELECT gram, MIN(doc_id) AS keeper,
                    MAX(doc_id) AS hi FROM grams GROUP BY gram)
             WHERE keeper < hi),
 rem0 AS (SELECT g.doc_id,
           unnest(generate_series(g.i, g.i + {T.DUP_SPAN_W - 1})) AS pos
          FROM grams g JOIN keepers k USING (gram)
          WHERE g.doc_id > k.keeper),
 rem AS (SELECT DISTINCT doc_id, pos FROM rem0),
 positions AS (SELECT doc_id, toks,
                unnest(generate_series(1, len(toks))) AS pos
               FROM toks),
 survivors AS (SELECT p.doc_id, p.pos, p.toks[p.pos] AS tok
               FROM positions p LEFT JOIN rem r
                 ON p.doc_id = r.doc_id AND p.pos = r.pos
               WHERE r.pos IS NULL),
 clean AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
            string_agg(tok, ' ' ORDER BY pos) AS clean_text
           FROM survivors GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
 CAST(len(t.toks) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
 COALESCE(c.clean_text, '') AS clean_text
FROM toks t LEFT JOIN clean c USING (doc_id)
"""

# the composed filter chain embeds the exact oracle strings of its six
# components (same structural-reuse rule as dedup_keep_best), and the
# verdict thresholds are the identical decimal literals both sides
ORACLES["quality_filter"] = f"""
WITH lid AS (SELECT doc_id, lang_guess FROM ({ORACLES["language_id"]})),
 q AS (SELECT doc_id, quality FROM ({ORACLES["quality_score"]})),
 rep AS (SELECT doc_id, is_repetitive
         FROM ({ORACLES["repetition_score"]})),
 sp AS (SELECT doc_id, is_dup_span FROM ({ORACLES["duplicate_spans"]})),
 ct AS (SELECT doc_id, is_contaminated
        FROM ({ORACLES["decontaminate"]})),
 lm AS (SELECT doc_id, cross_entropy
        FROM ({ORACLES["unigram_lm_score"]}))
SELECT lid.doc_id,
 lang_guess <> 'unknown' AS lang_ok,
 quality >= {T.QF_MIN_QUALITY!r} AS quality_ok,
 COALESCE(cross_entropy >= {T.QF_CE_MIN!r}
          AND cross_entropy <= {T.QF_CE_MAX!r}, FALSE) AS lm_ok,
 COALESCE(is_repetitive, FALSE) AS is_repetitive,
 is_dup_span, is_contaminated,
 (lang_guess <> 'unknown') AND quality >= {T.QF_MIN_QUALITY!r}
   AND COALESCE(cross_entropy >= {T.QF_CE_MIN!r}
                AND cross_entropy <= {T.QF_CE_MAX!r}, FALSE)
   AND NOT COALESCE(is_repetitive, FALSE)
   AND NOT is_dup_span AND NOT is_contaminated
   AS kept
FROM lid JOIN q USING (doc_id) LEFT JOIN rep USING (doc_id)
 JOIN sp USING (doc_id) JOIN ct USING (doc_id)
 LEFT JOIN lm USING (doc_id)
"""

# range join over the session windows: the sess CTE IS the
# sessionize_events oracle (structural reuse — the window definition
# can never drift between the two queries)
ORACLES["session_error_counts"] = f"""
WITH sess AS ({ORACLES["sessionize_events"]}),
 err AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
SELECT s.user_id, CAST(s.session_idx AS INT) AS session_idx,
 CAST(COUNT(e.event_id) AS BIGINT) AS n_errors
FROM sess s LEFT JOIN err e
  ON e.ts >= s.t_start AND e.ts <= s.t_end
GROUP BY 1, 2
"""


def _canon_chain(src_cte: str, pfx: str, out: str,
                 carry: str) -> str:
    """One CTE chain applying the canonicalization rule to the ``url``
    column of ``src_cte``; emits CTE ``out`` with ``{carry}`` plus
    canonical_host / canonical_url. Prefixed CTE names let one oracle
    run the chain twice (e.g. over redirect targets)."""
    from .operators.weburl import DEFAULT_PORTS, TRACKING_KEYS

    trk = ", ".join(f"'{k}'" for k in TRACKING_KEYS)
    dflt = " OR ".join(f"(scheme = '{s}' AND port = '{p}')"
                       for s, p in DEFAULT_PORTS)
    return f"""
{pfx}1 AS (SELECT *, split_part(url, '#', 1) AS base FROM {src_cte}),
{pfx}2 AS (SELECT *,
        lower(regexp_extract(base,
              '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(base, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       FROM {pfx}1),
{pfx}3 AS (SELECT *, split_part(rest, '/', 1) AS hostport,
        substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
       FROM {pfx}2),
{pfx}4 AS (SELECT *,
        regexp_replace(lower(split_part(hostport, ':', 1)),
                       '^www\\.', '') AS host,
        regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        split_part(pathq, '?', 1) AS path0,
        CASE WHEN strpos(pathq, '?') > 0
             THEN substr(pathq, strpos(pathq, '?') + 1)
             ELSE '' END AS qraw
       FROM {pfx}3),
{pfx}5 AS (SELECT *,
        regexp_replace(regexp_replace(path0, '/index\\.html$', '/'),
                       '/+$', '') AS pstrip,
        -- array_to_string of an EMPTY list is NULL in DuckDB (Spark's
        -- array_join gives '') — coalesce to keep the || chain non-NULL
        COALESCE(array_to_string(
          list_sort(list_filter(string_split(qraw, '&'),
            q -> q <> ''
                 AND NOT starts_with(split_part(q, '=', 1), 'utm_')
                 AND split_part(q, '=', 1) NOT IN ({trk}))),
          '&'), '') AS qcanon,
        CASE WHEN port = '' OR {dflt}
             THEN '' ELSE ':' || port END AS portc
       FROM {pfx}4),
{out} AS (SELECT {carry},
        host AS canonical_host,
        scheme || '://' || host || portc
          || CASE WHEN pstrip = '' THEN '/' ELSE pstrip END
          || CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END
          AS canonical_url
       FROM {pfx}5)"""


def _weburl_ctes(visits_path: str) -> str:
    """Independent DuckDB derivation of the weburl canonicalization
    rule (operators/weburl.py module docstring, rules 1-5). Only the
    literal constants (tracking keys, default ports) are shared with
    the Spark implementation — the parsing/normalization logic is
    written twice on purpose, so the hash-compare checks the rule."""
    return (f"""
v AS (SELECT * FROM read_parquet('{visits_path}')),"""
            + _canon_chain(
                "v", "p", "canon",
                "visit_id, url, warc_ts, fetch_status, content_sha, "
                "redirect_to"))


def _canonical_pages_sql(visits_path: str, extra_where: str = "") -> str:
    return f"""
WITH {_weburl_ctes(visits_path)}
SELECT canonical_url, canonical_host,
 COUNT(*) AS n_visits,
 COUNT(DISTINCT url) AS n_variants,
 COUNT(DISTINCT content_sha) AS n_revisions,
 CAST(epoch(MIN(warc_ts)) AS BIGINT) AS first_seen_epoch,
 CAST(epoch(MAX(warc_ts)) AS BIGINT) AS last_seen_epoch,
 max_by(url, warc_ts) AS last_raw_url,
 max_by(content_sha, warc_ts) AS last_sha
FROM canon WHERE fetch_status = 200{extra_where}
GROUP BY canonical_url, canonical_host
"""


def _sitemap_frontier_bloom_sql(visits_path: str,
                                sitemap_path: str) -> str:
    from .operators.weburl import BLOOM_K, BLOOM_WIDTH

    sfx = ", ".join(f"'#{i}'" for i in range(BLOOM_K))
    exists = "\n    AND ".join(
        f"EXISTS (SELECT 1 FROM seenslots s WHERE s.pos = "
        f"substr(md5(sc.canonical_url || '#{i}'), 1, {BLOOM_WIDTH}))"
        for i in range(BLOOM_K))
    return f"""
WITH sv AS (SELECT DISTINCT url FROM read_parquet('{visits_path}')),
{_canon_chain("sv", "p", "vcanon", "url")},
sf AS (SELECT * FROM read_parquet('{sitemap_path}')),
blocks AS (SELECT host,
            unnest(regexp_extract_all(xml, '<url>.*?</url>')) AS b
           FROM sf),
locs AS (SELECT host,
          regexp_extract(b, '<loc>([^<]*)</loc>', 1) AS url,
          NULLIF(regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1),
                 '') AS lastmod
         FROM blocks
         WHERE regexp_extract(b, '<loc>([^<]*)</loc>', 1) <> ''),
{_canon_chain("locs", "s", "scanon", "url, lastmod")},
seenslots AS (SELECT DISTINCT
                substr(md5(v.canonical_url || sx.sfx), 1,
                       {BLOOM_WIDTH}) AS pos
              FROM vcanon v,
                   (SELECT unnest([{sfx}]) AS sfx) sx),
fresh AS (SELECT * FROM scanon sc
          WHERE NOT ({exists}))
SELECT canonical_url, canonical_host,
       CAST(MAX(CAST(lastmod AS DATE)) AS VARCHAR) AS lastmod,
       COUNT(*) AS n_declared
FROM fresh GROUP BY 1, 2
"""


def _resolve_redirects_sql(visits_path: str, max_hops: int = 4) -> str:
    hops = []
    prev = "u0"
    for i in range(1, max_hops + 1):
        hops.append(f"""
u{i} AS (SELECT u.url, COALESCE(e.dst, u.final_url) AS final_url,
         u.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS hops
        FROM {prev} u LEFT JOIN edges e ON u.final_url = e.src),""")
        prev = f"u{i}"
    steps = "".join(hops)
    rchain = _canon_chain("redir", "r", "rcanon", "src_url")
    return f"""
WITH {_weburl_ctes(visits_path)},
redir AS (SELECT canonical_url AS src_url, redirect_to AS url
          FROM canon
          WHERE fetch_status BETWEEN 300 AND 399
            AND redirect_to IS NOT NULL),{rchain},
edges AS (SELECT src_url AS src, MIN(canonical_url) AS dst
          FROM rcanon WHERE src_url <> canonical_url
          GROUP BY src_url),
u0 AS (SELECT DISTINCT canonical_url AS url,
              canonical_url AS final_url, 0 AS hops FROM canon),{steps}
fin AS (SELECT u.url, u.final_url, u.hops,
               (e.src IS NULL) AS resolved
        FROM {prev} u LEFT JOIN edges e ON u.final_url = e.src)
SELECT url, final_url, CAST(hops AS INT) AS hops, resolved FROM fin
"""


def _robots_eval_ctes(carry: str) -> str:
    """CTE chain ``u``(url, …carry) → ``ev``(…carry, canonical_host,
    best): canonicalize, pick the host's agent group (spec beats
    ``*``), longest-match with Allow winning ties via
    list_filter/list_reduce. Shared by every robots-consuming oracle
    so the evaluation cannot drift between them."""
    cc = ", ".join("c." + col.strip() for col in carry.split(","))
    return f"""{_canon_chain("u", "p", "canon", carry + ", pathq")},
rob AS (SELECT * FROM read_parquet('{G.golden_path("robots.parquet")}')
        WHERE agent IN ('cos-crawler', '*')),
g AS (SELECT host,
       list(struct_pack(len := rule_len, allow := allow, rx := rx))
         FILTER (WHERE agent = 'cos-crawler') AS spec,
       list(struct_pack(len := rule_len, allow := allow, rx := rx))
         FILTER (WHERE agent = '*') AS star
      FROM rob GROUP BY host),
j AS (SELECT {cc}, c.canonical_host,
       CASE WHEN c.pathq = '' THEN '/' ELSE c.pathq END AS path,
       CASE WHEN len(g.spec) > 0 THEN g.spec ELSE g.star END AS rules
      FROM canon c LEFT JOIN g ON c.canonical_host = g.host),
ev AS (SELECT {carry}, canonical_host,
        list_reduce(
          list_prepend({{'len': -1, 'allow': true}},
            list_transform(
              list_filter(COALESCE(rules, []),
                          r -> regexp_matches(path, r.rx)),
              r -> {{'len': r.len, 'allow': r.allow}})),
          (acc, r) -> CASE WHEN r.len > acc.len
                           OR (r.len = acc.len AND r.allow
                               AND NOT acc.allow)
                      THEN r ELSE acc END) AS best
       FROM j)"""


def _sql_kmv_hexval(expr: str, n_chars: int) -> str:
    """DuckDB twin of ``weburl._kmv_hexval`` — one shared definition
    (``portable.sql_hex_prefix_val``), not a second copy that can
    drift (ADVICE r4)."""
    from .operators.portable import sql_hex_prefix_val

    return sql_hex_prefix_val(expr, n_chars)


def _kmv_overlap_sql(visits_path: str) -> str:
    """DuckDB twin of ``weburl.kmv_content_overlap``: recompute the
    two KMV sketches from the raw visits golden (same md5 +
    lexicographic top-K rule) and replay the identical estimator
    expressions — exact-while-absorbed CASE, (K-1)·2^60/h_K
    otherwise, Jaccard from the union sketch — in the same IEEE
    operation order. The exact auditor columns re-derive from plain
    COUNT(DISTINCT ...)."""
    from .operators.weburl import _KMV_HEX_CHARS, _KMV_SPACE, KMV_K

    k = KMV_K
    cut = G.X_N_VISITS // 2
    scale = f"({float(k - 1)!r} * {_KMV_SPACE!r})"
    bound = 4.0 / float((k - 2) ** 0.5)

    def est(arr: str, n: str) -> str:
        kth = _sql_kmv_hexval(f"{arr}[{k}]", _KMV_HEX_CHARS)
        return (f"CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE) "
                f"ELSE {scale} / CAST({kth} AS DOUBLE) END")

    est_a = est("ska", "len(ska)")
    est_b = est("skb", "len(skb)")
    est_union = est("union_k", "n_merged")
    jacc = "(CAST(in_both AS DOUBLE) / CAST(ku AS DOUBLE))"
    est_inter = f"({jacc} * ({est_union}))"
    return f"""
WITH ok AS (SELECT visit_id, content_sha
            FROM read_parquet('{visits_path}')
            WHERE fetch_status = 200),
pa AS (SELECT DISTINCT md5(content_sha) AS h FROM ok
       WHERE visit_id < {cut}),
pb AS (SELECT DISTINCT md5(content_sha) AS h FROM ok
       WHERE visit_id >= {cut}),
ska_t AS (SELECT list(h ORDER BY h) AS ska
          FROM (SELECT h FROM pa ORDER BY h LIMIT {k})),
skb_t AS (SELECT list(h ORDER BY h) AS skb
          FROM (SELECT h FROM pb ORDER BY h LIMIT {k})),
ex AS (SELECT
  (SELECT COUNT(DISTINCT content_sha) FROM ok
   WHERE visit_id < {cut}) AS exact_a,
  (SELECT COUNT(DISTINCT content_sha) FROM ok
   WHERE visit_id >= {cut}) AS exact_b,
  (SELECT COUNT(DISTINCT content_sha) FROM ok) AS exact_union),
m AS (SELECT ska, skb,
       list_slice(list_sort(list_distinct(list_concat(ska, skb))),
                  1, {k}) AS union_k,
       len(list_distinct(list_concat(ska, skb))) AS n_merged
      FROM ska_t, skb_t),
c AS (SELECT *, len(union_k) AS ku,
       len(list_filter(union_k,
           x -> list_contains(ska, x) AND list_contains(skb, x)))
         AS in_both
      FROM m, ex)
SELECT CAST({k} AS INT) AS k,
 CAST(len(ska) AS INT) AS n_sketch_a,
 CAST(len(skb) AS INT) AS n_sketch_b,
 {sql_pround(est_a, 6)} AS est_a,
 {sql_pround(est_b, 6)} AS est_b,
 {sql_pround(est_union, 6)} AS est_union,
 {sql_pround(jacc, 6)} AS jaccard_est,
 {sql_pround(est_inter, 6)} AS est_intersection,
 {sql_pround(f"(({est_b}) - {est_inter})", 6)} AS est_new_in_b,
 exact_a, exact_b, exact_union,
 exact_a + exact_b - exact_union AS exact_intersection,
 exact_union - exact_a AS exact_new_in_b,
 abs(({est_union}) - CAST(exact_union AS DOUBLE))
   <= {bound!r} * CAST(exact_union AS DOUBLE) AS union_in_bounds
FROM c
"""


def _weburl_oracles() -> Dict[str, str]:
    from .operators.weburl import BLOCKLIST

    visits = G.golden_path("visits.parquet")
    blk = ", ".join(f"'{d}'" for d in BLOCKLIST)
    n_pages = ("COUNT(DISTINCT CASE WHEN fetch_status = 200 "
               "THEN canonical_url END)")
    n_ok = "SUM(CASE WHEN fetch_status = 200 THEN 1 ELSE 0 END)"
    rate = (f"CAST({n_ok} AS DOUBLE) / "
            f"CAST(NULLIF({n_pages}, 0) AS DOUBLE)")
    return {
        "canonical_pages": _canonical_pages_sql(visits),
        # append-mode collapse: the oracle IS the batch SQL — merged
        # state must equal the full recompute exactly
        "incremental_canonical_pages": _canonical_pages_sql(visits),
        "kmv_content_overlap": _kmv_overlap_sql(visits),
        # structural reuse: the blocklist variant IS the same collapse
        # SQL with the host predicate injected before aggregation
        "blocklist_filter": _canonical_pages_sql(
            visits, f" AND canonical_host NOT IN ({blk})"),
        "domain_stats": f"""
WITH {_weburl_ctes(visits)}
SELECT canonical_host,
 COUNT(*) AS n_fetches,
 CAST({n_ok} AS BIGINT) AS n_ok,
 CAST(SUM(CASE WHEN fetch_status = 404 THEN 1 ELSE 0 END) AS BIGINT)
   AS n_404,
 {n_pages} AS n_pages,
 {sql_pround(rate, 6)} AS fetches_per_page,
 canonical_host IN ({blk}) AS is_blocked
FROM canon GROUP BY canonical_host
""",
        # bounded-hop redirect resolution: the same unrolled-join
        # semantics as the operator (4 hops, min-dst edges, self-loops
        # dropped, resolved = no outgoing edge at the final url); the
        # canonicalization chain runs a SECOND time over the redirect
        # targets (CTE prefix r), so both endpoints go through the
        # independently-written SQL rule
        "resolve_redirects": _resolve_redirects_sql(visits),
        # RFC 9309 evaluation re-derived with DuckDB list lambdas:
        # spec-group beats *, longest matched pattern wins, Allow wins
        # ties, no-match/no-robots → allowed. Regex literals come from
        # the shared golden parquet; only the evaluation is re-written.
        "robots_verdicts": f"""
WITH u AS (SELECT DISTINCT url FROM read_parquet('{visits}')),
{_robots_eval_ctes(carry="url")}
SELECT url, canonical_host, best.allow AS allowed FROM ev
""",
        # composed keep-gate: extraction metadata ⋈ robots — a doc
        # survives only if robots allows its url AND it is not
        # noindex. Structural reuse: the SAME eval CTE chain, carrying
        # the noindex column through it.
        "indexable_docs": f"""
WITH u AS (SELECT url, noindex
           FROM read_parquet('{G.golden_path("x_docs.parquet")}')),
{_robots_eval_ctes(carry="url, noindex")}
SELECT url FROM ev WHERE best.allow AND NOT noindex
""",
        # Sitemap: discovery re-derived from the RAW robots files:
        # comment strip, case-insensitive key match, keep-first dedup
        "robots_sitemaps": f"""
WITH lines AS (
  SELECT host,
    unnest(generate_series(1, len(str_split(payload, chr(10))))) AS ln,
    unnest(str_split(payload, chr(10))) AS raw
  FROM read_parquet('{G.golden_path("robots_files.parquet")}')),
cand AS (
  SELECT host, ln, trim(str_split(raw, '#')[1]) AS line FROM lines),
sm AS (
  SELECT host, ln, trim(substr(line, strpos(line, ':') + 1)) AS url
  FROM cand
  WHERE strpos(line, ':') > 0
    AND lower(trim(str_split(line, ':')[1])) = 'sitemap'),
firsts AS (
  SELECT host, url, MIN(ln) AS first_ln FROM sm WHERE url <> ''
  GROUP BY host, url)
SELECT host,
       CAST(row_number() OVER (PARTITION BY host ORDER BY first_ln)
            - 1 AS INT) AS sm_idx,
       url AS sitemap_url
FROM firsts
""",
        # the whole pipeline: warc-scan golden × docs golden × the
        # shared robots-eval chain, header + meta noindex both applied
        "x_indexable_crawl": f"""
WITH w AS (
  SELECT url, x_robots_tag
  FROM read_parquet('{G.golden_path("x_warc_pages.parquet")}')
  WHERE CAST(regexp_extract(url, '/credit/(\\d{{9}})$', 1) AS INT)
        < {G.X_N_PAGES}
    AND http_status = 200
    AND mime IN ('text/html', 'application/pdf')
    AND n_bytes > 0),
u AS (
  SELECT w.url, d.noindex, w.x_robots_tag
  FROM w JOIN read_parquet('{G.golden_path("x_docs.parquet")}') d
  USING (url)),
{_robots_eval_ctes(carry="url, noindex, x_robots_tag")}
SELECT url FROM ev
WHERE best.allow AND NOT noindex
  AND (x_robots_tag IS NULL
       OR NOT contains(lower(x_robots_tag), 'noindex'))
""",
        # parse re-derived in SQL (regexp block extraction over the
        # stored XML), then canonical anti-join against the crawl log
        "sitemap_frontier_bloom": _sitemap_frontier_bloom_sql(
            visits, G.golden_path("sitemap_files.parquet")),
        "sitemap_frontier": f"""
WITH sv AS (SELECT DISTINCT url FROM read_parquet('{visits}')),
{_canon_chain("sv", "p", "vcanon", "url")},
sf AS (SELECT * FROM
       read_parquet('{G.golden_path("sitemap_files.parquet")}')),
blocks AS (SELECT host,
            unnest(regexp_extract_all(xml, '<url>.*?</url>')) AS b
           FROM sf),
locs AS (SELECT host,
          regexp_extract(b, '<loc>([^<]*)</loc>', 1) AS url,
          NULLIF(regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1),
                 '') AS lastmod
         FROM blocks
         WHERE regexp_extract(b, '<loc>([^<]*)</loc>', 1) <> ''),
{_canon_chain("locs", "s", "scanon", "url, lastmod")},
fresh AS (SELECT * FROM scanon sc
          WHERE NOT EXISTS (SELECT 1 FROM vcanon v
                            WHERE v.canonical_url = sc.canonical_url))
SELECT canonical_url, canonical_host,
       CAST(MAX(CAST(lastmod AS DATE)) AS VARCHAR) AS lastmod,
       COUNT(*) AS n_declared
FROM fresh GROUP BY 1, 2
""",
    }


def _webgraph_ctes() -> str:
    """Shared CTE chain for the web-graph oracles: the golden links
    table (kernel capture + RFC 3986 resolution, materialized
    driver-side by ``oracle_golden``) with BOTH endpoints
    canonicalized by the independent DuckDB canon chain — the
    canonicalization itself is re-derived, not read from a golden."""
    links = G.golden_path("x_links.parquet")
    dchain = _canon_chain(
        "lk", "d", "dcanon",
        "page_url, link_idx, href, url, anchor, nofollow")
    schain = _canon_chain(
        "dd", "s", "scanon",
        "url, link_idx, href, dst_url, anchor, nofollow, "
        "dst_host, dst_canonical")
    return f"""
lk AS (SELECT url AS page_url, link_idx, href, dst_url AS url,
              anchor, nofollow
       FROM read_parquet('{links}')
       WHERE dst_url IS NOT NULL),{dchain},
dd AS (SELECT page_url AS url, link_idx, href, url AS dst_url,
              anchor, nofollow, canonical_host AS dst_host,
              canonical_url AS dst_canonical
       FROM dcanon),{schain},
wl AS (SELECT url AS src_url, link_idx, href, dst_url, anchor,
              nofollow, canonical_host AS src_host,
              canonical_url AS src_canonical, dst_host, dst_canonical
       FROM scanon)"""


def _host_pagerank_oracle() -> str:
    """Unrolled directed host PageRank mirroring
    ``webgraph.host_pagerank`` statement-for-statement — same
    discipline as :func:`_pagerank_oracle` (ordered neighbor folds,
    identical damping literals)."""
    parts = [
        """fe AS (SELECT DISTINCT src_host AS src, dst_host AS dst
        FROM wl WHERE src_host <> dst_host AND NOT nofollow)""",
        "deg AS (SELECT src, COUNT(*) AS deg FROM fe GROUP BY src)",
        "ed AS (SELECT f.src, f.dst, d.deg FROM fe f"
        " JOIN deg d USING (src))",
        "hosts AS (SELECT src AS host FROM fe"
        " UNION SELECT dst FROM fe)",
        "n AS (SELECT COUNT(*) AS n_hosts FROM hosts)",
        "nodes AS (SELECT host, n_hosts FROM hosts CROSS JOIN n)",
        "rank0 AS (SELECT host, 1.0 / n_hosts AS r FROM nodes)",
    ]
    for t in range(1, T.PAGERANK_ITERS + 1):
        parts.append(f"""contrib{t} AS (
  SELECT e.dst, e.src, r.r / e.deg AS c
  FROM ed e JOIN rank{t - 1} r ON e.src = r.host)""")
        parts.append(f"""fold{t} AS (
  SELECT dst,
   list_reduce(list_prepend(CAST(0 AS DOUBLE), list(c ORDER BY src)),
               (a, b) -> a + b) AS s
  FROM contrib{t} GROUP BY dst)""")
        parts.append(f"""rank{t} AS (
  SELECT nd.host,
   {T.PAGERANK_BASE!r} / nd.n_hosts
   + {T.PAGERANK_DAMPING!r} * COALESCE(f.s, 0.0) AS r
  FROM nodes nd LEFT JOIN fold{t} f ON nd.host = f.dst)""")
    body = ",\n ".join(parts)
    return f"""
WITH {_webgraph_ctes()},
 {body}
SELECT host, {sql_pround("r", 9)} AS pagerank
FROM rank{T.PAGERANK_ITERS}
"""


def _webgraph_oracles() -> Dict[str, str]:
    from .operators.webgraph import ANCHOR_TOPK

    return {
        "x_page_links": f"""
WITH {_webgraph_ctes()}
SELECT src_url, link_idx, href, dst_url, anchor, nofollow,
       src_host, src_canonical, dst_host, dst_canonical
FROM wl
""",
        "x_host_graph": f"""
WITH {_webgraph_ctes()}
SELECT src_host, dst_host, COUNT(*) AS n_links,
       COUNT(*) FILTER (WHERE NOT nofollow) AS n_follow,
       COUNT(DISTINCT src_canonical) AS n_pages
FROM wl WHERE src_host <> dst_host
GROUP BY src_host, dst_host
""",
        "x_host_pagerank": _host_pagerank_oracle(),
        "x_anchor_topk": f"""
WITH {_webgraph_ctes()},
ac AS (SELECT dst_canonical, lower(anchor) AS anchor,
              COUNT(*) AS n
       FROM wl WHERE lower(anchor) <> ''
       GROUP BY dst_canonical, lower(anchor))
SELECT dst_canonical, anchor, n, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY dst_canonical
        ORDER BY n DESC, anchor) AS rank
      FROM ac)
WHERE rank <= {ANCHOR_TOPK}
""",
    }


def build_oracles() -> Dict[str, str]:
    # (Re)materialize the kernel-output goldens before handing out the
    # SQL that reads them — they can never be stale relative to the
    # kernel code, and they exist before DuckDB runs.
    G.materialize()
    return {**ORACLES, **_x_oracles(), **_weburl_oracles(),
            **_webgraph_oracles()}


# --- trained quality classifier: unrolled-iteration oracle ------------------

def _qc_oracle(scores: bool) -> str:
    """Unrolled fixed-iteration gradient training mirroring
    ``textops.train_quality_classifier`` statement-for-statement:
    the feature CTE reuses the quality_score raw-signal derivation,
    the weak label is the same source IN-list (generated from
    ``QC_POSITIVE_SOURCES`` so a convention edit cannot desynchronize
    the oracle), the link is the identical softsign expression (no
    ``exp`` on either side), gradient sums are ORDERED left folds by
    doc_id, and the update literals match. ``scores=True`` emits the
    per-document scoring pass with the final weights instead of the
    weight table itself."""
    qp = ", ".join(f"'{s}'" for s in T.QC_POSITIVE_SOURCES)
    hx = T.QC_SAMPLE_HEX
    lr = repr(T.QC_LR)
    z = ("w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 + w.w4*f.x4"
         " + w.w5*f.x5")
    prob = f"0.5 + 0.5 * ({z}) / (1.0 + abs({z}))"
    fold = ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            "list({v} ORDER BY doc_id)), (a, b) -> a + b)")
    parts = [
        f"""feats AS (
  SELECT doc_id,
   CASE WHEN source IN ({qp}) THEN CAST(1.0 AS DOUBLE)
        ELSE CAST(0.0 AS DOUBLE) END AS y,
   least(n_tokens / 50.0, 1.0) AS x1,
   stop_hits / greatest(n_tokens, 1.0) AS x2,
   n_distinct / greatest(n_tokens, 1.0) AS x3,
   n_punct / greatest(n_chars, 1.0) AS x4,
   n_digits / greatest(n_chars, 1.0) AS x5
  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(toks) AS DOUBLE) AS n_tokens,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct,
         CAST(len(list_filter(toks, t -> t IN ({_EN_IN})))
           AS DOUBLE) AS stop_hits,
         CAST(length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS DOUBLE) AS n_digits,
         CAST(length(text)
              - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
           AS DOUBLE) AS n_punct
        FROM (SELECT doc_id, text, source, {_TOKS} AS toks
              FROM documents)))""",
        f"""train AS (SELECT * FROM feats
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, {len(hx)}) < '{hx}')""",
        "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM train)",
        "wt0 AS (SELECT " + ", ".join(
            f"CAST(0 AS DOUBLE) AS w{j}" for j in range(6)) + ")",
    ]
    for t in range(1, T.QC_ITERS + 1):
        parts.append(f"""e{t} AS (
  SELECT f.doc_id, f.x1, f.x2, f.x3, f.x4, f.x5,
   f.y - ({prob}) AS err
  FROM train f CROSS JOIN wt{t - 1} w)""")
        gcols = [fold.format(v="err") + " AS g0"] + [
            fold.format(v=f"err * x{j}") + f" AS g{j}"
            for j in range(1, 6)]
        parts.append(
            f"g{t} AS (SELECT " + ", ".join(gcols) + f" FROM e{t})")
        parts.append(f"wt{t} AS (SELECT " + ", ".join(
            f"w.w{j} + {lr} * g.g{j} / n.n_docs AS w{j}"
            for j in range(6))
            + f" FROM wt{t - 1} w CROSS JOIN g{t} g CROSS JOIN n)")
    body = ",\n ".join(parts)
    last = f"wt{T.QC_ITERS}"
    if scores:
        return f"""
WITH {body}
SELECT f.doc_id, CAST(f.y AS INT) AS weak_label,
 {sql_pround(prob, 9)} AS qc_score,
 ({prob}) >= 0.5 AS qc_keep
FROM feats f CROSS JOIN {last} w
"""
    weight_rows = "\nUNION ALL ".join(
        f"SELECT '{T.QC_FEATURES[j]}' AS feature, "
        f"{sql_pround(f'w{j}', 9)} AS weight FROM {last}"
        for j in range(6))
    return f"""
WITH {body}
{weight_rows}
"""


ORACLES["qc_weights"] = _qc_oracle(scores=False)
ORACLES["quality_classifier"] = _qc_oracle(scores=True)


# --- product quantization: unrolled-training oracles -------------------------

def _l2_sql(a: str, b: str, d: int) -> str:
    """DuckDB twin of ``similarity._l2``: the identical ordered left
    fold of (x-y)² over dimensions 1..d."""
    sq = (f"(list_extract({a}, i) - list_extract({b}, i))"
          f" * (list_extract({a}, i) - list_extract({b}, i))")
    return ("list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(generate_series(1, {d}), i -> {sq})), "
            "(x, y) -> x + y)")


def _pq_ctes(sample_hex: str | None = None) -> str:
    """Unrolled PQ codebook training mirroring
    ``similarity.pq_codebooks`` statement-for-statement: the same
    md5-prefix training sample, seeds renumbered 0..PQ_K-1 by vec_id
    rank, argmin-L2 assignment with the identical ordered-fold
    distance and (d, centroid_id) tie-break, ORDERED left-fold
    dimension sums, and empty clusters keeping their previous
    centroid. Final codebook CTE: ``pqcb``; full-corpus subvectors:
    ``pencsv``; full-corpus encoding: ``penc``."""
    sd = S.PQ_SUBDIM
    sample = (
        f" WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1,"
        f" {len(sample_hex)}) < '{sample_hex}'" if sample_hex else "")
    l2 = _l2_sql("k.sv", "p.c", sd)
    parts = [
        "pqcorpus AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        f" CAST(embedding AS DOUBLE[]) AS v FROM embeddings{sample})",
        f"psubs AS (SELECT unnest(generate_series(0, {S.PQ_SUBS - 1}))"
        " AS sub)",
        "pseeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1"
        " AS BIGINT) AS centroid_id, v FROM"
        f" (SELECT vec_id, v FROM pqcorpus ORDER BY vec_id"
        f" LIMIT {S.PQ_K}))",
        f"psv AS (SELECT vec_id, sub, list_slice(v, sub * {sd} + 1,"
        f" sub * {sd} + {sd}) AS sv FROM pqcorpus CROSS JOIN psubs)",
        f"cb0 AS (SELECT sub, centroid_id, list_slice(v, sub * {sd} + 1,"
        f" sub * {sd} + {sd}) AS c FROM pseeds CROSS JOIN psubs)",
    ]
    for t in range(1, S.PQ_ITERS + 1):
        prev = f"cb{t - 1}"
        parts.append(f"""passign{t} AS (
  SELECT vec_id, sub, sv, centroid_id FROM (
    SELECT k.vec_id, k.sub, k.sv, p.centroid_id,
     row_number() OVER (PARTITION BY k.vec_id, k.sub ORDER BY
       {l2} ASC, p.centroid_id ASC) AS prn
    FROM psv k JOIN {prev} p ON p.sub = k.sub)
  WHERE prn = 1)""")
        parts.append(f"""pdims{t} AS (
  SELECT sub, centroid_id, vec_id,
   unnest(generate_series(1, len(sv))) AS i, unnest(sv) AS val
  FROM passign{t})""")
        parts.append(f"""psums{t} AS (
  SELECT sub, centroid_id, i,
   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                            list(val ORDER BY vec_id)),
               (a, b) -> a + b) AS s,
   COUNT(*) AS n
  FROM pdims{t} GROUP BY 1, 2, 3)""")
        parts.append(f"""cb{t} AS (
  SELECT p.sub, p.centroid_id, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT sub, centroid_id, list(s / n ORDER BY i) AS c
    FROM psums{t} GROUP BY sub, centroid_id) m
  USING (sub, centroid_id))""")
    parts.append(
        f"pqcb AS (SELECT sub, centroid_id, c FROM cb{S.PQ_ITERS})")
    # encoding always covers the FULL corpus, whatever the codebook
    # trained on — the same contract as the Spark side
    parts.append(
        "pencfull AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)")
    parts.append(
        f"pencsv AS (SELECT vec_id, sub, list_slice(v, sub * {sd} + 1,"
        f" sub * {sd} + {sd}) AS sv FROM pencfull CROSS JOIN psubs)")
    parts.append(f"""penc AS (
  SELECT vec_id, sub, centroid_id AS code FROM (
    SELECT k.vec_id, k.sub, p.centroid_id,
     row_number() OVER (PARTITION BY k.vec_id, k.sub ORDER BY
       {_l2_sql("k.sv", "p.c", sd)} ASC, p.centroid_id ASC) AS prn
    FROM pencsv k JOIN pqcb p ON p.sub = k.sub)
  WHERE prn = 1)""")
    return ",\n".join(parts)


ORACLES["pq_codebooks"] = f"""
WITH {_pq_ctes(S.PQ_SAMPLE_HEX)}
SELECT CAST(sub AS INT) AS sub, centroid_id,
 CAST(i - 1 AS INT) AS dim_idx, val AS value
FROM (SELECT sub, centroid_id,
       unnest(generate_series(1, len(c))) AS i, unnest(c) AS val
      FROM pqcb)
"""

ORACLES["pq_encode"] = f"""
WITH {_pq_ctes(S.PQ_SAMPLE_HEX)}
SELECT vec_id, CAST(sub AS INT) AS sub, code FROM penc
"""

# ADC: the per-(query, neighbor) distance is the ordered fold of the
# per-subspace LUT entries over sub — the same left fold the Spark
# side runs over the packed code array, on bitwise-identical d values.
ORACLES["pq_topk"] = f"""
WITH {_pq_ctes(S.PQ_SAMPLE_HEX)},
pqueries AS (SELECT vec_id AS query_id, v FROM pencfull
             WHERE vec_id < 5),
pqsv AS (SELECT query_id, sub,
          list_slice(v, sub * {S.PQ_SUBDIM} + 1,
                     sub * {S.PQ_SUBDIM} + {S.PQ_SUBDIM}) AS sv
         FROM pqueries CROSS JOIN psubs),
plut AS (SELECT k.query_id, k.sub, p.centroid_id,
          {_l2_sql("k.sv", "p.c", S.PQ_SUBDIM)} AS d
         FROM pqsv k JOIN pqcb p ON p.sub = k.sub),
pscored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                            list(l.d ORDER BY l.sub)),
               (x, y) -> x + y) AS adist
  FROM penc e JOIN plut l ON l.sub = e.sub AND l.centroid_id = e.code
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank
FROM (SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adist ASC, neighbor_id ASC) AS rn
      FROM pscored)
WHERE rn <= 5
"""


# --- interpolated bigram LM: oracle ------------------------------------------

# Mirrors textops.bigram_lm_score statement-for-statement: map-side
# bigram construction from the token array (list_transform over
# positions ≡ the Spark zip_with of two slices), the identical
# λ-interpolated probability with the 9-digit ln snap, the plain
# model join (row-identical to the Spark head/tail split union), and
# the ordered fold by (prev, cur).
ORACLES["bigram_lm_score"] = f"""
WITH dtoks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKS} AS toks
  FROM documents),
 toks AS (SELECT doc_id, unnest(toks) AS tok FROM dtoks),
 tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks),
 uni AS (SELECT tok AS cur,
          CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM tot) AS pu
         FROM toks GROUP BY tok),
 bg AS (SELECT doc_id, b.prev AS prev, b.cur AS cur FROM (
   SELECT doc_id, unnest(list_transform(
     generate_series(1, len(toks) - 1),
     i -> struct_pack(prev := list_extract(toks, i),
                      cur := list_extract(toks, i + 1)))) AS b
   FROM dtoks WHERE len(toks) >= 2)),
 c2 AS (SELECT prev, cur, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
 c1 AS (SELECT prev, COUNT(*) AS n1 FROM bg GROUP BY 1),
 model AS (SELECT c2.prev, c2.cur,
   {sql_pround(
       f"-ln({T.BIGRAM_LAMBDA!r} * (CAST(n2 AS DOUBLE)"
       f" / CAST(n1 AS DOUBLE)) + {1.0 - T.BIGRAM_LAMBDA!r} * pu)",
       T.UNIGRAM_TERM_DIGITS)} AS nlogp
  FROM c2 JOIN c1 USING (prev) JOIN uni ON uni.cur = c2.cur),
 tf AS (SELECT doc_id, prev, cur, COUNT(*) AS tf
        FROM bg GROUP BY 1, 2, 3),
 terms AS (SELECT doc_id, prev, cur, CAST(tf AS DOUBLE) * nlogp AS t,
            tf
           FROM tf JOIN model USING (prev, cur)),
 agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                            list(t ORDER BY prev, cur)),
               (a, b) -> a + b) AS s
  FROM terms GROUP BY doc_id)
SELECT doc_id, n_bigrams,
 {sql_pround("s / CAST(n_bigrams AS DOUBLE)", 6)} AS cross_entropy
FROM agg
"""


# --- HLL++ distinct counting: contract oracle ---------------------------------

# Like approx_percentiles, the sketch value is engine-specific, so the
# CONTRACT is oracled: the exact per-group cardinality (the auditor)
# plus a literal-TRUE error bound the Spark side computes from the
# sketch — any violation hash-mismatches.
ORACLES["approx_user_cardinality"] = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
 TRUE AS within_bound
FROM events GROUP BY event_type
"""

# Count-min-sketch heavy hitters: the oracle recomputes the identical
# sketch (same md5 '<d>:key' cell hashing via the shared hex-bucket
# arithmetic), the identical md5-prefix candidate sample, the min-over-
# depth estimate, and the integer-compare hot rule — full value check.
_CMS_SAMPLE_IN = ", ".join(f"'{h}'" for h in R.CMS_SAMPLE_HEX)
ORACLES["hot_keys"] = f"""
WITH base AS (SELECT CAST(user_id AS VARCHAR) AS key,
                     CAST(event_id AS VARCHAR) AS rec_id FROM events),
 ds AS (SELECT UNNEST(range({R.CMS_DEPTH})) AS d),
 cells AS (
  SELECT ds.d,
   {_hex_bucket_sql("md5(CAST(ds.d AS VARCHAR) || ':' || base.key)",
                    R.CMS_WIDTH)} AS slot,
   COUNT(*) AS cnt
  FROM base CROSS JOIN ds GROUP BY 1, 2),
 tot AS (SELECT COUNT(*) AS n_total FROM base),
 cands AS (SELECT DISTINCT key FROM base
           WHERE substr(md5('hh:' || rec_id), 1, 1)
                 IN ({_CMS_SAMPLE_IN})),
 probe AS (SELECT c.key, ds.d,
   {_hex_bucket_sql("md5(CAST(ds.d AS VARCHAR) || ':' || c.key)",
                    R.CMS_WIDTH)} AS slot
  FROM cands c CROSS JOIN ds),
 est AS (SELECT p.key, MIN(s.cnt) AS est_count
         FROM probe p JOIN cells s ON s.d = p.d AND s.slot = p.slot
         GROUP BY 1),
 exact AS (SELECT b.key, COUNT(*) AS exact_count
           FROM base b JOIN cands USING (key) GROUP BY 1)
SELECT est.key,
 CAST(est.est_count AS BIGINT) AS est_count,
 CAST(exact.exact_count AS BIGINT) AS exact_count,
 est.est_count * {R.HOT_ONE_IN} >= tot.n_total AS is_hot,
 est.est_count >= exact.exact_count AS never_under
FROM est JOIN exact USING (key) CROSS JOIN tot
"""

# Z-order clustering key: DuckDB recomputes the identical Morton
# shift/mask/or fold over (user_id, epoch-day) — proves the layout
# key cross-engine; the skipping measurement lives in
# tests/test_zorder.py.
from .plans.zorder import zvalue_sql as _zvalue_sql  # noqa: E402

_ZDAY = "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"
ORACLES["zorder_keys"] = f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
 CAST(user_id AS BIGINT) AS user_id,
 CAST({_ZDAY} AS INT) AS day,
 {_zvalue_sql("user_id", _ZDAY)} AS z
FROM events
"""


# --- IVF-PQ composed ANN: oracle ----------------------------------------------

# Composition of the two trained quantizers, mirroring
# similarity.ivfpq_topk: coarse cosine probe (the exact ivf_topk CTE
# chain over the unsampled trained codebook), PQ codes from the
# sampled-trained fine codebooks (_pq_ctes), ADC re-scoring ONLY on
# rows whose coarse list a query probes, identical fold order.
ORACLES["ivfpq_topk"] = f"""
WITH {_ANN_CTE},
{_IVF_CTE},
{_pq_ctes(S.PQ_SAMPLE_HEX)},
iprobes AS (
  SELECT query_id, centroid_id FROM (
    SELECT query_id, centroid_id,
     row_number() OVER (PARTITION BY query_id ORDER BY
       list_dot_product(q, c) /
         (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(c, c)))
       DESC, centroid_id ASC) AS crn
    FROM queries CROSS JOIN cents)
  WHERE crn <= {S.N_PROBE}),
iqsv AS (SELECT query_id, sub,
          list_slice(q, sub * {S.PQ_SUBDIM} + 1,
                     sub * {S.PQ_SUBDIM} + {S.PQ_SUBDIM}) AS sv
         FROM queries CROSS JOIN psubs),
ilut AS (SELECT k.query_id, k.sub, p.centroid_id,
          {_l2_sql("k.sv", "p.c", S.PQ_SUBDIM)} AS d
         FROM iqsv k JOIN pqcb p ON p.sub = k.sub),
iscored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                            list(l.d ORDER BY l.sub)),
               (x, y) -> x + y) AS adist
  FROM penc e
  JOIN corpus_assign a ON a.neighbor_id = e.vec_id
  JOIN iprobes p ON p.centroid_id = a.centroid_id
  JOIN ilut l ON l.query_id = p.query_id AND l.sub = e.sub
             AND l.centroid_id = e.code
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank
FROM (SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adist ASC, neighbor_id ASC) AS rn
      FROM iscored)
WHERE rn <= 5
"""


# --- Luhn PAN redaction: oracle -----------------------------------------------

# The identical expression tree as relational.redact_pans in DuckDB
# spelling: RE2 regexp scan (pattern shared, no lookarounds), the same
# group split → contiguous-group-subsequence Luhn integer folds
# (DuckDB has no `exists` lambda, so `len(list_filter(...)) > 0`
# plays its role — order-independent, so parity holds), and the same
# sorted-distinct literal-replace fold seeded with the original text.
_PAN_DIGIT_CD = "(ascii(substr(num, length(num) - i + 1, 1)) - 48)"
_PAN_GRPS_CD = "struct_extract(s, 'grps')"
_PAN_VALID_CD = f"""
list_sort(list_distinct(list_transform(list_filter(
  list_transform(regexp_extract_all(text, '{R.PAN_CANDIDATE_RE}'),
    c -> struct_pack(orig := c,
                     grps := list_filter(string_split_regex(c, '[ -]+'),
                                         g -> g <> ''))),
  s -> len(list_filter(
    flatten(list_transform(generate_series(1, len({_PAN_GRPS_CD})), a ->
      list_transform(generate_series(a, least(len({_PAN_GRPS_CD}),
                                     a + {R.PAN_MAX_GROUPS - 1})), b ->
        array_to_string(list_slice({_PAN_GRPS_CD}, a, b), '')))),
    num -> length(num) >= {R.PAN_MIN_DIGITS}
       AND length(num) <= {R.PAN_MAX_DIGITS}
       AND list_reduce(list_prepend(0,
             list_transform(generate_series(1, length(num)), i ->
               CASE WHEN i % 2 = 0 THEN
                 CASE WHEN 2 * {_PAN_DIGIT_CD} > 9
                      THEN 2 * {_PAN_DIGIT_CD} - 9
                      ELSE 2 * {_PAN_DIGIT_CD} END
               ELSE {_PAN_DIGIT_CD} END)),
             (x, y) -> x + y) % 10 = 0)) > 0),
  s -> struct_extract(s, 'orig'))))
"""

# boundary-guarded two-pass replace, exactly as the Spark fold (RE2
# backreference spelling \1; 'g' for global like Java replaceAll)
_PAN_BOUNDED_CD = ("concat('(^|[^0-9 -])([ -]*)', p,"
                   " '([ -]*)([^0-9 -]|$)')")
_PAN_REPL1_CD = (f"regexp_replace(acc, {_PAN_BOUNDED_CD},"
                 f" '\\1\\2{R.PAN_TOKEN}\\3\\4', 'g')")
_PAN_REPL2_CD = (f"regexp_replace({_PAN_REPL1_CD}, {_PAN_BOUNDED_CD},"
                 f" '\\1\\2{R.PAN_TOKEN}\\3\\4', 'g')")

ORACLES["pan_redaction"] = f"""
SELECT doc_id, CAST(len(pans) AS INT) AS n_pans,
 list_reduce(list_prepend(text, pans),
             (acc, p) -> {_PAN_REPL2_CD})
   AS text_redacted
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
       {_PAN_VALID_CD} AS pans
      FROM documents)
"""

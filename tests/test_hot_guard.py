"""Hot-domain skew guard wired into the extraction job.

VERDICT r4 item #7: the hot-domain guard (``detect_hot_domains``,
exact per-host counts) runs in every ``run_extraction_job`` batch and
records the hot domains in a ``hot_keys`` sidecar per run. The
extraction path itself is hot-key-immune (salted url-hash
repartition — BENCH/SKEW.md), so the
sidecar is the observability record a domain-keyed downstream
consumer checks before choosing its own partitioning.

Covers:
* a pathological corpus (~1/2 of all pages on ONE domain, the
  BENCH/SKEW.md shape) trips the detector — the seeded domain lands
  in the sidecar flagged hot;
* the sidecar snapshot is written for every run (clean batch =>
  empty snapshot, auditable absence of skew);
* the sidecar lists every host at or above 1/160 of the batch with
  its exact count — no hot host is missed.
"""

import os
import re

from pyspark.sql import functions as F

from credit_ocr_system_spark.plans.pipeline import (
    SnapshotSink,
    detect_hot_domains,
    run_extraction_job,
)
from credit_ocr_system_spark.sources.pages import pages_df

HOT_DOMAIN = "hot-template.example.com"


def _pathological_pages(spark, n=240):
    """~1/2 of pages rewritten onto one domain — the run_skew shape."""
    pages = pages_df(spark, n, partitions=4)
    return pages.withColumn(
        "url",
        F.when(
            F.xxhash64("url") % 2 == 0,
            F.concat(F.lit(f"https://{HOT_DOMAIN}/credit/"),
                     F.md5("url")),
        ).otherwise(F.col("url")))


def test_pathological_corpus_trips_detector(spark, tmp_path):
    out = str(tmp_path / "job")
    pages = _pathological_pages(spark)
    stats = run_extraction_job(spark, pages, out, num_partitions=4)
    assert stats["skipped"] is False
    assert stats["n_hot_domains"] >= 1

    side = SnapshotSink(os.path.join(out, "hot_keys"))
    hot = side.read_committed(spark).toPandas().set_index("key")
    assert HOT_DOMAIN in hot.index
    assert bool(hot.loc[HOT_DOMAIN, "is_hot"])
    # ~n/2 records on the domain; CMS never undercounts
    assert int(hot.loc[HOT_DOMAIN, "est_count"]) >= 100
    assert int(hot.loc[HOT_DOMAIN, "n_total"]) == stats["n_docs"]
    # the sidecar row is tied to this run
    assert (hot["run_id"] == stats["run_id"]).all()


def test_sidecar_written_even_without_hot_rows(spark, tmp_path):
    # A corpus of unique domains, each 1/n of the batch: nothing can
    # reach the 1/160 hot threshold. n is sized so the flag bar
    # (n_total/160 = 12.5) clears any plausible CMS collision pile-up
    # (row load n/width ≈ 3.9; the estimate is the MIN over 4 rows,
    # so reaching 13 needs a ≥12 pile-up in ALL of them).
    out = str(tmp_path / "job")
    pages = (pages_df(spark, 2000, partitions=8)
             .withColumn("url", F.concat(
                 F.lit("https://d"), F.md5("url"),
                 F.lit(".example/p"))))
    stats = run_extraction_job(spark, pages, out, num_partitions=8)
    side = SnapshotSink(os.path.join(out, "hot_keys"))
    committed = side.read_committed(spark)
    assert committed is not None
    df = committed.toPandas()
    assert stats["n_hot_domains"] == 0
    assert len(df) == 0


def test_detect_hot_domains_standalone(spark):
    # The generator's own Zipf head domains legitimately exceed 1/160
    # of a 200-page batch too — the seeded domain must be flagged and
    # must dominate every other flagged estimate.
    det = detect_hot_domains(_pathological_pages(spark, 200)).toPandas()
    flagged = det[det["is_hot"]].set_index("key")
    assert HOT_DOMAIN in flagged.index
    top = int(flagged.loc[HOT_DOMAIN, "est_count"])
    assert top >= 80
    assert top == int(flagged["est_count"].max())


def test_sidecar_holds_exact_counts_of_every_hot_host(spark, tmp_path):
    out = str(tmp_path / "job")
    pages = pages_df(spark, 100, partitions=4)
    stats = run_extraction_job(spark, pages, out, num_partitions=4)

    urls = pages.select("url").toPandas()["url"]
    n = len(urls)
    hosts = urls.map(lambda u: re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*://", "",
                                      u).split("/", 1)[0].lower())
    counts = hosts.value_counts()
    want = {(h, int(c), n) for h, c in counts.items() if c * 160 >= n}

    side = SnapshotSink(os.path.join(out, "hot_keys"))
    got = {(r.key, r.est_count, r.n_total)
           for r in side.read_committed(spark).collect()}
    assert got == want
    assert stats["n_hot_domains"] == len(want)

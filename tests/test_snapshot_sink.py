"""SnapshotSink Iceberg-shaped semantics: append, time travel, MERGE.

Covers the three table operations the pipeline leans on (append
snapshots, ``VERSION AS OF`` reads, MERGE-style upsert for keyed state
like doc_status) and the status-transition-across-runs scenario the
reference's Postgres adapter implements
(``/root/reference/src/dms/adapters.py:130-167``).
"""

import os

from pyspark.sql import Row

from credit_ocr_system_spark.plans.pipeline import SnapshotSink


def _status_df(spark, rows):
    return spark.createDataFrame(
        [Row(url=u, status=s) for u, s in rows],
        schema="url string, status string")


def _by_url(df):
    return {r.url: r.status for r in df.collect()}


def test_append_and_time_travel(spark, tmp_path):
    sink = SnapshotSink(str(tmp_path / "t"))
    sink.write_snapshot(_status_df(spark, [("u1", "a")]), "r1")
    sink.write_snapshot(_status_df(spark, [("u2", "b")]), "r2")

    assert _by_url(sink.read_committed(spark)) == {"u1": "a", "u2": "b"}
    # VERSION AS OF r1: the second snapshot is invisible
    assert _by_url(sink.read_committed(spark, as_of="r1")) == {"u1": "a"}
    # a single snapshot's own rows
    assert _by_url(sink.read_snapshot(spark, "r2")) == {"u2": "b"}


def test_merge_upsert_latest_wins_and_history_survives(spark, tmp_path):
    sink = SnapshotSink(str(tmp_path / "status"))
    # run 1: extraction failed for u1, done for u2
    sink.merge_upsert(spark, _status_df(
        spark, [("u1", "failed"), ("u2", "done")]), "r1", keys=["url"])
    # run 2: u1 re-extracted successfully, new doc u3 appears
    sink.merge_upsert(spark, _status_df(
        spark, [("u1", "done"), ("u3", "done")]), "r2", keys=["url"])

    current = _by_url(sink.read_committed(spark))
    assert current == {"u1": "done", "u2": "done", "u3": "done"}
    # one row per key after the merge, not an event log
    assert sink.read_committed(spark).count() == 3
    # time travel still sees the pre-merge state
    assert _by_url(sink.read_committed(spark, as_of="r1")) == {
        "u1": "failed", "u2": "done"}


def test_append_after_replace_stays_visible(spark, tmp_path):
    sink = SnapshotSink(str(tmp_path / "mix"))
    sink.write_snapshot(_status_df(spark, [("u1", "a")]), "r1")
    sink.merge_upsert(spark, _status_df(spark, [("u1", "b")]), "r2",
                      keys=["url"])
    sink.write_snapshot(_status_df(spark, [("u2", "c")]), "r3")
    assert _by_url(sink.read_committed(spark)) == {"u1": "b", "u2": "c"}
    # replace snapshots redirect the current view; older data dirs are
    # still on disk for time travel
    assert os.path.isdir(os.path.join(sink.root, "snap-r1"))


def test_merge_upsert_without_a_match_appends_the_source(spark, tmp_path):
    """Copy-on-write: a MERGE whose keys match no committed row commits
    the source rows alone as an append, rewriting nothing."""
    sink = SnapshotSink(str(tmp_path / "cow"))
    sink.merge_upsert(spark, _status_df(
        spark, [("u1", "failed"), ("u2", "done")]), "r1", keys=["url"])
    sink.merge_upsert(spark, _status_df(
        spark, [("u3", "done")]), "r2", keys=["url"])

    assert sink.committed_snapshots()[-1]["op"] == "append"
    assert _by_url(sink.read_snapshot(spark, "r2")) == {"u3": "done"}
    assert _by_url(sink.read_committed(spark)) == {
        "u1": "failed", "u2": "done", "u3": "done"}
    assert sink.read_committed(spark).count() == 3


def test_pipeline_status_sink_upserts(spark, tmp_path):
    """Re-running extraction over a url (after its committed snapshot
    is removed) must UPDATE the doc_status row, not duplicate it."""
    from credit_ocr_system_spark.plans.pipeline import run_extraction_job
    from credit_ocr_system_spark.sources.pages import pages_df

    out = str(tmp_path / "job")
    pages = pages_df(spark, 12, partitions=2)
    run_extraction_job(spark, pages, out, num_partitions=2)
    # wipe the extracted manifest so the same urls are re-processed
    os.remove(os.path.join(out, "extracted", "_manifest.jsonl"))
    run_extraction_job(spark, pages, out, num_partitions=2)

    status = SnapshotSink(os.path.join(out, "doc_status"))
    df = status.read_committed(spark)
    assert df.count() == 12
    assert df.select("url").distinct().count() == 12


def test_view_is_one_scan_with_merged_schemas(spark, tmp_path):
    """A view reads in one schema-merging scan: a column added by a
    later snapshot is null in older rows (Iceberg's add-column rule),
    an incompatible column type raises, and reading a 5-snapshot view
    launches one Spark job, not one per snapshot."""
    import pytest

    from credit_ocr_system_spark.plans.pipeline import _tagged_job_count

    sink = SnapshotSink(str(tmp_path / "evo"))
    sink.write_snapshot(_status_df(spark, [("u1", "a")]), "r1")
    sink.write_snapshot(spark.createDataFrame(
        [("u2", "b", 7)], "url string, status string, n long"), "r2")
    got = {(r.url, r.status, r.n)
           for r in sink.read_committed(spark).collect()}
    assert got == {("u1", "a", None), ("u2", "b", 7)}

    bad = SnapshotSink(str(tmp_path / "bad"))
    bad.write_snapshot(_status_df(spark, [("u1", "a")]), "r1")
    bad.write_snapshot(spark.createDataFrame(
        [("u2", 3)], "url string, status int"), "r2")
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        bad.read_committed(spark).collect()

    five = SnapshotSink(str(tmp_path / "five"))
    for i in range(5):
        five.write_snapshot(_status_df(spark, [(f"u{i}", "a")]), f"r{i}")
    sc = spark.sparkContext
    tag = "read-committed-five"
    sc.addJobTag(tag)
    try:
        view = five.read_committed(spark)
    finally:
        sc.removeJobTag(tag)
    assert _tagged_job_count(spark, tag) == 1
    assert view.count() == 5


def test_merge_upsert_rejects_duplicate_source_keys(spark, tmp_path):
    import pytest
    sink = SnapshotSink(str(tmp_path / "dup"))
    dup = _status_df(spark, [("u1", "a"), ("u1", "b")])
    with pytest.raises(ValueError, match="duplicate keys"):
        sink.merge_upsert(spark, dup, "r1", keys=["url"])


def test_make_sink_switch_and_merge_sql(spark, tmp_path):
    """The Iceberg mode is code behind a switch: the factory routes,
    the MERGE statement is the real thing, and requesting Iceberg
    without the runtime fails loudly instead of silently degrading."""
    import pytest

    from credit_ocr_system_spark.plans.pipeline import (
        IcebergSink,
        iceberg_available,
        make_sink,
        merge_sql,
    )

    assert isinstance(make_sink(spark, str(tmp_path / "s")), SnapshotSink)
    assert merge_sql("cat.db.doc_status", "src_v", ["url", "run"]) == (
        "MERGE INTO cat.db.doc_status t USING src_v s "
        "ON t.url = s.url AND t.run = s.run "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *")
    if not iceberg_available(spark):
        with pytest.raises(RuntimeError, match="Iceberg"):
            make_sink(spark, "", catalog="iceberg:cat.db.t")
    else:
        sink = make_sink(spark, "", catalog="iceberg:cat.db.t")
        assert isinstance(sink, IcebergSink)
        assert sink.table == "cat.db.t"


def test_iceberg_sink_end_to_end(spark, tmp_path):
    """Append / MERGE / VERSION AS OF on a real Iceberg catalog —
    runs only where the Iceberg Spark runtime is on the classpath
    (not in this sandbox; the SnapshotSink suite covers the same
    contract on the stand-in)."""
    import pytest

    from credit_ocr_system_spark.plans.pipeline import (
        IcebergSink,
        iceberg_available,
    )

    if not iceberg_available(spark):
        pytest.skip("Iceberg Spark runtime not on the classpath")
    spark.conf.set("spark.sql.catalog.cossink",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.cossink.type", "hadoop")
    spark.conf.set("spark.sql.catalog.cossink.warehouse",
                   str(tmp_path / "wh"))
    sink = IcebergSink(spark, "cossink.db.status")
    sink.write_snapshot(_status_df(spark, [("u1", "a")]), "r1")
    sink.merge_upsert(spark, _status_df(spark, [("u1", "b"),
                                                ("u2", "c")]),
                      "r2", keys=["url"])
    assert _by_url(sink.read_committed(spark)) == {"u1": "b", "u2": "c"}
    assert _by_url(sink.read_committed(spark, as_of="r1")) == {"u1": "a"}


def test_write_snapshot_rejects_reused_run_id(spark, tmp_path):
    """Snapshots are immutable: committing the same run_id twice would
    rewrite a directory lazy readers may still scan and leave the
    manifest ambiguous — refused."""
    import pytest
    sink = SnapshotSink(str(tmp_path / "reuse"))
    sink.write_snapshot(_status_df(spark, [("u1", "a")]), "r1")
    with pytest.raises(ValueError, match="already has a committed"):
        sink.write_snapshot(_status_df(spark, [("u2", "b")]), "r1")
    # merge_upsert goes through the same guard
    with pytest.raises(ValueError, match="already has a committed"):
        sink.merge_upsert(spark, _status_df(spark, [("u3", "c")]),
                          "r1", keys=["url"])


def test_compact_rewrites_small_files_value_identically(spark, tmp_path):
    sink = SnapshotSink(str(tmp_path / "c"))
    # 6 appends x 4 partitions each -> many small part files
    for i in range(6):
        df = spark.createDataFrame(
            [Row(url=f"u{i}-{j}", status=f"s{i}") for j in range(40)],
            schema="url string, status string").repartition(4)
        sink.write_snapshot(df, f"r{i}")
    before_rows = _by_url(sink.read_committed(spark))
    n_small = len(sink.data_files())
    assert n_small >= 24

    stats = sink.compact(spark, "compact1")
    assert stats["files_before"] == n_small
    # tiny table -> one target file
    assert stats["files_after"] == 1
    # value-identical view
    assert _by_url(sink.read_committed(spark)) == before_rows
    assert len(before_rows) == 240
    # prior snapshots still time-travelable
    assert len(_by_url(sink.read_committed(spark, as_of="r2"))) == 120
    # appends after compaction stack on the replace snapshot
    sink.write_snapshot(_status_df(spark, [("zz", "n")]), "r7")
    after = _by_url(sink.read_committed(spark))
    assert len(after) == 241 and after["zz"] == "n"
    # manifest records the rewrite as a replace with provenance
    last_replace = [s for s in sink.committed_snapshots()
                    if s["run_id"] == "compact1"][0]
    assert last_replace["op"] == "replace"
    assert last_replace["compacted_files"] == n_small


def test_compact_refuses_empty_sink(spark, tmp_path):
    import pytest

    sink = SnapshotSink(str(tmp_path / "e"))
    with pytest.raises(ValueError, match="nothing to compact"):
        sink.compact(spark, "c1")


def test_iceberg_compact_call_shape(spark, tmp_path):
    """Where the Iceberg jars exist, the real rewrite procedure runs;
    otherwise assert only the call is well-formed (skip)."""
    import pytest

    from credit_ocr_system_spark.plans.pipeline import (
        IcebergSink,
        iceberg_available,
    )

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime not on classpath")
    sink = IcebergSink(spark, "local.db.compact_t")
    sink.write_snapshot(_status_df(spark, [("u1", "a")]), "r1")
    stats = sink.compact()
    assert "rewritten_data_files_count" in stats


def test_expire_is_a_noop_while_appends_are_all_visible(spark, tmp_path):
    # append snapshots are deltas: with no replace boundary the whole
    # log IS the current view, so expiration must refuse to shrink it
    # (Iceberg's contract: expire never changes current table state)
    sink = SnapshotSink(str(tmp_path / "x"))
    for i in range(4):
        sink.write_snapshot(_status_df(spark, [(f"u{i}", "s")]), f"r{i}")
    stats = sink.expire_snapshots(keep_last=2)
    assert stats == {"kept": 4, "expired": 0, "deleted_dirs": 0}
    assert len(_by_url(sink.read_committed(spark))) == 4
    assert len(sink.committed_snapshots()) == 4


def test_expire_never_truncates_into_visible_replace_view(spark, tmp_path):
    sink = SnapshotSink(str(tmp_path / "y"))
    for i in range(5):
        sink.write_snapshot(_status_df(spark, [(f"u{i}", "s")]), f"r{i}")
    sink.compact(spark, "cp")  # replace boundary: view = 5 rows, 1 snap
    sink.write_snapshot(_status_df(spark, [("u9", "s")]), "r9")
    view = _by_url(sink.read_committed(spark))
    assert len(view) == 6

    # visible view = [cp, r9]; keep_last=1 must clamp to 2
    stats = sink.expire_snapshots(keep_last=1)
    assert stats["kept"] == 2 and stats["expired"] == 5
    assert _by_url(sink.read_committed(spark)) == view
    # pre-compaction snapshots are gone from disk and time travel
    assert len(sink.committed_snapshots()) == 2


def test_expire_aligns_cut_to_replace_boundary(spark, tmp_path):
    # keep_last exceeding the visible suffix must not strand a kept
    # append whose time-travel chain reaches an expired ancestor:
    # the cut aligns back to the replace boundary, keeping whole
    # self-contained views (Iceberg retain_last semantics)
    sink = SnapshotSink(str(tmp_path / "z"))
    sink.write_snapshot(_status_df(spark, [("u0", "s")]), "a0")
    sink.write_snapshot(_status_df(spark, [("u1", "s")]), "a1")
    sink.compact(spark, "cp")  # replace: view = {u0, u1}
    sink.write_snapshot(_status_df(spark, [("u2", "s")]), "a2")
    sink.write_snapshot(_status_df(spark, [("u3", "s")]), "a3")
    before_a2 = _by_url(sink.read_committed(spark, as_of="a2"))
    assert len(before_a2) == 3  # cp's 2 rows + a2

    # visible = [a3] suffix? no: view = [cp, a2, a3]; keep_last=2
    # would naively keep [a2, a3] — but a2's view needs cp
    stats = sink.expire_snapshots(keep_last=2)
    assert stats["kept"] == 3  # aligned back to cp
    # every kept snapshot's time travel is still the FULL view
    assert _by_url(sink.read_committed(spark, as_of="a2")) == before_a2
    # and the pre-replace appends are really gone
    assert stats["expired"] == 2
    import pytest as _pytest
    with _pytest.raises(KeyError):
        sink.read_committed(spark, as_of="a0")


def test_torn_manifest_tail_is_skipped_and_cut(spark, tmp_path):
    """A crash during the manifest append leaves a half-written last
    line: that commit never happened. Reads skip it, the next commit
    cuts it, and a bad line with good ones after it still raises."""
    import json

    import pytest
    sink = SnapshotSink(str(tmp_path / "torn"))
    sink.write_snapshot(_status_df(spark, [("u1", "a")]), "r1")
    with open(sink.manifest, "a", encoding="utf-8") as fh:
        fh.write('{"dir": "snap-r2", "run_')
    assert [s["run_id"] for s in sink.committed_snapshots()] == ["r1"]
    assert _by_url(sink.read_committed(spark)) == {"u1": "a"}

    sink.write_snapshot(_status_df(spark, [("u3", "c")]), "r3")
    assert [s["run_id"] for s in sink.committed_snapshots()] == \
        ["r1", "r3"]
    assert _by_url(sink.read_committed(spark)) == {"u1": "a", "u3": "c"}

    # a complete entry that lost only its newline stays committed
    with open(sink.manifest, encoding="utf-8") as fh:
        lines = fh.readlines()
    with open(sink.manifest, "w", encoding="utf-8") as fh:
        fh.writelines(lines[:-1] + [lines[-1].rstrip("\n")])
    sink.write_snapshot(_status_df(spark, [("u4", "d")]), "r4")
    assert [s["run_id"] for s in sink.committed_snapshots()] == \
        ["r1", "r3", "r4"]

    with open(sink.manifest, encoding="utf-8") as fh:
        lines = fh.readlines()
    with open(sink.manifest, "w", encoding="utf-8") as fh:
        fh.writelines(lines[:1] + ['{"dir": "snap-\n'] + lines[1:])
    with pytest.raises(json.JSONDecodeError):
        sink.committed_snapshots()

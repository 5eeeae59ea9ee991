"""End-to-end extraction job: partitioning, resume, snapshot commits.

The full plan (SURVEY.md §3.2) is a single Catalyst plan per run::

    pages ──repartition(salted url hash)──► mapInArrow(kernel)
          ──► cache (text, pairs, the kernel's matched + validated
              fields; no per-line elements)
          ──► extracted (url-sorted) | fields (explode) | lineage
              | hot_keys (exact host counts over the cached urls)
              | doc_status (copy-on-write MERGE)
          ──► snapshot-atomic zstd parquet writes

Scale mechanics (north_rule):

* **Salted repartition.** Input splits follow file/layout order, so a
  crawl's hot domains land clumped. We repartition on
  ``xxhash64(url, salt)`` before the (expensive) kernel so every
  partition carries an even share of documents regardless of domain
  skew. The salt decorrelates reruns and adversarial url sets.
* **Idempotent resume.** Output commits are snapshot-atomic (staged
  directory + manifest rename locally; Iceberg snapshot commit on a
  real catalog). On restart the driver left-anti joins the input
  against already-committed urls — re-running a half-finished job
  never recomputes or duplicates a document.
* **Lineage.** Every commit also writes per-partition lineage rows
  (counts, bytes, kernel wall time, url range) to the sidecar.
* **One kernel pass, one count.** Every sink reads the cached kernel
  output; the doc and field counts come from one aggregate, the
  hot-domain count from an ``Observation`` on its write.
* **Commit only the delta.** Every sink appends the run's own rows:
  ``doc_status`` is a copy-on-write MERGE that appends when no
  committed url matches (the resume anti-join guarantees that for a
  delta), so no run rewrites history.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.extraction import extract_pages
from ..operators.metrics import partition_lineage


def doc_status(extracted: DataFrame, run_id: str) -> DataFrame:
    """Terminal per-document status rows — the batch collapse of the
    reference's Postgres state machine (``pending extraction → ocr
    running → llm running → done``, ``database/schemas/schema.sql:
    23-25``): intermediate states are unobservable inside one atomic
    snapshot, so only terminal states are recorded, with the
    reference-style status-string mapping (P21)."""
    return extracted.select(
        "url",
        F.when(F.col("error").isNotNull(), "failed")
         .when(F.col("n_elements") == 0, "failed_empty")
         .when(F.col("n_pairs") == 0, "done_no_pairs")
         .otherwise("done").alias("status"),
        F.col("doc_kind"),
        F.col("error"),
        F.lit(run_id).alias("run_id"),
    )

SALT_DEFAULT = 0x5CA1AB1E


def repartition_salted(df: DataFrame, num_partitions: int,
                       salt: int = SALT_DEFAULT) -> DataFrame:
    """Explicit hash partitioning on salted url hash (SURVEY.md §4).

    ``repartition(n, expr)`` hash-partitions on the expression, so
    partition = hash(xxhash64(url, salt)) mod n — uniform over urls,
    independent of domain popularity and of input file layout.
    """
    return df.repartition(
        num_partitions,
        F.xxhash64(F.col("url"), F.lit(salt)))


class SnapshotSink:
    """Minimal snapshot-atomic parquet sink with a manifest log.

    Stands in for an Iceberg table in this sandbox (no catalog jars):
    data lands in ``snap-<run_id>/`` staging dirs and becomes visible
    only when the manifest line is appended — the same
    commit-is-a-pointer-swap discipline as an Iceberg snapshot. The
    Iceberg operations the pipeline relies on are all present:

    * **append** — ``write_snapshot`` (≈ ``writeTo(t).append()``);
    * **merge/upsert** — ``merge_upsert`` (≈ ``MERGE INTO t USING s ON
      keys WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``,
      the reference's Postgres upsert in
      ``src/dms/adapters.py:130-167``), copy-on-write: when no source
      key matches a committed one it is an ``append`` of the source
      rows; otherwise a ``replace`` snapshot that carries survivors +
      new rows, so reads never need merge logic;
    * **time travel** — ``read_committed(as_of=run_id)`` /
      ``read_snapshot`` (≈ ``VERSION AS OF``): earlier snapshots stay
      immutable on disk, a replace only redirects the *current* view.

    A view is read in one parquet scan over its snapshot dirs with
    schemas merged, so reading it costs the same Spark jobs however
    many snapshots it spans. Snapshots carry no partition spec: every
    snapshot dir is flat zstd-compressed part files (Iceberg's default
    Parquet codec since 1.4).

    On a cluster, swap these for the corresponding Iceberg calls.
    """

    def __init__(self, root: str):
        self.root = root
        self.manifest = os.path.join(root, "_manifest.jsonl")

    def committed_snapshots(self) -> list[dict]:
        """Manifest entries in commit order. A final line that does
        not parse is an append torn by a crash: that commit never
        happened, so it is skipped. A bad line followed by good ones
        is corruption, not a crash, and raises."""
        if not os.path.exists(self.manifest):
            return []
        with open(self.manifest, encoding="utf-8") as fh:
            lines = [line for line in fh if line.strip()]
        snaps = []
        for i, line in enumerate(lines):
            try:
                snaps.append(json.loads(line))
            except json.JSONDecodeError:
                if i < len(lines) - 1:
                    raise
        return snaps

    def _end_torn_tail(self) -> None:
        """Before an append: make the manifest end in a newline, so a
        torn final line cannot swallow the next commit. A tail that
        parses lost only its newline; one that does not is cut."""
        if not os.path.exists(self.manifest):
            return
        with open(self.manifest, "rb+") as fh:
            data = fh.read()
            if not data or data.endswith(b"\n"):
                return
            cut = data.rfind(b"\n") + 1
            try:
                json.loads(data[cut:])
            except ValueError:
                fh.truncate(cut)
            else:
                fh.write(b"\n")

    def _visible(self, as_of: str | None = None) -> list[dict]:
        """Snapshots visible in the view at ``as_of`` (inclusive;
        None = current): the suffix since the last ``replace``."""
        snaps = self.committed_snapshots()
        if as_of is not None:
            upto = [i for i, s in enumerate(snaps)
                    if s["run_id"] == as_of]
            if not upto:
                raise KeyError(f"no committed snapshot for run {as_of}")
            snaps = snaps[:upto[-1] + 1]
        start = 0
        for i, s in enumerate(snaps):
            if s.get("op", "append") == "replace":
                start = i
        return snaps[start:]

    def committed_paths(self, as_of: str | None = None) -> list[str]:
        return [os.path.join(self.root, s["dir"])
                for s in self._visible(as_of)]

    @staticmethod
    def _read(spark: SparkSession, paths: list[str]) -> DataFrame:
        """One parquet scan over snapshot dirs. ``mergeSchema`` unions
        the file footers' schemas: a column only later snapshots carry
        reads as null in older rows (Iceberg's add-column rule), and
        incompatible types raise ``CANNOT_MERGE_SCHEMAS`` — without it
        Spark would take one footer's schema and drop such a column
        silently."""
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def read_committed(self, spark: SparkSession,
                       as_of: str | None = None) -> DataFrame | None:
        """Current view, or the view as of snapshot ``as_of``
        (Iceberg ``VERSION AS OF`` time travel), read in one scan over
        the visible snapshot dirs with their schemas merged."""
        paths = self.committed_paths(as_of)
        if not paths:
            return None
        return self._read(spark, paths)

    def read_snapshot(self, spark: SparkSession,
                      run_id: str) -> DataFrame:
        """One snapshot's own rows (not the merged view)."""
        for s in self.committed_snapshots():
            if s["run_id"] == run_id:
                return self._read(
                    spark, [os.path.join(self.root, s["dir"])])
        raise KeyError(f"no committed snapshot for run {run_id}")

    def write_snapshot(self, df: DataFrame, run_id: str,
                       meta: dict | None = None,
                       op: str = "append") -> str:
        # A run_id names an immutable snapshot; reusing one would
        # rewrite snap-<run_id> while a lazy plan (e.g. merge_upsert's
        # survivors) may still be reading it, and the duplicate
        # manifest entry would make _visible/read_snapshot ambiguous.
        if any(s["run_id"] == run_id for s in self.committed_snapshots()):
            raise ValueError(
                f"run_id {run_id!r} already has a committed snapshot; "
                "snapshots are immutable — use a fresh run_id")
        snap_dir = f"snap-{run_id}"
        df.write.mode("overwrite").option("compression", "zstd").parquet(
            os.path.join(self.root, snap_dir))
        os.makedirs(self.root, exist_ok=True)
        entry = {"dir": snap_dir, "run_id": run_id, "op": op,
                 "committed_at": time.time(), **(meta or {})}
        # The append+flush of one manifest line is the atomic commit.
        self._end_torn_tail()
        with open(self.manifest, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(entry) + "\n")
        return snap_dir

    def merge_upsert(self, spark: SparkSession, df: DataFrame,
                     run_id: str, keys: list[str],
                     meta: dict | None = None) -> str:
        """MERGE-equivalent: new rows win on ``keys``, unmatched old
        rows survive; prior snapshots remain readable via time travel.

        Copy-on-write, as Iceberg rewrites only the files that hold a
        matched row: when no source key matches a committed key, the
        source rows are committed as an ``append`` snapshot and no
        committed row is rewritten; otherwise one ``replace`` snapshot
        carries the survivors + the source rows.

        Like ``MERGE INTO``, a source batch with duplicate keys is an
        error (silently unioning it would leave the keyed table with
        several rows per key forever) — dedupe upstream first. One
        probe action decides both: the source keys grouped with their
        counts, left-joined to the committed keys, top row by count.
        """
        current = self.read_committed(spark)
        probe = df.groupBy(*keys).count()
        if current is None:
            hit = F.lit(False)
        else:
            probe = probe.join(
                current.select(*keys).withColumn("_hit", F.lit(True)),
                keys, "left")
            hit = F.col("_hit").isNotNull()
        top = (probe.where((F.col("count") > 1) | hit)
               .select(*keys, "count")
               .orderBy(F.col("count").desc()).limit(1).collect())
        if top and top[0]["count"] > 1:
            raise ValueError(
                f"merge_upsert source has duplicate keys "
                f"(e.g. {dict(zip(keys, top[0][:-1]))}); a MERGE "
                f"source must be unique on {keys}")
        if not top:
            return self.write_snapshot(df, run_id, meta)
        survivors = current.join(df.select(*keys).distinct(),
                                 keys, "left_anti")
        return self.write_snapshot(survivors.unionByName(df), run_id,
                                   meta, op="replace")

    def data_files(self, as_of: str | None = None) -> list[str]:
        """Parquet part files backing the visible view — the metadata
        listing a maintenance pass sizes its work from (Iceberg's
        ``table.files``)."""
        files = []
        for p in self.committed_paths(as_of):
            for dirpath, _dirs, names in os.walk(p):
                files += [os.path.join(dirpath, n) for n in names
                          if n.endswith(".parquet")]
        return files

    def compact(self, spark: SparkSession, run_id: str,
                target_bytes: int = 128 << 20,
                meta: dict | None = None) -> dict:
        """Small-files maintenance — Iceberg's ``rewrite_data_files``
        (binpack) as a replace snapshot.

        Every incremental append (and each per-url micro-batch a
        resumable crawl commits) leaves its own part files; at 10^12
        rows the accumulated small files dominate scan/open cost long
        before data size does. This rewrites the CURRENT view into
        ``ceil(bytes / target_bytes)`` files as one ``replace``
        snapshot: value-identical (one repartition, no
        transformation), prior snapshots stay readable via time
        travel, and readers switch atomically at the manifest append.
        Single-writer like the rest of the sink: don't run it
        concurrently with appends.

        On a real catalog use
        ``CALL <cat>.system.rewrite_data_files(...)``
        (:meth:`IcebergSink.compact`); the 128 MB default matches
        Iceberg's write target and Spark's maxPartitionBytes split.

        Returns {run_id, files_before, files_after, bytes_before}.
        """
        current = self.read_committed(spark)
        if current is None:
            raise ValueError("nothing to compact: no committed snapshots")
        before = self.data_files()
        n_bytes = sum(os.path.getsize(f) for f in before)
        n_target = max(1, math.ceil(n_bytes / target_bytes))
        self.write_snapshot(
            current.repartition(n_target), run_id,
            {"compacted_files": len(before), **(meta or {})},
            op="replace")
        return {"run_id": run_id, "files_before": len(before),
                "files_after": len(self.data_files()),
                "bytes_before": n_bytes}

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """History retention — Iceberg's ``expire_snapshots``.

        Time travel keeps every snapshot's files alive forever; on a
        10^12-row table that is unbounded storage (every replace —
        MERGE, compaction — retains the full pre-image). This drops
        all but the last ``keep_last`` manifest entries, deletes
        snapshot dirs no longer referenced by any surviving entry's
        view, and rewrites the manifest atomically (tmp file +
        ``os.replace``). The CURRENT view is never touched:
        ``keep_last`` is clamped so the suffix always includes the
        visible view's snapshots, and the cut is then ALIGNED to a
        replace boundary (or the log start): a kept append snapshot's
        time-travel view reaches back to the previous replace, so
        expiring that ancestor chain while keeping the append would
        make ``read_committed(as_of=...)`` silently return a partial
        view — instead every kept snapshot stays self-contained
        (Iceberg's ``retain_last`` keeps whole reachable views for the
        same reason). Expired run_ids subsequently raise on ``as_of``
        — exactly Iceberg's contract. Single-writer, like the sink.

        Returns {kept, expired, deleted_dirs}.
        """
        snaps = self.committed_snapshots()
        # never expire into the visible view: the suffix must start at
        # or before the last replace boundary
        visible = len(self._visible())
        keep = max(keep_last, visible)
        if keep >= len(snaps):
            return {"kept": len(snaps), "expired": 0, "deleted_dirs": 0}
        cut = len(snaps) - keep
        # align to a self-contained view: move the cut back to the
        # last replace at-or-before it, so no kept snapshot references
        # an expired ancestor
        while cut > 0 and snaps[cut].get("op", "append") != "replace":
            cut -= 1
        if cut <= 0:
            return {"kept": len(snaps), "expired": 0, "deleted_dirs": 0}
        kept, expired = snaps[cut:], snaps[:cut]
        live = {s["dir"] for s in kept}
        deleted = 0
        for s in expired:
            if s["dir"] in live:
                continue
            path = os.path.join(self.root, s["dir"])
            if os.path.isdir(path):
                shutil.rmtree(path)
                deleted += 1
        tmp = self.manifest + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            for s in kept:
                fh.write(json.dumps(s) + "\n")
        os.replace(tmp, self.manifest)
        return {"kept": len(kept), "expired": len(expired),
                "deleted_dirs": deleted}


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def merge_sql(table: str, source_view: str, keys: list[str]) -> str:
    """The MERGE statement :class:`IcebergSink` runs — new rows win on
    ``keys``, unmatched old rows survive (the reference's Postgres
    upsert, ``src/dms/adapters.py:130-167``)."""
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    return (f"MERGE INTO {table} t USING {source_view} s ON {cond} "
            f"WHEN MATCHED THEN UPDATE SET * "
            f"WHEN NOT MATCHED THEN INSERT *")


class IcebergSink:
    """The SnapshotSink interface on a real Iceberg catalog.

    Same contract as :class:`SnapshotSink` (append snapshots,
    MERGE-upsert, ``VERSION AS OF`` time travel keyed by run_id), but
    every operation is the genuine Iceberg call a cluster user runs:
    ``writeTo(...).append()``, ``MERGE INTO``, ``VERSION AS OF``. The
    run_id → snapshot mapping rides in Iceberg snapshot summary
    properties (``snapshot-property.run_id`` write option), so time
    travel needs no side files. Requires the Iceberg Spark runtime
    (``iceberg_available``); tests skip where the jars are absent.
    """

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table  # fully qualified: catalog.db.name

    def _table_exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def committed_snapshots(self) -> list[dict]:
        if not self._table_exists():
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, summary FROM {self.table}.snapshots "
            f"ORDER BY committed_at").collect()
        return [{"snapshot_id": r.snapshot_id,
                 "run_id": r.summary.get("run_id"),
                 "op": r.summary.get("sink_op", "append")}
                for r in rows]

    def _snapshot_id_for(self, run_id: str) -> int:
        for s in self.committed_snapshots():
            if s["run_id"] == run_id:
                return s["snapshot_id"]
        # MERGE commits can't carry snapshot-property options; their
        # run_id → snapshot mapping is recorded as a table property
        row = self.spark.sql(
            f"SELECT value FROM {self.table}.properties "
            f"WHERE key = 'run.{run_id}'").first()
        if row is not None:
            return int(row.value)
        raise KeyError(f"no committed snapshot for run {run_id}")

    def read_committed(self, spark: SparkSession | None = None,
                       as_of: str | None = None) -> DataFrame | None:
        spark = spark or self.spark
        if not self._table_exists():
            return None
        if as_of is None:
            return spark.table(self.table)
        return spark.sql(
            f"SELECT * FROM {self.table} "
            f"VERSION AS OF {self._snapshot_id_for(as_of)}")

    def read_snapshot(self, spark: SparkSession, run_id: str) -> DataFrame:
        """One snapshot's own rows: incremental read of that commit."""
        sid = self._snapshot_id_for(run_id)
        return (spark.read.format("iceberg")
                .option("start-snapshot-id", self._parent_of(sid))
                .option("end-snapshot-id", sid)
                .load(self.table))

    def _parent_of(self, snapshot_id: int) -> int:
        row = self.spark.sql(
            f"SELECT parent_id FROM {self.table}.snapshots "
            f"WHERE snapshot_id = {snapshot_id}").first()
        return row.parent_id if row and row.parent_id is not None else 0

    def write_snapshot(self, df: DataFrame, run_id: str,
                       meta: dict | None = None,
                       op: str = "append") -> str:
        if any(s["run_id"] == run_id for s in self.committed_snapshots()):
            raise ValueError(
                f"run_id {run_id!r} already has a committed snapshot; "
                "snapshots are immutable — use a fresh run_id")
        writer = (df.writeTo(self.table)
                  .option("snapshot-property.run_id", run_id)
                  .option("snapshot-property.sink_op", op))
        for k, v in (meta or {}).items():
            writer = writer.option(f"snapshot-property.{k}", str(v))
        if not self._table_exists():
            writer.create()
        else:
            writer.append()
        return run_id

    def merge_upsert(self, spark: SparkSession, df: DataFrame,
                     run_id: str, keys: list[str],
                     meta: dict | None = None) -> str:
        dup = (df.groupBy(*keys).count()
               .where(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"merge_upsert source has duplicate keys "
                f"(e.g. {dict(zip(keys, dup[0][:-1]))}); a MERGE "
                f"source must be unique on {keys}")
        if not self._table_exists():
            return self.write_snapshot(df, run_id, meta, op="replace")
        view = f"merge_src_{run_id}"
        df.createOrReplaceTempView(view)
        try:
            spark.sql(merge_sql(self.table, view, keys))
        finally:
            spark.catalog.dropTempView(view)
        # record run_id → MERGE snapshot for VERSION AS OF time travel
        spark.sql(
            f"ALTER TABLE {self.table} SET TBLPROPERTIES "
            f"('run.{run_id}' = '{self._latest_snapshot_id()}')")
        return run_id

    def _latest_snapshot_id(self) -> int:
        return self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").first().snapshot_id

    def compact(self, spark: SparkSession | None = None,
                run_id: str | None = None,
                target_bytes: int = 128 << 20, **_ignored) -> dict:
        """The genuine maintenance call (:meth:`SnapshotSink.compact`
        docstring has the why): Iceberg's binpack rewrite procedure.
        ``run_id`` is unused — Iceberg names the rewrite snapshot
        itself."""
        spark = spark or self.spark
        cat, tbl = self.table.split(".", 1)
        row = spark.sql(
            f"CALL {cat}.system.rewrite_data_files("
            f"table => '{tbl}', "
            f"options => map('target-file-size-bytes', "
            f"'{target_bytes}'))").first()
        return {"rewritten_data_files_count":
                row.rewritten_data_files_count,
                "added_data_files_count": row.added_data_files_count}

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg's history-retention procedure (see
        :meth:`SnapshotSink.expire_snapshots` for the why)."""
        cat, tbl = self.table.split(".", 1)
        row = self.spark.sql(
            f"CALL {cat}.system.expire_snapshots("
            f"table => '{tbl}', retain_last => {int(keep_last)}, "
            f"older_than => TIMESTAMP '9999-01-01 00:00:00')").first()
        return {"deleted_data_files_count": row.deleted_data_files_count}


def make_sink(spark: SparkSession, root: str,
              catalog: str | None = None):
    """Sink factory — the switch between the sandbox stand-in and a
    real Iceberg catalog.

    ``catalog=None`` → :class:`SnapshotSink` under the ``root`` path;
    ``catalog="iceberg:<cat>.<db>.<table>"`` (or any fully-qualified
    table after the prefix) → :class:`IcebergSink` on that table.
    """
    if catalog and catalog.startswith("iceberg:"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg catalog requested but the Iceberg Spark "
                "runtime is not on the classpath")
        return IcebergSink(spark, catalog[len("iceberg:"):])
    return SnapshotSink(root)


def preflight(pages: DataFrame) -> DataFrame:
    """Ingestion-side invariants (reference DMS upload checks,
    ``src/dms/service.py:30-110``, collapsed to input-table filters per
    SURVEY §3.3): rows without a url cannot be keyed, committed, or
    resumed — dropped here (the only silent drop in the engine). Empty
    payloads are NOT dropped: the kernel handles them and doc_status
    records them as ``failed_empty`` — filtering would need a second
    pass over the input to account for them. A sha256 fingerprint
    column is attached for integrity audit (the reference's readback
    check, ``service.py:83-89``)."""
    return (
        pages
        .where(F.col("url").isNotNull())
        .withColumn("payload_sha256", F.sha2(F.col("html"), 256))
    )


def resume_filter(pages: DataFrame, committed: DataFrame | None,
                  ) -> DataFrame:
    """Drop already-committed urls (idempotent restart, SURVEY.md §4)."""
    if committed is None:
        return pages
    return pages.join(committed.select("url"), "url", "left_anti")


def run_crawl_collapse_job(
    spark: SparkSession,
    visits: DataFrame,
    output_root: str,
    compact_max_files: int = 256,
) -> dict:
    """Resumable append-mode crawl collapse: fold the fetch log into
    a committed ``canonical_state`` table (``operators/weburl.py``)
    at DELTA cost per run.

    Resume contract: ``warc_ts`` is the log's strictly-increasing
    offset, so the committed state's ``max(last_seen_epoch)`` is the
    high-water mark — a rerun over the same log folds only rows
    fetched after it, and an unchanged log is a no-op (idempotent).
    Only keys TOUCHED by the delta are rewritten (``merge_upsert``:
    untouched committed rows survive as-is, and a delta of only new
    keys is an append), so the write also scales with the delta, not
    the corpus. Batch equality (merged state ≡
    full recompute) is the oracle-checked contract of the underlying
    merge operator.

    Small-files maintenance: after the commit, the state sink
    compacts whenever its current view exceeds ``compact_max_files``
    data files (:func:`maybe_compact`) — daily-delta MERGEs would
    otherwise accrete part files without bound."""
    from ..operators.weburl import (
        canonical_state,
        merge_canonical_state,
        state_to_pages,
    )

    run_id = uuid.uuid4().hex[:12]
    sink = SnapshotSink(os.path.join(output_root, "canonical_state"))
    committed = sink.read_committed(spark)

    if committed is None:
        merged = canonical_state(visits)
        n = merged.count()
        if n == 0:
            return {"run_id": run_id, "n_pages": 0, "skipped": True}
        sink.write_snapshot(merged, run_id, {"n_pages": n})
        return {"run_id": run_id, "n_pages": n, "skipped": False}

    hwm = committed.agg(
        F.max("last_seen_epoch").alias("h")).collect()[0]["h"]
    delta = visits.filter(
        F.col("warc_ts").cast("long") > F.lit(hwm))
    d_state = canonical_state(delta)
    if d_state.limit(1).count() == 0:
        return {"run_id": run_id, "n_pages": 0, "skipped": True,
                "hwm": hwm}
    # merge only the touched keys; everything else stays committed
    keys = ["canonical_url", "canonical_host"]
    touched = committed.join(
        d_state.select(*keys).distinct(), keys, "left_semi")
    merged = merge_canonical_state(touched, delta)
    n = merged.count()
    sink.merge_upsert(spark, merged, run_id, keys=keys,
                      meta={"n_touched": n, "hwm": hwm})
    stats = {"run_id": run_id, "n_pages": n, "skipped": False,
             "hwm": hwm}
    maint = maybe_compact(spark, run_id,
                          [("canonical_state", sink)],
                          compact_max_files)
    if maint:
        stats["compacted"] = maint
    return stats


def read_canonical_pages(spark: SparkSession,
                         output_root: str) -> DataFrame | None:
    """The collapsed view of a crawl-collapse output (state projected
    through ``state_to_pages``)."""
    from ..operators.weburl import state_to_pages

    sink = SnapshotSink(os.path.join(output_root, "canonical_state"))
    state = sink.read_committed(spark)
    return None if state is None else state_to_pages(state)


def maybe_compact(spark: SparkSession, run_id: str,
                  sinks, max_files: int) -> dict:
    """Compaction cadence for incremental jobs (VERDICT r4 item #8).

    Every delta MERGE/append leaves its own part files; with daily
    crawls at 10^12 rows that is unbounded small-file growth unless
    maintenance runs on a cadence. The cadence here is file-count
    triggered: after its commit, a job calls this with its state
    sinks, and any sink whose CURRENT view exceeds ``max_files`` data
    files is rewritten via :meth:`SnapshotSink.compact` (binpack to
    128 MB targets, one ``replace`` snapshot, value-identical). The
    trigger reads only the manifest/file listing — no data pass when
    nothing exceeds the bound — so steady-state cost is one listing
    per run and file count stays ≤ max_files + one delta's files.

    Returns {sink_name: compact stats} for the sinks that compacted.
    """
    out = {}
    for name, sink in sinks:
        if len(sink.data_files()) > max_files:
            out[name] = sink.compact(spark, f"{run_id}-compact")
    return out


def kernel_fields(extracted: DataFrame) -> DataFrame:
    """The ``fields`` sink rows: the kernel-built ``fields`` arrays of
    ``extract_pages(..., fields=True)`` exploded, one row per (url,
    matched field) — no join, no window.

    Rebalanced and sorted by (url, field_idx): a plain explode writes
    one unsorted file per salted partition, which compresses worse
    than the url-sorted few files AQE coalesces the rebalance into."""
    return (extracted
            .select("url", F.explode("fields").alias("f"))
            .select("url", "f.*")
            .hint("rebalance")
            .sortWithinPartitions("url", "field_idx"))


def detect_hot_domains(pages: DataFrame) -> DataFrame:
    """Exact per-host counts over the batch's urls — the skew guard in
    front of the extraction job (VERDICT r4 item #7).

    The extraction path itself is hot-key-immune by construction
    (``repartition_salted`` hashes ``xxhash64(url, salt)``, never a
    domain-derived key — see BENCH/SKEW.md for the measured 32.06 →
    1.11 balance evidence), so this is an *observability* guard: any
    host at or above 1/160 of the batch is recorded in the run's
    ``hot_keys`` sidecar, the signal that a domain-keyed DOWNSTREAM
    consumer (host-graph aggregation, per-domain stats, crawl
    politeness buckets) needs its own salting or AQE skew handling.

    Returns ``(key, est_count, n_total, is_hot)``, one row per host:
    ``est_count`` is the host's exact count, from one group-by with
    map-side partial aggregation over the column-pruned ``url``, and
    ``n_total`` the sum of those counts. A batch's distinct hosts are
    few next to its documents, so the exact count is cheaper than a
    sketch plus a sampled-candidate probe, and it misses no hot host.
    The count-min sketch (``relational.detect_hot_keys``) stays as the
    driver queries' operator."""
    from ..operators.relational import HOT_ONE_IN

    host = F.lower(F.substring_index(
        F.regexp_replace(F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://",
                         ""), "/", 1))
    n_total = F.sum("est_count").over(Window.partitionBy())
    return (pages.groupBy(host.alias("key"))
            .agg(F.count(F.lit(1)).alias("est_count"))
            .select("key", "est_count", n_total.alias("n_total"),
                    (F.col("est_count") * HOT_ONE_IN >= n_total)
                    .alias("is_hot")))


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_root: str,
    num_partitions: int | None = None,
    salt: int = SALT_DEFAULT,
    wet_dir: str | None = None,
    wat_dir: str | None = None,
) -> dict:
    """One resumable extraction run; returns commit stats.

    With ``wet_dir`` set, the run ALSO emits its delta as Common
    Crawl ``.warc.wet.gz`` files under ``wet_dir/<run_id>/`` (error
    docs excluded) — the full WET corpus is the union of run subdirs,
    mirroring the snapshot deltas, and a resumed (skipped) run writes
    nothing, so re-running never duplicates records. ``wat_dir``
    does the same for the link/head metadata as ``.warc.wat.gz``
    (``sources/warc.py::write_wat``) — the WARC/WET/WAT triple.

    Besides the commit counts (``n_docs``, ``n_fields``,
    ``n_hot_domains``, ``n_wet``/``n_wat``) the stats carry the call's
    own record: ``action_s``, the wall seconds of each Spark action
    (``count``, ``write.<sink>``, ``merge.doc_status``), and
    ``spark_jobs``, the Spark jobs the call launched (counted by a
    job tag)."""
    run_id = uuid.uuid4().hex[:12]
    sc = spark.sparkContext
    # a tag, not a job group: the caller's group stays in place
    tag = f"extraction-job-{run_id}"
    sc.addJobTag(tag)
    actions: dict[str, float] = {}
    try:
        stats = _extraction_run(spark, pages, output_root, run_id,
                                num_partitions, salt, wet_dir, wat_dir,
                                actions)
    finally:
        sc.removeJobTag(tag)
    stats["action_s"] = actions
    stats["spark_jobs"] = _tagged_job_count(spark, tag)
    return stats


def _tagged_job_count(spark: SparkSession, tag: str) -> int:
    """Spark jobs launched under ``tag``, once the status listener has
    seen every event posted so far."""
    jsc = spark.sparkContext._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(10_000)
    except Py4JJavaError:  # listener still busy: count what it has seen
        pass
    return len(jsc.statusTracker().getJobIdsForTag(tag))


def _extraction_run(spark, pages, output_root, run_id, num_partitions,
                    salt, wet_dir, wat_dir,
                    actions: dict[str, float]) -> dict:
    """The body of :func:`run_extraction_job`; records the wall
    seconds of each Spark action in ``actions``."""
    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        actions[name] = time.perf_counter() - t0
        return out

    sink_extracted = SnapshotSink(os.path.join(output_root, "extracted"))
    sink_fields = SnapshotSink(os.path.join(output_root, "fields"))
    sink_lineage = SnapshotSink(os.path.join(output_root, "lineage"))
    sink_status = SnapshotSink(os.path.join(output_root, "doc_status"))
    sink_hotkeys = SnapshotSink(os.path.join(output_root, "hot_keys"))

    todo = resume_filter(preflight(pages),
                         sink_extracted.read_committed(spark))
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    todo = repartition_salted(todo, num_partitions, salt)

    # One kernel pass feeds every sink: cache its output with the
    # kernel's fields in place of ``elements``, which no sink reads.
    extracted = extract_pages(todo, fields=True).persist()
    try:
        counts = timed("count", lambda: extracted.agg(
            F.count("*").alias("docs"),
            F.sum(F.size("fields")).alias("fields")).first())
        n_docs = counts.docs
        if n_docs == 0:
            return {"run_id": run_id, "n_docs": 0, "skipped": True}
        n_fields = counts.fields
        fields = kernel_fields(extracted)
        lineage = partition_lineage(extracted, run_id)

        # url-sorted like ``fields``: the rebalance lets AQE coalesce a
        # small delta into one file instead of one per salted partition
        timed("write.extracted", lambda: sink_extracted.write_snapshot(
            extracted.drop("fields").hint("rebalance")
            .sortWithinPartitions("url"), run_id, {"n_docs": n_docs}))
        timed("write.fields", lambda: sink_fields.write_snapshot(
            fields, run_id, {"n_rows": n_fields}))
        timed("write.lineage", lambda: sink_lineage.write_snapshot(
            lineage, run_id))
        # Skew-guard sidecar: detected hot domains for THIS run's
        # batch (empty snapshot = clean batch, still recorded so the
        # absence of skew is auditable, not assumed). The cached
        # output holds exactly the batch's urls, so the guard reads
        # no input a second time.
        seen = Observation()
        hot_rows = (detect_hot_domains(extracted)
                    .filter(F.col("is_hot"))
                    .withColumn("run_id", F.lit(run_id))
                    .observe(seen, F.count(F.lit(1)).alias("n")))
        timed("write.hot_keys", lambda: sink_hotkeys.write_snapshot(
            hot_rows, run_id))
        # doc_status is keyed state, not an event log: a re-extracted
        # url must UPDATE its row (reference MERGE semantics,
        # src/dms/adapters.py:130-167), so the status sink upserts.
        # url uniqueness is an ingest invariant (the reference DMS
        # assigns unique ids); if the crawl re-fetched a url inside
        # one batch anyway, keep the deterministic min row so the
        # keyed MERGE contract holds.
        status = (
            doc_status(extracted, run_id)
            .groupBy("url")
            .agg(F.min(F.struct("status", "doc_kind", "error",
                                "run_id")).alias("m"))
            .select("url", "m.status", "m.doc_kind", "m.error",
                    "m.run_id"))
        timed("merge.doc_status", lambda: sink_status.merge_upsert(
            spark, status, run_id, keys=["url"]))
        stats = {"run_id": run_id, "n_docs": n_docs,
                 "n_fields": n_fields, "n_hot_domains": seen.get["n"],
                 "skipped": False}
        if wet_dir is not None:
            from ..sources.warc import write_wet

            # warc_ts re-joined from the (column-pruned) input scan —
            # the extraction stage deliberately ships only (url, html)
            # across the Arrow boundary
            docs = (extracted.filter(F.col("error").isNull())
                    .select("url", "extracted_text")
                    .join(todo.select("url", "warc_ts"), "url"))
            stats["n_wet"] = timed("write.wet", lambda: write_wet(
                docs.select("url", "warc_ts", "extracted_text"),
                os.path.join(wet_dir, run_id)))
        if wat_dir is not None:
            from ..sources.warc import write_wat

            docs = (extracted.filter(F.col("error").isNull())
                    .select("url", "doc_kind", "title", "base_href",
                            "link_canonical", "links", "metas")
                    .join(todo.select("url", "warc_ts"), "url"))
            stats["n_wat"] = timed("write.wat", lambda: write_wat(
                docs, os.path.join(wat_dir, run_id)))
        return stats
    finally:
        extracted.unpersist()

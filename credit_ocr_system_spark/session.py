"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def make_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The engine is a plain Python package; executors need it on their
    ``sys.path``. This builds the exact artifact a cluster submit
    would ship (north_rule: "packaged for spark-submit --py-files").
    """
    import credit_ocr_system_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    if not os.path.isdir(pkg_dir):
        # Already running from a zip (spark-submit --py-files): the
        # shipping artifact exists — return it instead of walking a
        # zip path (which would write out an empty archive).
        zip_path = pkg_dir
        while zip_path and not os.path.isfile(zip_path):
            zip_path = os.path.dirname(zip_path)
        if zip_path and zipfile.is_zipfile(zip_path):
            return zip_path
        raise RuntimeError(
            f"cannot locate package sources to zip (from {pkg_dir})")
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(),
                            f"credit_ocr_system_spark-{pkg.__version__}.zip")
    # Deterministic bytes (pinned timestamps, sorted entries): Spark
    # refuses a re-added file whose content changed, so the zip must be
    # identical whether built here or pre-shipped via --py-files.
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        for name in files:
            if name.endswith(".py"):
                full = os.path.join(root, name)
                rel = os.path.join("credit_ocr_system_spark",
                                   os.path.relpath(full, pkg_dir))
                entries.append((rel, full))
    # Atomic replace: another Spark app may be serving this exact path
    # to its executors right now (spark-submit --py-files + a driver
    # rebuilding on session start). Truncate-in-place hands a fetching
    # executor a partial zip -> ModuleNotFoundError on the worker.
    tmp = f"{dest}.tmp.{os.getpid()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel, full in sorted(entries):
            info = zipfile.ZipInfo(rel, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            with open(full, "rb") as fh:
                zf.writestr(info, fh.read())
    os.replace(tmp, dest)
    return dest


def build_session(app_name: str = "credit-ocr-system-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    """Session tuned for the extraction workload.

    * AQE on (runtime coalesce + skew-join splitting);
    * Arrow on for pandas-UDF exchange; small Arrow batches because
      rows carry whole page payloads (binary ``html``) — batch bytes,
      not batch rows, is the executor-memory bound (SURVEY.md §4);
    * UTC session timezone so timestamps hash identically everywhere;
    * a codegen class cache big enough for the job's plans: the default
      100 entries is less than one extraction job plus a few queries
      compile, so least-recently-used eviction made every repeated job
      recompile the ~35 classes its previous run had already built.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # persistent bucketed tables (plans/bucketed.py) land in the
        # session warehouse; default it OUT of the repo working tree
        # Trust the write-time sortBy order of bucketed scans, which
        # eliminates the per-join Sort as well as the Exchange. Sound
        # because per-file ordering is all Spark can verify and
        # plans/bucketed.py::write_bucketed — this engine's only
        # bucketed-table producer — repartitions by the bucket key
        # first, so every bucket is exactly one (sorted) file.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering",
                "true")
        .config("spark.sql.warehouse.dir",
                os.environ.get(
                    "SPARK_GRAFT_WAREHOUSE",
                    os.path.join(tempfile.gettempdir(),
                                 f"cos_warehouse_{os.getpid()}")))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("spark://"):
        # standalone cluster (bench --scaling / real deployment): one
        # executor per worker; worker -c sets its task slots
        builder = builder.config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
    spark = builder.getOrCreate()
    # Ship the engine to Python workers — equivalent to
    # `spark-submit --py-files <zip>`; without it, only drivers whose
    # CWD happens to contain the package can run the kernel stage.
    # Tolerate a pre-shipped copy (spark-submit --py-files) — the zip
    # bytes are deterministic, but a stale build may still linger.
    try:
        spark.sparkContext.addPyFile(make_pyfiles_zip())
    except Exception:
        pass
    return spark

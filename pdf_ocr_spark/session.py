"""SparkSession construction with the engine's physical defaults."""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

from .config import DEFAULT


def build_session(app_name: str = "pdf-ocr-spark", cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    """local[N] session with the engine's tuned defaults.

    On a real cluster the same config block ships via spark-submit --conf;
    nothing here is local-mode-specific except the master URL.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cores)))
    b = (
        SparkSession.builder
        .appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    )
    b = _tuned_conf(b)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def cluster_session(app_name: str) -> SparkSession:
    """Session for spark-submit entrypoints (jobs/*.py).

    A plain Python script under spark-submit has NO active session —
    only the pyspark shell pre-creates one — so getActiveSession() was
    never a valid spark-submit detector: the jobs silently fell through
    to build_session's .master('local[N]'), overriding --master and
    running the whole job on the driver (review r4). The real signal is
    the submit-provided conf: when spark.master is already set
    (--master / spark-defaults), build with the tuned conf block and NO
    master override so the cluster actually runs the job."""
    from pyspark import SparkConf

    active = SparkSession.getActiveSession()
    if active is not None:
        ship_package(active)
        return active
    if SparkConf().contains("spark.master"):
        spark = _tuned_conf(
            SparkSession.builder.appName(app_name)).getOrCreate()
        ship_package(spark)
        return spark
    return build_session(app_name)


def _tuned_conf(b):
    return (
        b
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Viral-attachment skew in the payload join-back (pipeline.py
        # build_result) is handled by AQE: broadcast when the decoded
        # results are small, OptimizeSkewedJoin partition splitting when
        # sort-merge (verified SortMergeJoin(skew=true) in
        # tests/test_pipeline_skew.py). Pinned on explicitly; at 100 TB
        # tune skewedPartitionThresholdInBytes /
        # advisoryPartitionSizeInBytes to executor memory.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # fat base64 rows: bound Arrow batch memory (SURVEY §7 hard parts)
        # BOTH caps matter: records bounds thin-row batches, bytes bounds
        # fat-payload batches (256 records of 100 MB payloads would
        # otherwise materialize ~25 GB in one Python worker). 64 MB is
        # the Spark 4 default — pinned so the guarantee is explicit.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(DEFAULT.arrow_max_records_per_batch))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet dynamic partition overwrite = Iceberg overwritePartitions
        # stand-in for idempotent per-bucket resume
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # list partition directories on the driver, not in a Spark job:
        # above the default threshold of 32 paths every listing is a
        # one-task-per-directory job. run_extraction's parquet read-back
        # lists <= num_buckets bucket directories (an Iceberg table lists
        # nothing), so pin the threshold above any bucket count the
        # engine reads back
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # progress bars on stderr break a script's final JSON line
        .config("spark.ui.showConsoleProgress", "false")
    )


_PKG_ZIP_DIR: str | None = None


def package_zip(out_dir: str | None = None) -> str:
    """Zip the pdf_ocr_spark package for --py-files / addPyFile.

    The same artifact a cluster deployment passes to
    ``spark-submit --py-files`` (see jobs/run_extract.py). Default
    output is a per-process temp directory (created once, reused):
    a fixed shared path would let concurrent sessions on one host
    truncate each other's zip while executors fetch it
    (code-review r3)."""
    global _PKG_ZIP_DIR
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    if out_dir is None:
        if _PKG_ZIP_DIR is None:
            _PKG_ZIP_DIR = tempfile.mkdtemp(prefix="pdf_ocr_spark_pkg_")
        out_dir = _PKG_ZIP_DIR
    zip_path = str(pathlib.Path(out_dir) / "pdf_ocr_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, "pdf_ocr_spark/" + str(py.relative_to(pkg_dir)))
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Ship the package zip to executors — the programmatic equivalent
    of spark-submit --py-files.

    In local mode a ``pdf_ocr_spark/`` directory in the driver's working
    directory shadows the zip: PySpark's Python workers import from the
    cwd first, so they can run another checkout's code than the driver.
    Run from the checkout being measured."""
    spark.sparkContext.addPyFile(package_zip())


def _keep_archive_directory() -> None:
    """``zipimporter.invalidate_caches`` replacement: keep the archive
    directory read at import time."""


def skip_archive_rescans(files_root: str | None = None) -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading the zip
    archives this Python worker did not receive as Spark files.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``). Before CPython 3.13 each
    cached ``zipimporter`` then eagerly re-reads its archive's central
    directory: pyspark.zip through one importer per package path inside
    it, plus the py4j zip and the spark-core jar, 130-340 ms a task.
    Those archives belong to the Spark install and do not change while
    the worker lives. Archives under ``files_root`` (default: the
    SparkFiles root, where addPyFile and --py-files land) keep their
    refresh. Matching by location, not by name: workers import PySpark
    from the Spark install, not from site-packages.

    Call it at the top of a UDF body. It is idempotent, and the worker
    stays patched for its whole life, so every later task on it skips
    the re-read, whatever its UDF."""
    if sys.version_info >= (3, 13):
        return
    if files_root is None:
        from pyspark import SparkFiles
        files_root = SparkFiles.getRootDirectory()
    root = os.path.realpath(files_root)
    for importer in list(sys.path_importer_cache.values()):
        if not isinstance(importer, zipimport.zipimporter):
            continue
        archive = os.path.realpath(importer.archive)
        if os.path.commonpath([archive, root]) != root:
            importer.invalidate_caches = _keep_archive_directory

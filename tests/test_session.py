"""build_session's tuned defaults and the Python-worker archive helper."""

import sys

import pytest


def test_console_progress_bar_is_off(spark):
    """Progress bars go to stderr and would share the line of a script's
    final JSON output."""
    assert spark.sparkContext.getConf().get(
        "spark.ui.showConsoleProgress") == "false"


def test_partition_discovery_lists_on_the_driver(spark):
    """A read-back of up to num_buckets bucket directories is listed on
    the driver, not as a one-task-per-directory Spark job."""
    assert spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold") == "1024"


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13+ re-reads zip archives lazily; "
                           "the helper does nothing there")
def test_skip_archive_rescans_spares_only_outside_archives(
        tmp_path, monkeypatch):
    """After the helper, importlib.invalidate_caches() re-reads a zip
    under the files root (an addPyFile archive may be replaced) but not
    one outside it (the Spark install's pyspark.zip), and the outside
    zip still imports."""
    import importlib
    import zipfile
    import zipimport

    from pdf_ocr_spark.session import skip_archive_rescans

    def make_zip(path, modules):
        path.parent.mkdir(parents=True, exist_ok=True)
        with zipfile.ZipFile(path, "w") as zf:
            for name in modules:
                zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
        return str(path)

    outside = make_zip(tmp_path / "install" / "lib.zip",
                       ["rescan_out_a", "rescan_out_b"])
    files_root = tmp_path / "userFiles"
    inside = make_zip(files_root / "shipped.zip", ["rescan_in"])
    monkeypatch.syspath_prepend(outside)
    monkeypatch.syspath_prepend(inside)
    for name in ("rescan_out_a", "rescan_out_b", "rescan_in"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("rescan_out_a").NAME == "rescan_out_a"
    assert importlib.import_module("rescan_in").NAME == "rescan_in"

    skip_archive_rescans(str(files_root))
    skip_archive_rescans(str(files_root))  # idempotent

    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert outside not in reads
    assert inside in reads
    assert importlib.import_module("rescan_out_b").NAME == "rescan_out_b"
    for path in (outside, inside):
        sys.path_importer_cache.pop(path, None)


def test_flagship_task_stops_worker_archive_rescans(spark):
    """Once a flagship UDF has run on a Python worker, that worker's
    importers for pyspark.zip carry the no-op, so later tasks on it skip
    the re-read whatever their UDF."""
    import pandas as pd

    from pdf_ocr_spark.config import DEFAULT
    from pdf_ocr_spark.pipeline import OUTPUT_SCHEMA, _make_extract_udf

    cores = spark.sparkContext.defaultParallelism
    # enough tasks to pass through every idle worker of the pool
    n = 4 * cores
    turns = spark.createDataFrame(
        [(f"c{i}", 0, "plain text", 0) for i in range(n)],
        "conv_id string, turn_idx int, text string, bucket int",
    ).repartition(n)
    turns.mapInPandas(_make_extract_udf(DEFAULT), OUTPUT_SCHEMA).collect()

    def probe(batches):
        import os
        import sys
        import zipimport
        for _ in batches:
            flags = ["invalidate_caches" in vars(imp)
                     for imp in list(sys.path_importer_cache.values())
                     if isinstance(imp, zipimport.zipimporter)
                     and os.path.basename(imp.archive) == "pyspark.zip"]
            yield pd.DataFrame({"importers": [len(flags)],
                                "patched": [sum(flags)]})

    found = spark.range(cores, numPartitions=cores).mapInPandas(
        probe, "importers long, patched long").collect()
    assert found
    assert all(r.importers > 0 and r.patched == r.importers for r in found)

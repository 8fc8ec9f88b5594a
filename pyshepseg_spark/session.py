"""SparkSession builder with engine defaults.

Scale-minded defaults: AQE on (runtime re-plan + skew-join splitting,
SURVEY.md §4 skew row), Arrow enabled for every pandas UDF boundary,
shuffle partitions sized for the local test harness but overridable
for cluster runs (set spark.sql.shuffle.partitions ~ 2-3x total cores
on a real cluster).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

# zipimporter.invalidate_caches() re-reads the whole zip directory on
# CPython 3.10 to 3.12 (checked on 3.10.13, 3.11.7 and 3.12.1); 3.13
# added _get_files() and only drops the shared cache entry
_EAGER_ZIP_INVALIDATE = not hasattr(zipimport.zipimporter, "_get_files")


class _LazyZipImporter(zipimport.zipimporter):
    """zipimporter whose invalidate_caches() only marks the archive
    stale; the first lookup that needs the directory afterwards
    re-reads it into zipimport._zip_directory_cache, once for all
    importers on that archive."""

    _stale: set[str] = set()  # archives invalidated since last read

    @property
    def _files(self):
        cache = zipimport._zip_directory_cache
        if self.archive in self._stale or self.archive not in cache:
            self._stale.discard(self.archive)
            try:
                cache[self.archive] = zipimport._read_directory(
                    self.archive)
            except zipimport.ZipImportError:
                cache.pop(self.archive, None)
                return {}
        return cache[self.archive]

    @_files.setter
    def _files(self, files):
        # only zipimporter.__init__ assigns, right after storing the
        # same dict in _zip_directory_cache, which the getter reads
        pass

    def invalidate_caches(self):
        self._stale.add(self.archive)


def lazy_worker_zipimport() -> bool:
    """Make importlib.invalidate_caches() cheap in a Spark Python
    worker; returns True when the lazy zip importer is in use.

    The worker calls importlib.invalidate_caches() before every task,
    also when it is reused. On CPython 3.10-3.12 every cached
    zipimporter then re-reads its archive directory: on 3.11 with
    Spark 4.1, 16 reads and 100-280 ms per task for the pyspark.zip
    and jar entries, more than a small task's work. This swaps the
    zipimporter path hook for _LazyZipImporter and replaces the plain
    zipimporters already cached with lazy ones built from
    zipimport._zip_directory_cache, without reading the archive. A
    module added to a zip later is still found: the re-read moves to
    the first lookup after an invalidation.

    It acts only while a Spark task is running (TaskContext.get() is
    set); the driver's import system is never changed."""
    if TaskContext.get() is None or not _EAGER_ZIP_INVALIDATE:
        return False
    hooks = sys.path_hooks
    if zipimport.zipimporter in hooks:
        hooks[hooks.index(zipimport.zipimporter)] = _LazyZipImporter
    elif _LazyZipImporter not in hooks:
        return False
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                cache[path] = _LazyZipImporter(path)
            except zipimport.ZipImportError:
                del cache[path]
    return True


def get_spark(app_name: str = "pyshepseg_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # one BLAS thread per python worker: the kernels already saturate
    # every core via Spark partitions; nested BLAS threading only
    # causes cache thrash (local-mode workers inherit driver env)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (SparkSession.builder
         .appName(app_name)
         .master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
         .config("spark.serializer",
                 "org.apache.spark.serializer.KryoSerializer")
         .config("spark.driver.memory",
                 os.environ.get("SPARK_DRIVER_MEM", "8g"))
         .config("spark.sql.parquet.compression.codec", "zstd")
         # truncate binary min/max column statistics: on the images
         # table the payload column is an opaque raster (min/max is
         # useless for pruning), and parquet-mr stores the FULL value
         # twice per chunk in the uncompressed footer — a single
         # 16384^2 u16 image (1.6 GB/value) produced a 6.4 GB footer
         # and ParquetSizeOverflowException (>2 GiB limit, measured)
         .config("spark.hadoop.parquet.statistics.truncate.length",
                 "64")
         # ...but truncation CANNOT shorten a max whose prefix is
         # all-0xFF (rounding the last kept byte up would overflow,
         # so parquet-mr keeps the FULL value) — and raster payloads
         # routinely START with the nodata margin, 65535 = 0xFFFF
         # repeated. Measured: a 14592^2 image (1.28 GB value)
         # wrote a 1.22 GB footer (one untruncated max) that then
         # failed every read with thrift's 100 MB message cap.
         # Stats on opaque payload blobs are useless for pruning;
         # disable them per-column (other columns keep min/max).
         .config("spark.hadoop.parquet.column.statistics."
                 "enabled#bytes", "false")
         .config("spark.hadoop.parquet.column.statistics."
                 "enabled#segdata", "false")
         .config("spark.hadoop.parquet.column.statistics."
                 "enabled#pixels", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark, n: int | None = None):
    """Pre-fork and warm one python worker per core: each forked
    worker pays ~1s importing numpy/pandas (+ this package) on its
    first Arrow UDF; paying it once up front keeps kernel stages from
    serializing on cold imports (workers are reused across stages —
    spark.python.worker.reuse defaults true).

    This removes only the one-off cost of a new worker. Every task,
    also on a reused worker, has a fixed cost of its own: the worker
    calls importlib.invalidate_caches() before each task, which on
    CPython 3.10-3.12 re-reads every cached zip archive directory
    (100-280 ms per task). Importing this package in the worker, as
    the warm-up kernel does, makes that call lazy
    (lazy_worker_zipimport)."""
    import pandas as pd  # noqa: F401

    n = n or spark.sparkContext.defaultParallelism

    def k(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyshepseg_spark.kernels.shepherd  # noqa: F401
        import time as _t
        _t.sleep(0.2)  # hold the worker so all n fork concurrently
        for pdf in batches:
            yield pdf

    spark.range(0, n, 1, n).mapInPandas(k, "id long") \
        .write.format("noop").mode("overwrite").save()

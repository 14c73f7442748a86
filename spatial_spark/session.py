"""SparkSession factory tuned for this engine.

Local-mode settings per the driver environment (local[32], single JVM);
the same builder settings are what we'd ship for a 1000-executor cluster,
minus the master/memory lines which come from spark-submit there.

Importing this module also makes zipimport re-read an archive's directory
only when the archive has changed (``_install_zip_reread_on_change``).
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _install_zip_reread_on_change() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read its archive's
    directory only when the archive's (mtime_ns, size) differs from the
    stamp taken at this importer's last read.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark.worker_util.setup_spark_files``).  Before
    Python 3.13 that makes every zipimporter on the path re-parse its
    whole central directory in pure Python.  A reused worker holds 14 of
    them (pyspark.zip, eleven of its packages, the spark-core jar and its
    org/) and spent 117-171 ms of every task re-reading archives that
    never change.  The first call on each importer, and any call whose
    stat fails, reads as before.  Python 3.13 drops the cache lazily
    itself, so nothing is installed there.  Installing twice wraps once.
    """
    read = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(read, "rereads_on_change", False):
        return

    @functools.wraps(read)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_dir_stamp", None):
            read(self)
            self._dir_stamp = stamp

    invalidate_caches.rereads_on_change = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_reread_on_change()


def get_spark(app: str = "spatial_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata uses parquet TIMESTAMP(NANOS), illegal for Spark's
        # reader — surface as long nanos; io.tables.load_table converts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPATIAL_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

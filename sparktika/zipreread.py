"""Warm reused Python workers: re-read a zip archive's directory only
when the archive changed.

The reference keeps forked JVMs warm between documents; a reused Spark
Python worker was not warm. Before every task PySpark's worker calls
`importlib.invalidate_caches()` (pyspark/worker_util.py), and below
Python 3.13 `zipimporter.invalidate_caches` re-reads its archive's whole
directory, once per importer. A reused extraction worker holds 16 of
them (12 on pyspark.zip, 2 on the spark-core jar, 2 on py4j) over
26,672 entries: 120-145 ms of re-parsing per task before the first row
reached the kernel. With the patch an archive is re-read only when its
(st_mtime_ns, st_size) changed (0.1 ms for the 16). Measured at local[4]
on a 4-vCPU host, ten alternating pairs per workload, when only the
mapInArrow stages installed it: `html_extract` 2,114 -> 2,706 docs/s and
1.58 -> 1.25 CPU s/kdoc; `mixed_formats` 7,207 -> 8,649 docs/s and
0.48 -> 0.40 CPU s/kdoc; a one-row mapInArrow job at local[1]
0.23-0.35 -> 0.11-0.15 s.

Where it is installed: `sparktika/__init__.py` calls it, so every
process that imports sparktika code is patched once, including a worker
that runs only scalar UDFs (`F.udf(..., useArrow=True)`, `pandas_udf`):
unpickling or calling the UDF imports the package. `arrowmap.row_batches`
also re-checks it per task (an attribute test when already installed).
This module imports only the standard library, so `import
sparktika.kernels` stays free of pyarrow and pyspark.

Delete it once the workers run Python >= 3.13, whose zipimporter reads
its directory lazily (it is a no-op there already).
"""

from __future__ import annotations

import os
import sys
import zipimport


def reread_zips_only_when_changed() -> None:
    """Make `importlib.invalidate_caches()` re-read a zip archive only when
    its (st_mtime_ns, st_size) changed since that importer last read it.

    Patches `zipimport.zipimporter` once per process; a changed, new or
    vanished archive still gets CPython's re-read (and, if it vanished,
    CPython's emptied directory). A no-op on Python >= 3.13, whose
    zipimporter already re-reads lazily."""
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(current, "reread"):
        return

    def invalidate_caches(self):
        # stat BEFORE reading: a change racing the read leaves the older
        # stamp behind, so the next call reads again instead of missing it
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            current(self)
            self._read_stamp = stamp

    invalidate_caches.reread = current
    zipimport.zipimporter.invalidate_caches = invalidate_caches

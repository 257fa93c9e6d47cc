"""Python-worker import-cache guard.

PySpark resets the import caches at the start of every Python task
(``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``). On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory, though a reused worker's archives do not
change between tasks.

NOTE (measured on 4 vCPUs, PySpark 4.1.2, CPython 3.11.7): a worker
holds 16 zip importers, 2 on the spark-core jar at 21–30 ms each, 12 on
the 1,328-entry ``pyspark.zip`` at 5–9 ms each and 2 on py4j's zip at
0.1 ms, so the reset cost 105–200 ms of every task, about a fifth of a
~0.55 s ``load_upsert`` sink call; with the guard it costs 0.1 ms, and
``load_upsert`` ``pass_s`` went 1.23 → 1.08 s (median of 12 pairs).
:func:`install` makes an importer re-read only when its archive's
``(st_mtime_ns, st_size)`` moved. It runs from the package ``__init__``
(unpickling any by-reference engine function imports the package) and
from the sink's partition function (shipped by value, so the sink
still needs no package on executors). A worker that has only run
functions that never import the package (a UDF defined in ``__main__``
or nested in a test function) keeps paying the re-read.
Rejected: a ``spark.python.daemon.module`` daemon with the same guard
won 6/6 ``load_upsert`` pairs at -16 % ``pass_s``, but it covers only
sessions that ``session.get_spark`` builds, not a caller's vanilla
session, and the daemon fails to start when workers cannot import the
package, which breaks the bare-checkout sink.
"""

from __future__ import annotations

import os
import sys
import zipimport

_MARK = "_stat_guarded"


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` with an archive stat, once
    per Python worker; a no-op outside a task (on the driver)."""
    # A worker imports pyspark before it unpickles anything; a process
    # that has not is not running a task.
    pyspark = sys.modules.get("pyspark")
    zi = zipimport.zipimporter
    if (
        pyspark is None
        or pyspark.TaskContext.get() is None
        or getattr(zi.invalidate_caches, _MARK, False)
    ):
        return
    reread = zi.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or getattr(self, "_archive_stamp", None) != stamp:
            reread(self)  # a missing archive takes the original path
            self._archive_stamp = stamp

    setattr(invalidate_caches, _MARK, True)
    # This task's setup has just re-read every importer already cached.
    for imp in sys.path_importer_cache.values():
        if isinstance(imp, zi):
            imp._archive_stamp = _stamp(imp.archive)
    zi.invalidate_caches = invalidate_caches

"""PySpark worker daemon that re-reads a zip archive only when it changed.

``build_session`` names this module in ``spark.python.daemon.module``
for local masters, so Spark starts it (``python -m <module>
<worker module>``) in place of ``pyspark.daemon``. It installs
``invalidate_caches`` below and then runs the stock
``pyspark.daemon.manager()``; the workers it forks run the stock
worker. Importing this module imports the ``graphsense_datafeed_spark``
package from ``spark.executorEnv.PYTHONPATH`` before the fork, so the
workers load the package's modules from that checkout rather than from
the ``addPyFile`` zip that ``ensure_runtime_confs`` ships (the zip is
built from the same sources).

Why: before every task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. On Python >= 3.10 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
the central directory of its archive, and a worker holds 12-16 of
them on ``pyspark.zip`` (1,328 entries). In a cProfile of one trivial
task those re-reads were the only cost in the worker's ``main()``
besides waiting on the socket. Here an importer re-reads its archive
only when the archive's ``(mtime_ns, size, inode)`` differs from the
last read, so an archive that is rewritten or replaced (an
``addPyFile`` of a new zip under the same name) is still re-read.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# None below Python 3.10, where zipimporter has no invalidate_caches and
# invalidate_caches() re-reads nothing.
_stock_invalidate = getattr(zipimport.zipimporter, "invalidate_caches", None)

# archive path -> (stat stamp taken before the read, directory it read)
_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives.

    The stamp is taken before the read: an archive that changes during
    the read gets a new stamp and is read again on the next call."""
    stamp = _stamp(self.archive)
    seen = _read.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _stock_invalidate(self)
    if stamp is None:
        _read.pop(self.archive, None)
    else:
        _read[self.archive] = (stamp, self._files)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` and read each archive
    once, so that forked workers start with every stamp recorded."""
    if _stock_invalidate is None:
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # install from the importable module, not from __main__, so that
    # the patched method names this module
    from pyspark import daemon

    from graphsense_datafeed_spark.worker_daemon import install as _install

    _install()
    daemon.manager()

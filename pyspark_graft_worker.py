"""Python worker entry point for this engine's Spark sessions.

``session.get_spark`` sets ``spark.python.worker.module`` to this module.
The Python daemon imports it once, before it forks, so every worker it
forks inherits the patch below; the module then hands each task to
``pyspark.worker.main`` unchanged.

Why: before every task PySpark calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython 3.11
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, and a worker holds one zipimporter per subpackage of
``pyspark.zip`` on its path (16 of them). So each task re-parses the
1,300-entry ``pyspark.zip`` 16 times, about 0.2 CPU-s per task, although
the file never changes.

The patch re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read, or when ``stat`` fails. An
unchanged archive re-read gives the same directory, so no import can
resolve differently. A read is remembered only once the archive's mtime
is ``_SETTLED_NS`` old: a later rewrite then gets a later mtime even on
a file system with coarse timestamps. Directory finders and other
finders are invalidated on every task, as before.

The module name must start with ``pyspark``: ``pyspark/daemon.py``
ignores any other worker module and silently uses ``pyspark.worker``.
"""

from __future__ import annotations

import os
import time
import zipimport

from pyspark.worker import main  # noqa: F401  (the daemon calls main)

#: how old an archive's mtime must be before a read of it is remembered
_SETTLED_NS = 2_000_000_000

_reread = zipimport.zipimporter.invalidate_caches

#: archive path -> ((st_mtime_ns, st_size, st_ino), directory) of the
#: last settled read; shared by every zipimporter of that archive, as
#: zipimport's own directory cache is
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _last_read.pop(self.archive, None)
        _reread(self)
        return
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    last = _last_read.get(self.archive)
    if last is not None and last[0] == key:
        # what a re-read of the unchanged file would assign
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    # stat before the read: a rewrite racing the read shows as a new key
    _reread(self)
    files = getattr(self, "_files", None)  # absent where zipimport is lazy
    if files is not None and time.time_ns() - st.st_mtime_ns >= _SETTLED_NS:
        _last_read[self.archive] = (key, files)
    else:
        _last_read.pop(self.archive, None)


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    # without the daemon, Spark runs the worker module as a script
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__")

"""Python worker daemon for ``get_spark`` sessions.

``get_spark`` names this module as ``spark.python.daemon.module`` on
``local[...]`` masters; Spark starts it with ``python -m`` once per
worker pool, and it forks every Python worker of the session.

Why it exists: at the start of every task Spark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), so that the task's ``addPyFile`` archives become
importable. Spark's worker path also holds ``pyspark.zip`` (1,328
entries), the py4j zip and the ``spark-core`` jar (5,359 entries), and
``sys.path_importer_cache`` holds one ``zipimporter`` per archive and
sub-package prefix. Before CPython 3.12 (gh-103200 made it lazy)
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory on each call. Measured on a 4-core VM (PySpark 4.1.2, CPython
3.11.7): 147 ms per task, 70 ms of it the jar, and a 500-row
``mapPartitions`` that started its function 190 ms after launch.

On Python < 3.12 the daemon makes an importer re-read its archive only
when the archive's ``(st_mtime_ns, st_size)`` differs from the one it
had at the last read, reads every archive once before forking, then
hands over to ``pyspark.daemon.manager()``. The forked workers inherit
both. An archive that is rewritten is still re-read on the next call.
"""

from __future__ import annotations

import importlib
import os
import sys


def _stamp(path: str) -> "tuple[int, int] | None":
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _reread_changed_archives_only() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` so that an
    unchanged archive keeps its cached directory. ``read_at`` maps an
    archive to its stamp, taken just before the read that filled
    ``zipimport._zip_directory_cache``; a stamp that cannot be taken or
    differs means a full re-read, as before."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    read_at: "dict[str, tuple[int, int] | None]" = {}

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and read_at.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    if sys.version_info < (3, 12):
        _reread_changed_archives_only()
        # one read per archive here, not one per task in every worker
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()

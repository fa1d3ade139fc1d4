"""Python worker daemon for the package's Spark sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts ``python -m deepdoctection_spark.workerd`` where it would start
``pyspark.daemon``. The module installs one fix and then runs pyspark's own
daemon loop; the workers it forks inherit the fix from their first task on.

The fix. Before every task a reused worker runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. Up to CPython 3.12 that makes every cached
``zipimporter`` re-read the whole central directory of its archive. A worker
holds one importer per imported package directory of ``pyspark.zip`` (16 in
a worker that has run the extraction stage), each reading all of the
archive's entries into a private dict before every task. ``install``
replaces ``zipimporter.invalidate_caches`` with one that re-reads an archive
only when its inode, mtime or size differ from the last read, and otherwise
re-binds the importer to the directory already shared in
``zipimport._zip_directory_cache``. A rewritten archive is still picked up.
CPython 3.13 made the stock method lazy, so there ``install`` changes
nothing.

The module lives inside the package on purpose: the daemon then imports the
package before it forks, and the workers share those pages.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int, int] | None:
    """(inode, mtime ns, size) of ``archive``; None when it cannot be read."""
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive changed. Returns whether the method was replaced: False on
    CPython >= 3.13 and when it is already installed.

    Archives already in the directory cache are stamped now, so they count
    as read at install time; an archive first read later is read once more
    by its first ``invalidate_caches`` and stamped then."""
    stock = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or stock.__qualname__ == _QUALNAME:
        return False
    # archive -> its stamp when its directory was last read
    stamps = {a: _stamp(a) for a in zipimport._zip_directory_cache}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stamped before the read: a change during the read shows next time
        stock(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


_QUALNAME = f"{install.__qualname__}.<locals>.invalidate_caches"


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()

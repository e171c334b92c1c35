"""Python-worker daemon for sessions built by ``session.get_spark``.

Spark forks every Python worker from this daemon. Each task runs
pyspark's ``setup_spark_files``, whose ``importlib.invalidate_caches()``
makes every cached ``zipimporter`` re-read its whole archive directory
on CPython 3.11 (``session.py`` has the measured cost).

This module swaps ``zipimporter.invalidate_caches`` for a stat-checked
version and then runs the stock daemon. An archive is re-read only
when its ``(st_mtime_ns, st_size, st_ino)`` differs from the key it
had at its last read, so a rewritten archive is still picked up, and
new ``sys.path`` entries (``addPyFile``) still get new importers.

It imports only ``os``, ``zipimport`` and ``pyspark.daemon``: everything
the daemon loads is forked into every worker.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat key the archive had when its directory now in
# zipimport._zip_directory_cache was read
_read_at = {}


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self):
    """Re-read this importer's archive only if it changed on disk.

    Importers of one archive share its directory, so a changed archive
    is read once, not once per importer.
    """
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = key


def install():
    """Patch ``zipimporter`` and stamp every archive read so far."""
    for path in zipimport._zip_directory_cache:
        _read_at[path] = _stat_key(path)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # Import first so the archives the daemon itself loads get stamped
    import pyspark.daemon

    install()
    pyspark.daemon.manager()

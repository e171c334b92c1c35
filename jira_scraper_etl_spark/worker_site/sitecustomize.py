"""Worker-start hook for the Python processes of ``get_spark`` sessions.

``get_spark`` puts this directory on the worker ``PYTHONPATH``, so
``site`` runs this module in every Python process Spark starts: the
executor and Data Source planner daemons (and every worker they fork)
and the streaming source runners, but not the driver.

Each Python task's ``importlib.invalidate_caches()`` makes every cached
``zipimporter`` re-read its whole archive directory on CPython 3.11
(``session.py`` has the cost). The hook makes that re-read
stat-checked: an archive is read again only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the key it had when its
directory was read, so a rewritten archive is still picked up. Keys are
taken at the read, so forked workers inherit their daemon's.

Keep its imports to ``os``, ``sys``, ``zipimport`` and ``importlib``:
a daemon forks all it loads into every worker.
"""

import os
import sys
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


def _stamped(read_directory):
    def read_and_stamp(archive):
        # stat first: an archive rewritten during the read gets a key
        # that no longer matches, so the next reset reads it again
        key = _stat_key(archive)
        files = read_directory(archive)
        _read_at[archive] = key
        return files

    return read_and_stamp


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


def install():
    """Patch ``zipimporter``: stamp every archive read so far and every
    archive read from now on."""
    for path in zipimport._zip_directory_cache:
        _read_at[path] = _stat_key(path)
    zipimport._read_directory = _stamped(zipimport._read_directory)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _run_next_sitecustomize():
    """Run the ``sitecustomize`` this one shadows, if any: the first one
    on ``sys.path`` after this module's directory."""
    # ``site`` made every sys.path entry absolute, and this file was
    # found through one of them
    here = os.path.dirname(os.path.abspath(__file__))
    paths = [os.path.abspath(p) for p in sys.path]
    import importlib.machinery

    spec = importlib.machinery.PathFinder.find_spec(
        "sitecustomize", sys.path[paths.index(here) + 1:])
    if spec is not None:
        import importlib.util

        spec.loader.exec_module(importlib.util.module_from_spec(spec))


# ``site`` imports this file as ``sitecustomize``; importing it under
# its package name (the tests do) patches nothing
if __name__ == "sitecustomize":
    install()
    _run_next_sitecustomize()

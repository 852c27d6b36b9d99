"""Python workers skip re-reading zip archives that have not changed.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`worker_util.setup_spark_files`). On CPython 3.11 that makes
every `zipimport.zipimporter` in `sys.path_importer_cache` parse its
archive's central directory again, eagerly. A worker that imports pyspark
from `$SPARK_HOME/python/lib/pyspark.zip` holds one importer per imported
package directory (16 in an engine worker), and each re-parses the
archive's 1,328 entries: about 0.2-0.3 s of every task at `local[4]`,
before the task reads one input row.

`install` replaces `zipimporter.invalidate_caches` with `_invalidate_caches`.
It re-reads an archive only when the archive's (st_ino, st_size,
st_mtime_ns) differs from the stamp taken before its last read, or when no
directory of it is cached. Otherwise the importer re-binds to the shared
cached directory. A rewritten `--py-files` zip is therefore still re-read,
and a missing archive takes the stdlib path. Like importlib's check of
source files, it trusts the stamp: a rewrite that keeps the inode, size and
mtime of the old file is not seen.

The package `__init__` calls `install_in_worker`, so a Python worker
installs it while it unpickles its first engine UDF. The next call reads
each archive once more, to take its stamp. Workers are reused, so every
later task of that worker skips the reads. The driver keeps the stdlib
method. CPython 3.12 made the stdlib method lazy, so the method is
installed only on CPython 3.11.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB = zipimport.zipimporter.invalidate_caches
EAGER = sys.implementation.name == "cpython" and sys.version_info[:2] == (3, 11)

# archive path -> (st_ino, st_size, st_mtime_ns), taken before its last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    """Re-read the archive only if it changed since its last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _STDLIB(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _stamps.get(self.archive) != stamp:
        _STDLIB(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> bool:
    """Replace the eager stdlib method; return whether it is replaced."""
    if EAGER:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return EAGER


def install_in_worker() -> bool:
    """`install`, but only in a PySpark Python worker: one whose task
    set-up has marked `SparkFiles` as running on a worker."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker) and install()

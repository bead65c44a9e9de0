"""Worker-side import fix: re-read a zip's directory only when it changed.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). Up to Python 3.12 that makes every
``zipimport.zipimporter`` re-read its whole archive directory, and a
worker holds one importer per package it imported from ``pyspark.zip``:
about 60 ms of CPU per task before any code runs. Python 3.13 only drops
the cached directory and re-reads it lazily.

``install`` gives 3.11 and 3.12 the same cost: an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the stamp of its last read, kept per ``(archive, prefix)``. A zip shipped
later with ``addPyFile`` is a new archive and reads as before; a zip
rewritten in place gets a new stamp and is re-read.

Call ``install`` only from code that runs in a Python worker (a
``mapInPandas`` body), never on the driver.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (idempotent;
    a no-op on Python 3.13 and later)."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_skips_unchanged", False):
        return
    stamps: dict[tuple[str, str], tuple[int, int]] = {}

    def invalidate_caches(self):
        key, stamp = (self.archive, self.prefix), _stamp(self.archive)
        if stamp is not None and stamps.get(key) == stamp:
            return
        reread(self)
        if stamp is not None:
            stamps[key] = stamp

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches

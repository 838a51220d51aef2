"""xsearch_spark — a from-scratch PySpark-native rebuild of the
capability set of tddhit/xsearch (distributed full-text search: inverted
index build, segment merge, compressed postings, BM25 top-k query with
block-max WAND), plus the large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Design contract (BASELINE.json / SURVEY.md):
  * DataFrame-first; RDD API is never used.
  * Python appears only in vectorized pandas/Arrow UDFs (tokenizer,
    posting codec, WAND scorer) — never per-row Python.
  * All frozen semantics live in :mod:`xsearch_spark.constants`.
"""

import os
import sys


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the file changed, as CPython 3.12 does.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. Before 3.12 that makes every zip importer on
    ``sys.path`` re-read its archive's whole central directory —
    pyspark.zip once per sub-package importer, plus the Spark jar —
    which is ~200 ms of every Python UDF task, even in a reused worker.
    Here each directory read is stamped with the archive's
    ``(st_mtime_ns, st_size, st_ino)``, taken before the read, and
    invalidation re-reads only when the stamp no longer matches (or
    the shared directory cache no longer holds what was read), so a
    rewritten zip is still picked up. Every worker that unpickles an
    engine UDF imports this package, so the saving holds from that
    worker's second task on.
    """
    import zipimport

    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    stamps = {}  # archive -> (stat stamp, the directory dict read under it)

    def stamp_of(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    def stamped_read_directory(archive):
        stamp = stamp_of(archive)
        files = read_directory(archive)
        stamps[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        stamp, files = stamps.get(self.archive, (None, None))
        if (
            stamp is not None
            and stamp == stamp_of(self.archive)
            and zipimport._zip_directory_cache.get(self.archive) is files
        ):
            self._files = files
        else:
            reread(self)

    zipimport._read_directory = stamped_read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _lazy_zip_invalidation()

from xsearch_spark import constants  # noqa: E402

__all__ = ["constants"]
__version__ = "0.1.0"

"""search_engine_spark — a PySpark-native inverted-index + BM25 engine.

Re-implements the capabilities of the reference engine
(elnaradin/search-engine, a Java/Spring/MySQL web search engine — see
SURVEY.md) as idiomatic, distributed Spark jobs:

- corpus ingestion over transcript tables (conv_id, turn_idx, role, text,
  tool, ts),
- vectorized tokenize/lemmatize analysis (pandas/Arrow UDFs, no per-row
  Python),
- inverted-index build (term -> delta-encoded varbyte-compressed posting
  blocks with block-max metadata) with explicit salting for hot-term skew,
- multi-term top-k queries under BM25 and the reference's TF-sum relevance
  (IndexRepository.java:14-20 semantics), rank-identical with deterministic
  tie-breaks,
- checkpoint/resume via a per-partition build manifest,
- incremental upserts, deletes, compaction and snapshot time travel.

Everything is DataFrame-first: Catalyst plans the physical execution; the
only Python on the hot path is Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

import sys


def _install_zip_shim() -> None:
    """PySpark workers call importlib.invalidate_caches() on every task;
    before 3.13 every zipimporter then re-reads its archive's whole
    central directory (pyspark.zip, py4j, the shipped package zip), about
    0.2 CPU-s per task. Re-read an archive only when its (inode, mtime,
    size) stamp changed, so an atomically replaced zip still is."""
    import os
    import zipimport

    if sys.version_info >= (3, 13) or hasattr(zipimport, "_zip_stamps"):
        return
    stamps = zipimport._zip_stamps = {}
    read = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def stamp_of(path):
        try:
            st = os.stat(path)
            return st.st_ino, st.st_mtime_ns, st.st_size
        except OSError:
            return None

    def stamped_read(archive):
        stamp = stamp_of(archive)  # first: a racing replace reads as changed
        files = read(archive)
        stamps[archive] = stamp
        return files

    def invalidate_if_changed(self):
        stamp = stamp_of(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None or stamp is None or stamp != stamps.get(self.archive):
            return invalidate(self)
        self._files = files

    zipimport._read_directory = stamped_read
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


# every worker imports this package when it unpickles an engine UDF
_install_zip_shim()

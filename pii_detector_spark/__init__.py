"""pii_detector_spark — a PySpark-native quality-filter + PII/toxicity-scrub engine.

A from-scratch, Spark-first reimplementation of the capabilities of the
reference scanner (Yurasblv/pii-detector): language-ID, heuristic quality
rules, n-gram perplexity scoring, and a regex PII/credential scrub battery,
expressed as DataFrame transformations + Arrow-batched pandas UDFs over an
Iceberg-style table of Common-Crawl-style web pages

    web_pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

Design notes
------------
* All detection/scrub semantics are defined once, as pure functions
  (``pii_detector_spark.functions``) shared by the vectorized pandas UDFs in
  ``pii_detector_spark.operators`` — zero per-row Python UDFs on the Spark
  side, Arrow batches only.
* Regex patterns, masking, hashing and region-tagging semantics mirror the
  reference (see citations in ``patterns.py`` / ``functions/masking.py``).
* Partitioning, skew-salting, lineage/metrics and checkpoint-resume live in
  ``plans/`` — explicit, cluster-scale-first.
* Importing the package installs ``_skip_unchanged_zip_rereads`` (below):
  in a Python worker, the per-task zip directory re-reads are the largest
  fixed cost of a UDF task.
"""

import sys

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for an unchanged archive.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task. On CPython 3.10–3.12 that makes each cached ``zipimporter`` re-read
    its archive's central directory: about 15 importers on ``pyspark.zip``
    (1,328 entries), 0.2–0.3 s of worker CPU per task. Here each directory
    read records the archive's ``(st_ino, st_size, st_mtime_ns)``, taken
    before the read, and an importer whose archive still has that stamp
    reuses the cached directory. A changed, replaced or missing archive goes
    through the original method, as before. CPython 3.13 re-reads lazily, so
    nothing is installed there.
    """
    import os
    import zipimport

    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    def _read_directory(archive):
        before = stamp(archive)
        files = read_directory(archive)
        stamps[archive] = before
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        last = stamps.get(self.archive)
        if files is not None and last is not None and last == stamp(self.archive):
            self._files = files
        else:
            invalidate(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _skip_unchanged_zip_rereads()

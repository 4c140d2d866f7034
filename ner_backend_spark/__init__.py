"""PySpark-native KG-construction / NER-scanning engine.

A from-scratch reimplementation of the capabilities of ThirdAILabs/ner-backend
(reference at /root/reference, cited per-file) with an idiomatic Spark
architecture: DataFrame/SQL logical plans, Arrow-batched pandas UDFs for the
text->entities transform, broadcast joins for small config/dictionaries, and
partition-grained checkpointing for resume.

Layout:
  core/    pure-Python reference semantics (byte-exact vs the Go code paths);
           shared by the pandas-UDF batch kernels and by the pytest oracle.
  spark/   DataFrame pipelines: extraction, tagging, groups, KG construction,
           dedup, similarity, text stats, checkpointing.
  streaming/ Structured Streaming variants of the ingest pipeline.
"""

__version__ = "0.1.0"


def _keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` skip re-reading an archive
    whose ``st_mtime_ns`` and size are unchanged since this importer last
    read it.

    PySpark's worker calls ``importlib.invalidate_caches()`` once per task
    (``setup_spark_files``), and before CPython 3.13 that re-reads the
    directory of every zip on ``sys.path`` at once: ``pyspark.zip`` and
    its package prefixes, py4j and the Spark jar, 16 archives a task.
    CPython 3.13 only drops the cache, so there this does nothing. It is
    installed on import of this package, which every worker that runs
    its code makes, under ``--py-files`` too.
    """
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_dir_stamp", None) != stamp:
            reread(self)
            self._dir_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_unchanged_zip_directories()

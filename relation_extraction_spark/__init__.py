"""relation_extraction_spark — PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the computational semantics of the 2020 LIC
relation-extraction pipeline (reference: BaberMuyu/relation-extraction, read-only
at /root/reference) as staged, checkpointable Spark DataFrame transforms over an
Iceberg-style table of Common-Crawl-style web pages
``documents(url, warc_ts, html, text, lang)``.

Architecture (Spark-first, NOT a port):

* all relational logic (filters, joins, aggregations, voting, KG correction,
  connected components) is plain DataFrame/SQL so Catalyst handles pushdown,
  pruning, broadcast selection and AQE;
* the only Python on the hot path is four Arrow-vectorized entry points
  (html→text extraction, tokenize+align, the fused score→decode→assemble
  kernel in ``mapInPandas``, and the grouped triple-recompose) — no per-row
  Python UDFs anywhere;
* every pipeline stage checkpoints to parquet (thin Iceberg-style catalog
  wrapper) with per-partition lineage rows so a run resumes mid-pipeline.

Importing the package on CPython < 3.12 makes ``zipimporter.invalidate_caches``
re-read an archive only when its ``(st_mtime_ns, st_size)`` changed since the
last invalidation. Spark's Python worker calls ``importlib.invalidate_caches()``
before every task, and 3.11 then re-parses the central directory of every zip
on ``sys.path`` at once (pyspark.zip once per imported subpackage, the Spark
jar, py4j): ~200 ms of fixed setup per Arrow/pandas task. Every kernel's
unpickling imports this package, so a reused worker reads each archive once
more on its next task and skips the re-read from then on, in local mode and
under ``spark-submit --py-files`` alike. CPython 3.12 made the re-read lazy
(gh-103200), so nothing is changed there.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _install_zip_invalidation_guard() -> None:
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or hasattr(reread, "__wrapped__"):
        return
    seen = {}  # archive -> ((st_mtime_ns, st_size), files dict read at that stat)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        sig = (st.st_mtime_ns, st.st_size)
        last = seen.get(self.archive)
        if last is not None and last[0] == sig:
            self._files = last[1]
            return
        reread(self)  # stat taken first: a write racing this read re-reads next time
        seen[self.archive] = (sig, self._files)

    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_invalidation_guard()

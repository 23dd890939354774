"""Python worker daemon (``spark.python.daemon.module``, set by
``session.get_spark``): ``pyspark.daemon`` with one fixed cost removed.

Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``) so that files
added with ``addPyFile`` become importable. Before CPython 3.13 that
makes each ``zipimporter`` eagerly re-read its archive's directory: a
worker holds about 16 of them (one per package imported from
``pyspark.zip``, plus the py4j zip and the spark-core jar on the
workers' ``PYTHONPATH``), 26,672 entries re-read per task, and each
importer keeps its own copy of the result. Here zipimporters skip that
step; every other finder is still invalidated. A ``.py`` added later
lands in the spark files dir, a ``FileFinder`` that still rescans, and
a newly added zip path gets a fresh importer. CPython 3.13 made the
invalidation lazy, so the patch applies only below it.
"""

import sys
import zipimport

if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()

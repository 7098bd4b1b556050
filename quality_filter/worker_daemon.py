"""Python worker daemon: ``pyspark.daemon`` with zip directories read once.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and on CPython 3.11 that makes each ``zipimporter`` re-read
its whole archive directory: ``pyspark.zip``, the py4j zip and the
spark-core jar, once per importer, about 0.1 s per task before any row
moves.  Forked workers inherit the hook installed here, so each archive
directory is read once per worker process.

Directory finders still invalidate, and an archive newly put on
``sys.path`` (``addPyFile``) is read when first imported from.  The one
lost case: an archive already on the path that is rewritten in place is
not re-read by a running worker.
"""

import sys
import zipimport


class _ZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def install() -> None:
    """Swap the zip path hook and drop the importers built before it."""
    sys.path_hooks[:] = [
        _ZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    sys.path_importer_cache.clear()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()

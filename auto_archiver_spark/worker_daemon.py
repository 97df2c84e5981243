"""Python worker daemon that starts with Spark's own archives off ``sys.path``.

The JVM puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
``spark-core`` jar first on every worker's path, and each task calls
``importlib.invalidate_caches()``, which makes every zip importer re-read its
central directory (pyspark.zip alone has 1,328 entries): most of the fixed cost
of a Python task. This module drops those entries from ``sys.path`` and
``sys.path_importer_cache`` before pyspark is imported, so the daemon and the
workers it forks import the installed pyspark instead. ``session.get_spark``
selects it through ``spark.python.daemon.module``; the package ``__init__`` is
empty, so nothing imports pyspark from the zip first.
"""

import os
import sys


def strip_spark_archives() -> None:
    home = os.environ.get("SPARK_HOME", "/nonexistent")
    lib_dirs = {os.path.realpath(os.path.join(home, d)) for d in ("python/lib", "jars")}

    def spark_archive(entry: str) -> bool:
        return entry.endswith((".zip", ".jar")) and (
            os.path.dirname(os.path.realpath(entry)) in lib_dirs
        )

    sys.path[:] = [p for p in sys.path if not spark_archive(p)]
    for entry in [p for p in sys.path_importer_cache if spark_archive(p)]:
        del sys.path_importer_cache[entry]


if __name__ == "__main__":
    strip_spark_archives()
    import pyspark.daemon

    pyspark.daemon.manager()

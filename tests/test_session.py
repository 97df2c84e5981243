"""Session factory: Python workers start with ``$SPARK_HOME``'s pyspark/py4j
zips and jars off ``sys.path`` (auto_archiver_spark/worker_daemon.py), and
import the installed pyspark of the JVM's version."""

import os
import zipfile

import pyspark
from pyspark.find_spark_home import _find_spark_home

from auto_archiver_spark.session import zip_free_workers


def test_worker_path_holds_no_spark_archive(spark):
    home = os.path.realpath(_find_spark_home()) + os.sep

    def worker_view(_):
        import sys  # noqa: PLC0415

        import pyspark  # noqa: PLC0415

        def spark_archive(p):
            return p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home)

        yield (
            [p for p in sys.path if spark_archive(p)],
            [p for p in sys.path_importer_cache if spark_archive(p)],
            pyspark.__version__,
        )

    on_path, cached, version = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(worker_view).collect()[0]
    )
    assert on_path == [] and cached == []
    assert version == spark.version


def _spark_home_with_zip(root, version):
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(root)


def test_guard_leaves_default_on_version_mismatch_or_missing_zip(tmp_path):
    installed = pyspark.__version__
    assert zip_free_workers(_spark_home_with_zip(tmp_path / "same", installed), installed)
    assert not zip_free_workers(_spark_home_with_zip(tmp_path / "other", "0.0.1"), installed)
    assert not zip_free_workers(str(tmp_path / "pip_only"), installed)

"""Python worker daemon: ``pyspark.daemon`` without per-task zip rescans.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython 3.11 that makes each ``zipimporter`` on the worker path
re-read its archive's whole directory (pyspark.zip, once per imported
subpackage, and the spark-core jar): ~230 ms of CPU per task. Those
archives do not change while a worker lives, so their invalidation is a
no-op here; ``FileFinder`` (plain directories) still invalidates.
Wired by ``spark.python.daemon.module`` in ``session.get_spark``.
"""

import zipimport


def _keep_zip_directory(self) -> None:
    """The archive is unchanged while the worker lives; keep its index."""


if __name__ == "__main__":
    # Workers fork from this process, so they inherit the patch.
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    from pyspark.daemon import manager

    manager()

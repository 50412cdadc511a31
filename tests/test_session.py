"""Session wiring that reaches the Python workers."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_python_workers_keep_zip_import_caches(spark):
    """Workers fork from the engine's daemon module, so pyspark's per-task
    ``importlib.invalidate_caches()`` leaves zip archives' directories
    alone instead of re-reading them."""

    @F.pandas_udf("string")
    def zip_invalidation(ids: pd.Series) -> pd.Series:
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return ids.map(lambda _: f"{fn.__code__.co_filename}:{fn.__name__}")

    rows = spark.range(4, numPartitions=2).select(zip_invalidation("id")).collect()
    (where,) = {r[0] for r in rows}
    assert where.endswith("worker_daemon.py:_keep_zip_directory"), where

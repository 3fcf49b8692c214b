"""SparkSession factory tuned for the scale posture of this engine.

Local testing runs on ``local[N]`` but every setting is chosen to also be the
right default on a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast demotion).
- Shuffle partitions sized for the local harness via env; on a real cluster AQE
  coalesces from a high initial number, so the static value matters little.
- Arrow enabled for the (few) pandas-UDF paths.
- ``maxPartitionBytes`` left at Spark's 128 MB default — matches the
  reference's Hadoop-default split size (SURVEY §4, PathSplitSource).
- Python workers fork from ``disq_original_spark.pydaemon``
  (``spark.python.daemon.module``), PySpark's own daemon with one patch:
  on Python < 3.13 the ``importlib.invalidate_caches()`` each reused worker
  runs before a task re-reads a zip or jar directory only when the
  archive's stat changed.  Stock, every task re-read about 16 archive
  directories (``pyspark.zip``, py4j, the ``spark-core`` jar), 0.18-0.26 s
  per task on a 4-core VM; patched, the call takes under 0.3 ms.  On Python
  3.13 and later the daemon is the stock one.  The package root goes on
  the workers' ``PYTHONPATH`` so the daemon imports from any working
  directory.  A session built without this factory (the driver contract's
  vanilla session) keeps the stock daemon and loses only the saving.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


def get_spark(
    app_name: str = "disq_original_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "disq_original_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

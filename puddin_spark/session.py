"""SparkSession construction with the configs this pipeline needs at scale.

Defaults encode the scale posture (SURVEY.md section 4): AQE on (skew-join +
coalesce), Arrow-vectorized Python UDF transport with bounded batch sizes
(giant web documents make unbounded batches a straggler/OOM hazard), and a
shuffle-partition count sized to the local core count for tests while staying
overridable for cluster runs via normal spark-submit --conf.
"""
from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the directory holding the puddin_spark package
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)

# Web documents average ~2-10 KB but the tail reaches tens of MB; 512 rows per
# Arrow batch caps a batch at ~"a few hundred MB" worst-case instead of the
# 10k-row default (reference analog: 9,999-doc slices, parse_pile.py:34).
ARROW_BATCH_ROWS = 512


def get_spark(
    master: str | None = None,
    app_name: str = "puddin_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session with this engine's defaults WITHOUT fighting
    spark-submit: anything already set via --master/--conf/spark-defaults
    wins; our values only fill gaps. Standalone `python` runs (no submitted
    conf) fall back to local[$SPARK_GRAFT_CPUS].

    The package's parent directory joins PYTHONPATH before the JVM starts:
    Python workers inherit the JVM's environment and unpickle every UDF by
    module name, so a driver that imports puddin_spark only through
    sys.path (a script run from another directory) would otherwise fail in
    its first UDF with ModuleNotFoundError."""
    from pyspark import SparkConf

    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # running under spark-submit: connect the already-launched JVM
        # gateway first so SparkConf() actually sees --master/--conf values
        from pyspark import SparkContext

        SparkContext._ensure_initialized()
    submitted = SparkConf()  # spark-submit / spark-defaults values (if any)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = submitted.get("spark.master", None) or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match cores; on a real cluster pass --conf (AQE
        # coalesces anyway)
        shuffle_partitions = cpus if master.startswith("local") else 2 * cpus

    defaults = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in defaults.items():
        if not submitted.contains(k):
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

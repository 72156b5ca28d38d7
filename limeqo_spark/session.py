"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the conf set here is chosen so the same
code is correct on a large cluster: AQE on (runtime coalesce + skew joins),
UTC session timezone (deterministic vs external oracles), Arrow enabled for
the Pandas-UDF paths.

Spark's codegen cache is sized to the engine's working set
(:data:`CODEGEN_CACHE_ENTRIES`). The engine runs the same queries again and
again, under many hint sets, and a pass over its headline entries uses more
distinct generated classes than Spark's default 100-entry LRU holds, so at
the default each pass evicted every class before its next use and compiled
it again: Janino compilation, then JIT compilation of the fresh classes.

It also resolves the py4j names that PySpark looks up on hot paths once per
gateway (:func:`_pin_hot_names`). py4j resolves a dot-free name such as
``jvm.PythonUtils`` by probing the name and then each of the gateway's star
imports, and every miss is a ``Class.forName`` that scans the whole driver
classpath: about 1 ms per lookup on 4 vCPUs, and 1.6 ms for each
``is_instance_of`` check PySpark makes when it converts the error of a
cancelled steering run.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaPackage, JVMView
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: dot-free names PySpark looks up on the JVMView per call, and their classes
HOT_NAMES = {
    "PythonUtils": "org.apache.spark.api.python.PythonUtils",
    "functions": "org.apache.spark.sql.functions",
}


#: ``spark.sql.codegen.cache.maxEntries`` (a static conf; Spark's default is
#: 100). Measured on 4 vCPUs in a JVM limited to the C1 compiler, with an
#: unbounded cache: the 43 headline entries at sf0.01 compile 588 distinct
#: classes on their first pass and 4 on their second (at 100 entries, 645);
#: after them, metaspace is at 168 MB (165 MB at 100 entries) and the C1
#: code cache at 41.0 of 48 MB.
CODEGEN_CACHE_ENTRIES = 2048


def _pin_hot_names(jvm: JVMView) -> None:
    """Store the resolved py4j objects of :data:`HOT_NAMES` and of the
    ``py4j.reflection.TypeUtil`` chain (walked by py4j's ``is_instance_of``)
    as attributes of ``jvm``, so ``jvm.<name>`` is a Python attribute hit.
    Each class is resolved by its dotted name, one lookup that hits; the two
    packages are py4j handles that need no lookup. Runs once per JVMView,
    that is once per gateway."""
    if "py4j" in vars(jvm):
        return
    for name, fqn in HOT_NAMES.items():
        setattr(jvm, name, getattr(jvm, fqn))
    client = jvm._gateway_client
    py4j = JavaPackage("py4j", client, jvm._id)
    py4j.reflection = JavaPackage("py4j.reflection", client, jvm._id)
    py4j.reflection.TypeUtil = getattr(jvm, "py4j.reflection.TypeUtil")
    jvm.py4j = py4j


def get_spark(
    app_name: str = "limeqo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this to ~2-3x total executor cores (or leave AQE
    to coalesce); 200 is wrong in both directions.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # scan-split sizing: 256m halves the task count of a 100 TB scan
        # vs the 128m default (fewer scheduler round-trips, same per-task
        # memory envelope for columnar parquet reads); at fixture scale
        # every file is below either bound, so local plans are unchanged
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _pin_hot_names(spark._jvm)
    return spark

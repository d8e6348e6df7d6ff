"""The engine's one Spark session profile.

Every entry point (bench drivers, tools, the spark-submit job and the
test fixture) builds its session with :func:`build_session`, so the
settings the engine is tuned and tested under are listed once, in
``PROFILE``. Operators never change the session; the streaming drains
alone override per-drain transport values and restore them on exit
(``operators.streaming_queries._drain_conf``).
"""

from __future__ import annotations

PROFILE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # multi-MB binary cells (the extraction kernel's rows) make the
    # default 10k-row Arrow batches 4-20x slower to convert
    "spark.sql.execution.arrow.maxRecordsPerBatch": "32",
    # the default 64 KB worker-socket buffer makes the JVM->Python feed
    # of large rows crawl at ~5 MB/s per task (6x faster at 1 MB)
    "spark.buffer.size": "1048576",
    "spark.python.unix.domain.socket.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.session.timeZone": "UTC",
    # HotSpot never JIT-compiles a method over 8000 bytecode bytes
    # (-XX:DontCompileHugeMethods, default on), so a whole-stage method
    # between 8 KB and Spark's default 64 KB bailout runs in the bytecode
    # interpreter. At 8000 such stages fall back to per-operator
    # execution whose split-method codegen stays under the JIT limit
    # (the unrolled 64-term cosine pair stage of ann_cosine_topk at
    # sf1.0: 18.4 s -> 3.6 s). The limit is the JVM's, so it holds on
    # any cluster.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


def build_session(app_name: str, master: str = None, local_dir: str = None,
                  driver_memory: str = None):
    """getOrCreate a session with ``PROFILE``. The parameters are
    deployment settings; ``None`` leaves each to Spark (under
    spark-submit, its ``--master`` and ``--driver-memory``). The shuffle
    width is set once the session exists, to twice its default
    parallelism with a floor of 8, so it follows the cluster it runs on."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    deployment = {"spark.local.dir": local_dir,
                  "spark.driver.memory": driver_memory}
    for key, value in {**PROFILE, **deployment}.items():
        if value is not None:
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(2 * spark.sparkContext.defaultParallelism, 8)))
    return spark

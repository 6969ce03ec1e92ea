"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set via
spark-submit conf; the interesting ones for this engine:

  - AQE on (runtime coalesce + skew-join splitting for hot terms)
  - Arrow on (every per-row stage is a vectorized pandas UDF)
  - shuffle partitions sized to cores locally; on a real cluster this is
    set to ~2-3x total executor cores by the launcher (cli.py)
  - JVM case mapping for lower()/upper()
    (spark.sql.icu.caseMappings.enabled=false, always set).  Spark 4
    defaults to ICU case mappings, and the first lower() in a JVM then
    loads ICU's case-mapping data: 2.1-2.2 s for the first lower() over
    5,000 docs on a 4-vCPU host, against 0.44-0.48 s with the JVM
    mapping (a second lower() takes 0.2-0.3 s either way).  The JVM
    mapping is the one Spark 3.x used.  ASCII lowercases identically
    under both.  Over all 1,112,064 non-surrogate code points the two
    differ on 67, every one a capital letter newer than the JVM's
    Unicode tables, which the JVM mapping leaves as is; final sigma,
    dotted capital I and capital sharp s agree (pinned in
    tests/test_text.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pulse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Under spark-submit the JVM gateway already exists (it launched this
    # Python process, advertising itself via PYSPARK_GATEWAY_PORT) and
    # carries the SUBMITTED master and confs (yarn/k8s/standalone/local,
    # --conf spark.sql.shuffle.partitions=...).  Forcing .master() there
    # would silently turn a cluster launch into local mode, and forcing a
    # default shuffle-partition count would stomp the submitted conf —
    # so both defaults apply only when we own the JVM.
    submit_mode = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submit_mode:
        master = f"local[{cpus}]"
    if shuffle_partitions is None and not submit_mode:
        n = (
            master[master.find("[") + 1 : master.find("]")]
            if master and "[" in master else cpus
        )
        shuffle_partitions = 32 if n == "*" else max(int(n), 8)
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (
        b
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("PULSE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    local_dir = os.environ.get("PULSE_SPARK_LOCAL_DIR")
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

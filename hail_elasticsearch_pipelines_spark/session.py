"""SparkSession construction for the engine.

Mirrors the reference's environment bootstrap (hail init inside
`luigi_pipeline/lib/hail_tasks.py`), Spark-first: AQE on, Arrow on,
shuffle partitions sized to the machine instead of the 200 default.

Python workers start from ``pydaemon`` (``spark.python.daemon.module``),
which wraps ``pyspark.daemon``.  Each Python task calls
``importlib.invalidate_caches()``, and on CPython < 3.12 every cached
``zipimporter`` then re-reads the whole ``pyspark.zip`` directory — a
fixed ~150-250 ms per task.  The wrapper re-reads an archive only when
its mtime or size changed; on 3.12+ it changes nothing.  Pass
``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}`` to run
Spark's stock daemon: ``extra_conf`` is applied last and always wins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "hail_es_pipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    In the sandbox this is ``local[N]``; on a real cluster the same confs
    apply (AQE handles post-shuffle coalescing and skew joins at 100 TB).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else DEFAULT_SHUFFLE_PARTITIONS
    # shuffle/spill to tmpfs when it has real headroom: on a cluster this
    # IO is spread across executor-local disks; on the single sandbox box
    # the one data disk would otherwise serialize every parallelism
    # level.  tmpfs consumes RAM, so require generous free capacity
    # (>=16 GiB) before defaulting to it — a large shuffle spilling into
    # a small /dev/shm would OOM the host exactly when Spark is trying to
    # relieve memory pressure.  SPARK_GRAFT_LOCAL_DIR overrides either
    # way ("" disables tmpfs, a path redirects).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.access("/dev/shm", os.W_OK):
        try:
            import shutil as _sh

            if _sh.disk_usage("/dev/shm").free >= 16 * 1024**3:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "hail_elasticsearch_pipelines_spark.pydaemon")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split size: the 128 MB default packs a sandbox-sized corpus
        # into ~3 input splits, capping every scan stage at 3 cores no
        # matter the parallelism.  16 MB keeps #splits >= cores here; at
        # real 100 TB scale override back up via SPARK_GRAFT_MAX_PART_BYTES
        # (bigger splits amortize task overhead when there are millions
        # of them anyway).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", str(16 * 1024 * 1024)),
        )
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

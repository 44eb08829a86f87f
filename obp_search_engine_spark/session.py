"""SparkSession factory.

Local-mode defaults are tuned for the sandbox (local[32], single JVM,
128 GiB); the same builder config is what we'd submit with
``spark-submit --py-files`` to a real cluster — AQE on, Arrow on,
shuffle partitions sized to cores (overridden to ~2-3x total cores on a
real cluster).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of cwd.

    Local equivalent of ``spark-submit --py-files pkg.zip``: zip the package
    directory and addPyFile it. Idempotent per session.
    """
    if getattr(spark, "_obp_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "obp_search_engine_spark_pkg")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    spark._obp_pkg_shipped = True


def get_spark(
    app_name: str = "obp_search_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html rows are KBs: 10k-row Arrow batches would be >100 MB per
        # in-flight buffer per python worker; 2048 keeps workers streaming
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # NOTE: bigger is not better here — a 64g heap sent this VM into
        # kernel-side page-fault/compaction storms (60-75% sys CPU) as G1
        # grew/shrank the committed heap under 32 threads. 20g is plenty
        # since waves never cache raw html.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd for OUR writes (snapshots, harvest/documents spills): trades
        # CPU (scales with cores) for write bytes (the shared bus — the
        # non-scaling resource). Measured in the BENCH/BASELINE.md per-phase
        # attribution table: the merge+snapshot phase went 8c 5.8s / 32c
        # 8.1s (snappy) to 8c 5.2s / 32c 4.7s (zstd); extraction-spill
        # phase unchanged.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_CODEC", "zstd"),
        )
        # InferFiltersFromGenerate turns explode(udf(x)) into an inferred
        # `size(udf(x))>0` filter that predicate-pushdown then moves BELOW
        # joins — running the Python UDF over the whole build-side corpus
        # instead of the joined wave. Catastrophic for the fetch join; the
        # inference buys nothing we need.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark

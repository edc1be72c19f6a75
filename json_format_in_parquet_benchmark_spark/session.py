"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the host's core
count, :func:`default_cpus`) but every config choice is made for a real
multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting), so the
  static ``spark.sql.shuffle.partitions`` only needs to be an upper bound.
- Parquet ZSTD everywhere (the reference writes ZSTD for all four formats,
  /root/reference/src/format/plain_json.rs:38 and equivalents).
- ``runtime.SESSION_PINS`` (UTC session timezone, so date/time results are
  reproducible across engines; ``nanosAsLong`` for TIMESTAMP(NANOS) files;
  AQE may resize cached plans, so no persist needs a hand-picked width).
- Broadcast threshold left at default 10 MB; dimension tables (region, nation,
  part, supplier at any SF that matters) broadcast automatically, and the
  query code additionally hints ``broadcast()`` where the stats may be absent.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from .runtime import SESSION_PINS, scratch_root

SHUFFLE_PARTITIONS = 32

# application id -> path of the zip shipped to it
_SHIPPED_APPS: dict[str, str] = {}


def ship_package(spark: SparkSession) -> str:
    """Make this package importable on executor Python workers.

    Local pytest runs inherit the repo cwd on sys.path, but an external
    driver (or a real cluster) launches workers whose PYTHONPATH does not
    include the repo -- any Pandas-UDF stage would then fail to unpickle.
    Zipping the package and ``addPyFile``-ing it is the standard Spark
    deployment path and is exactly what a 1000-executor cluster needs too.
    Idempotent per SparkContext, keyed on its application id (an ``id()``
    can be reused by a context created after an earlier one was freed).
    The zip goes under this process's scratch root, so processes sharing a
    ``TMPDIR`` never overwrite each other's shipped file.  Returns the
    zip's path.
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED_APPS:
        return _SHIPPED_APPS[key]
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(scratch_root(), "pyfiles", os.path.basename(pkg_dir))
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    sc.addPyFile(zip_path)
    _SHIPPED_APPS[key] = zip_path
    return zip_path


def default_cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS``, else the host's cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "json-format-in-parquet-benchmark-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config,
    with the package shipped to its executors."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in {**SESSION_PINS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark

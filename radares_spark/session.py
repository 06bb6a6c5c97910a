"""SparkSession factory, and the helper for small driver-built frames.

Local-mode defaults are tuned for a single machine (the driver heap is
half its physical memory); cluster deployments override via
``extra_conf`` or ``spark-submit --conf``. The knobs that matter at
100 TB (AQE, skew-join handling, partition sizing) are on by default so
the same plans scale without code changes.

A local session lists file trees on the driver: Spark sends any listing
of more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32) directories to a Spark job, which in local mode runs in the same
JVM and only adds a job's fixed cost. The radar landing tree has one
directory per device, so a night would otherwise pay 3-4 listing jobs
of ~99 tasks each. Cluster sessions keep Spark's default.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """Half the machine's physical memory, in MiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2 // 2**20}m"


def get_spark(
    app_name: str = "radares_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE + partition coalescing + skew-join: runtime re-planning so the
      same declarative plan survives skew and scale changes.
    - ``spark.sql.shuffle.partitions`` ~ cores locally; on a real
      cluster AQE coalescing makes the static value less critical.
    - Session timezone pinned to UTC (oracle comparisons, determinism).
    - Arrow enabled: pandas UDF / createDataFrame fast path.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Long sessions run dozens of distinct codegen'd plans; the JVM
        # default 240m code cache fills and silently stops JIT'ing.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
    )
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
        # Local mode only: shuffle/spill files on tmpfs — the container's
        # root disk stalls unpredictably (seconds-long fsync pauses that
        # dwarf sub-second stages). A cluster deployment configures fast
        # local SSDs via spark.local.dir / YARN dirs instead.
        shm = "/dev/shm/spark-local"
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            # local mode only: list on the driver (module docstring)
            builder = builder.config(
                "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
            )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A small frame built on the driver, through pandas and Arrow.

    ``spark.createDataFrame`` on a Python list plans a Python-RDD scan,
    so every action on the frame starts a Python-worker stage; built
    from pandas through Arrow it is a local relation the JVM scans
    itself (a 99-row noop write: 0.38 s vs 0.07 s on ``local[4]``).

    Naive ``datetime`` values are local time, as the list path reads
    them; Arrow would read them in the session time zone (UTC), so they
    are made aware first and store the same instant either way.
    """
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    data = {}
    for field, col in zip(schema.fields, cols):
        if isinstance(field.dataType, TimestampType):
            aware = [None if v is None else v.astimezone(dt.timezone.utc) for v in col]
            data[field.name] = pd.Series(aware, dtype="datetime64[us, UTC]")
        else:
            data[field.name] = pd.Series(col, dtype=object)
    return spark.createDataFrame(pd.DataFrame(data), schema)

"""SparkSession factory and engine configuration.

The reference boots an embedded storage engine per server process
(machbase/neo-server spi/machsvr/machsvr.go:835-876 — CGO boundary).  Our
"engine boot" is a SparkSession tuned for time-series / analytics workloads:
AQE on (runtime re-plan, skew-join handling), UTC session time, Arrow enabled
for the pandas-UDF operators, and ns-epoch parquet timestamps surfaced as
LongType (the engine's canonical time representation is epoch-nanoseconds,
matching machbase DATETIME int64-ns semantics, spi/machsvr/machsvr.go:901-917).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

#: SQL confs that are runtime-settable on a live session.  ``ensure_engine_conf``
#: applies these defensively — important because the verification driver creates
#: its own SparkSession and hands it to us.
RUNTIME_CONF: dict[str, str] = {
    # machbase DATETIME is epoch-ns int64; read parquet TIMESTAMP(NANOS) as long.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic calendar arithmetic regardless of host timezone
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing + skew-join splitting at scale
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the pandas-UDF operators (FFT/Kalman/lowpass kernels)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: Confs that must be set before the session starts.
STARTUP_CONF: dict[str, str] = {
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # dimension tables (nation/region/supplier/tag-metadata) broadcast freely
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "neo-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this to ~2-3x total executor cores (or rely on AQE
    coalescing, which is enabled).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("NEO_SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in {**STARTUP_CONF, **RUNTIME_CONF}.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_engine_conf(spark)
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally created session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build — keep going
    return spark


class SessionCatalog:
    """What the program has registered in one SparkSession's catalog.

    The reference hands each query a pooled connection to the engine's
    persistent catalog and registers nothing per query
    (spi/database.go:67-100).  This registry plays that role: a view or
    SQL function is (re)registered only when its source changed, so a
    steady stream of reads makes no catalog calls at all.  It lives on
    the session object, so a new session never inherits a stopped one's
    state.
    """

    def __init__(self) -> None:
        self.lock = threading.RLock()
        #: lower-cased temp view name -> sf_dir whose TESTDATA table it shows
        self.views: dict[str, str] = {}
        #: parquet path -> loaded, basetime-normalized frame
        self.frames: dict = {}
        #: sf_dir -> ``events`` in the tag shape
        self.tag_frames: dict = {}
        #: the lake dialect's SQL functions are registered
        self.dialect = False
        #: the frame TAG / TAG_STAT were last registered from
        self.lake_base = None

    def forget(self, name: str) -> None:
        """The view ``name`` no longer shows what the registry put there:
        the next read that needs it registers it again."""
        name = name.lower()
        with self.lock:
            self.views.pop(name, None)
            if name in ("tag", "tag_stat"):
                self.lake_base = None

    def put_view(self, name: str, df) -> None:
        """Register ``df`` as the temp view ``name`` for a caller other
        than the registry (a DDL table, a script's own table)."""
        with self.lock:
            df.createOrReplaceTempView(name)
            self.forget(name)

    def drop_view(self, spark: SparkSession, name: str) -> None:
        with self.lock:
            spark.catalog.dropTempView(name)
            self.forget(name)


_CATALOG_ATTR = "_neo_catalog"
_catalog_lock = threading.Lock()


def session_catalog(spark: SparkSession) -> SessionCatalog:
    """The registry of ``spark``, created on first use."""
    cat = getattr(spark, _CATALOG_ATTR, None)
    if cat is None:
        with _catalog_lock:
            cat = getattr(spark, _CATALOG_ATTR, None)
            if cat is None:
                cat = SessionCatalog()
                setattr(spark, _CATALOG_ATTR, cat)
    return cat

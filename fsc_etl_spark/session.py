"""SparkSession factory tuned for this engine.

The reference configures Spark ad hoc inside its extract helpers
(``/root/reference/utils/extract_functions.py:60-69`` sets the legacy
time parser and disables the Delta retention check). Here session
construction is centralized and scale-aware instead:

- AQE on (runtime coalescing, skew-join handling, broadcast re-plan);
- a fixed ``DEFAULT_SHUFFLE_PARTITIONS`` = 32 shuffle partitions
  rather than the 200 default, whatever the core count (on a real
  cluster this would be ~2-3x total cores);
- UTC session timezone so timestamp semantics match ANSI engines
  (DuckDB oracle parity);
- Arrow enabled for the pandas-UDF slow path.

No legacy time-parser policy: all date parsing is explicit
(``to_date`` with a format) rather than relying on cast fallbacks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _local_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "fsc_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (fallback: all cores). On a real cluster, pass ``master=None`` after
    setting ``spark.master`` externally, or pass the cluster URL.
    """
    cpus = _local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The synthetic events table stores TIMESTAMP(NANOS) which the
        # parquet reader rejects; read as long + convert (readers.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Object-store scheme -> standard public Hadoop connector settings.
# Credentials are NEVER baked in: each value names the env var read at
# call time, mirroring the credential-free provider-chain defaults the
# OSS connectors document. (The reference mounts its cloud storage via
# proprietary config the leak policy excludes; this generic hook is the
# portable equivalent — completes S12 for real deployments.)
_OBJECT_STORE_ENV = {
    "s3a": {
        "fs.s3a.access.key": "AWS_ACCESS_KEY_ID",
        "fs.s3a.secret.key": "AWS_SECRET_ACCESS_KEY",
        "fs.s3a.session.token": "AWS_SESSION_TOKEN",
        "fs.s3a.endpoint": "AWS_ENDPOINT_URL",
    },
    "gs": {
        "fs.gs.auth.service.account.json.keyfile": "GOOGLE_APPLICATION_CREDENTIALS",
    },
}


def configure_object_store(
    spark: SparkSession,
    scheme: str = "s3a",
    settings: dict[str, str] | None = None,
) -> list[str]:
    """Apply object-store filesystem configs to a live session's Hadoop
    conf so ``spark.read.parquet("s3a://bucket/...")`` works.

    Env-var driven (only vars that are actually set are applied — the
    connectors' own provider chains remain the default) plus explicit
    ``settings`` overrides for anything else (region, path-style
    access, committers). Returns the list of keys applied, for logging.
    Scale note: prefer the magic/directory committers and
    ``fs.s3a.fast.upload`` style settings via ``settings`` on real
    clusters; never list-then-read from the driver.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    applied: list[str] = []
    for key, env in _OBJECT_STORE_ENV.get(scheme, {}).items():
        val = os.environ.get(env)
        if val:
            hconf.set(key, val)
            applied.append(key)
    for key, val in (settings or {}).items():
        hconf.set(key, val)
        applied.append(key)
    return applied

"""SparkSession factory.

Mirrors the capability of the reference's ``get_spark_session``
(reference etl.py:85-98: app name, connector packages, Hive support,
commented shuffle-partition override) but tuned for modern Spark:

- **AQE on** (adaptive query execution): runtime shuffle-partition
  coalescing, skew-join splitting, and dynamic join-strategy switching
  supersede the reference's static ``spark.sql.shuffle.partitions = 50``
  (reference capstone.cfg:9).
- **ANSI off**: the reference relies on Spark 2.4 implicit cross-type
  coercion — string dim codes joined against double fact columns
  (reference etl.py:313-317) and string-vs-int predicates
  (notebook cell 47). Spark 4 defaults ANSI on, which changes those
  semantics; we pin ANSI off so behavior matches row-for-row
  (SURVEY.md §7.3 risk 2).
- **Arrow on** for any pandas-UDF exchange. Python workers run only the
  vectorized Arrow/pandas kernels in ``operators``, never row-at-a-time
  UDFs; driver-built frames go through ``sources.readers.local_frame``,
  which ships an Arrow table to a JVM ``LocalTableScan`` and starts no
  Python worker at all.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark_session(
    app_name: str = "udacity-dend-capstone-immigration-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    At 100 TB scale the same config applies unchanged: AQE coalesces the
    post-shuffle partition count to match actual data volume, so the
    ``shuffle_partitions`` value is an upper bound for local runs, not a
    hand-tuned cluster constant.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Partitioned-write guardrail: dynamic overwrite only rewrites the
        # partitions present in the incoming data (SURVEY.md §7.1 step 7).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_engine_config(cfg_path: str) -> dict[str, dict[str, str]]:
    """Parse an INI engine config (reference etl.py:17-25 pattern: a
    ``configparser`` file with [DATA] paths and [COMMON] runtime knobs,
    cf. capstone.cfg). Returns plain nested dicts so callers stay
    decoupled from configparser."""
    import configparser

    cp = configparser.ConfigParser()
    read = cp.read(cfg_path)
    if not read:
        raise FileNotFoundError(f"engine config not found: {cfg_path}")
    return {section: dict(cp[section]) for section in cp.sections()}


def get_spark_session_from_config(
    cfg_path: str,
    app_name: str = "udacity-dend-capstone-immigration-spark",
    master: str | None = None,
    enable_hive: bool = False,
) -> SparkSession:
    """Config-file-driven session bootstrap (reference etl.py:85-98:
    appName + packages + enableHiveSupport + the commented
    NUM_SPARK_SHUFFLE_PARTITIONS override from capstone.cfg).

    [COMMON] num_spark_shuffle_partitions overrides the engine default;
    every other engine conf comes from :func:`get_spark_session`.
    ``enable_hive`` adds a Hive metastore catalog — only meaningful where
    a metastore exists, so it is an explicit opt-in rather than the
    reference's unconditional ``enableHiveSupport()``.
    """
    cfg = load_engine_config(cfg_path)
    common = cfg.get("COMMON", {})
    shuffle = int(
        common.get("num_spark_shuffle_partitions", DEFAULT_SHUFFLE_PARTITIONS)
    )
    extra = {"spark.sql.catalogImplementation": "hive"} if enable_hive else None
    return get_spark_session(
        app_name=app_name,
        master=master,
        shuffle_partitions=shuffle,
        extra_conf=extra,
    )

"""Source layer (SURVEY.md §2.1, S1-S4).

All readers return lazy DataFrames; scans stay declarative so Catalyst can
push filters and prune columns down to the parquet footer level — critical
at 100 TB where a full-column scan is the difference between minutes and
hours.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    _make_type_verifier,
    _parse_datatype_string,
)

#: Tables shipped by the driver testdata (TESTDATA.md).
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S2; reference etl.py:136-138).

    Vectorized columnar read with predicate pushdown and column pruning
    handled by Catalyst — no engine work needed beyond staying declarative.
    """
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same vectorized read / pushdown / pruning posture as
    parquet (both are native columnar sources with Catalyst filter and
    partition pruning); the interchange format for Hive/Trino-resident
    inputs."""
    return spark.read.orc(path)


def read_csv_with_schema(
    spark: SparkSession,
    path: str,
    schema: StructType,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema (S3; reference etl.py:141-158).

    An explicit StructType skips the inference pass (one fewer full read)
    and pins types independent of file content — at scale, schema inference
    over TB-size CSV is a full extra job.
    """
    return spark.read.csv(path, sep=sep, header=header, schema=schema)


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | StructType,
) -> DataFrame:
    """Driver-side rows → DataFrame as a JVM local relation (S4).

    ``rows`` are positional tuples (or ``Row`` s) in ``schema`` order;
    ``schema`` is a DDL string or a ``StructType``. The rows become one
    ``pyarrow.Table`` typed by the schema's Arrow types, which Spark
    plans as a ``LocalTableScan`` carrying a real size estimate.
    ``createDataFrame(list, schema)`` instead builds a Python RDD
    (``parallelize`` + ``applySchemaToPythonRDD``): every action over
    any plan containing it starts Python workers to re-serialize the
    rows, and Catalyst sees its size as unknown.

    Every row first passes the same per-row verifier the list path
    runs: Arrow alone would silently truncate a float stored into a
    ``long`` column and accept ``None`` in a non-nullable field.
    Callers keep ``rows`` bounded — the whole table lives in the plan.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def from_pairs(
    spark: SparkSession,
    pairs: Iterable[tuple[str, str]],
    col_names: tuple[str, str],
) -> DataFrame:
    """Local-collection source (S4; reference etl.py:169-172 and siblings).

    Driver-side tuples → 2-column string :func:`local_frame`. These are
    tiny label dims (≤660 rows); as local relations Catalyst knows their
    size, so they broadcast in every join they participate in.
    """
    return local_frame(
        spark, pairs, StructType([StructField(c, StringType()) for c in col_names])
    )


def first_available(spark: SparkSession, candidates: Sequence[tuple[str, str]]) -> DataFrame:
    """Existence-fallback source (S1 generalized; reference etl.py:128-138).

    The reference reads SAS7BDAT if the file exists, else a parquet dir.
    Generalized: ``candidates`` is an ordered list of (format, path); the
    first path that exists wins. ``format`` is any Spark datasource name
    ("parquet", "csv", ...) or the built-in ``"sas7bdat"``, which routes
    through :mod:`udacity_dend_capstone_immigration_spark.sources.sas7bdat` — a pure-Python
    executor-side reader, no ``saurfang:spark-sas7bdat`` JAR needed.
    """
    for fmt, path in candidates:
        if os.path.exists(path):
            if fmt in ("sas7bdat", "com.github.saurfang.sas.spark"):
                from udacity_dend_capstone_immigration_spark.sources.sas7bdat import read_sas7bdat

                return read_sas7bdat(spark, path)
            return spark.read.format(fmt).load(path)
    raise FileNotFoundError(f"No candidate source exists: {[p for _, p in candidates]}")


def load_star(spark: SparkSession, sf_dir: str, tables: Sequence[str] = STAR_TABLES) -> dict[str, DataFrame]:
    """Load the driver's star-schema testdata and register temp views (S7).

    ``events`` routes through
    :func:`~udacity_dend_capstone_immigration_spark.workload.base.read_events`:
    its parquet stores TIMESTAMP(NANOS), which a default session's reader
    rejects — the plain path would throw on the full default table list.
    """
    from udacity_dend_capstone_immigration_spark.workload.base import read_events

    out: dict[str, DataFrame] = {}
    for name in tables:
        if name == "events":
            df = read_events(spark, sf_dir)
        else:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_jsonl_with_schema(
    spark: SparkSession,
    path: str,
    schema: StructType,
    path_glob_filter: str | None = None,
) -> DataFrame:
    """JSON-Lines scan with explicit schema — the interchange format LLM
    corpora actually ship in (one JSON document per line).

    An explicit StructType is non-negotiable at scale: inference reads
    the whole input once before the real job, and JSONL corpora are
    TB-sized. Malformed lines land in the PERMISSIVE-mode
    ``_corrupt_record`` column when the schema declares one, instead of
    failing the scan — add ``StructField("_corrupt_record", StringType())``
    to opt in. Line-split JSON is splittable, so parallelism matches
    file blocks like any text source.
    """
    reader = spark.read
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return reader.json(path, schema=schema)

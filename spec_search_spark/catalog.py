"""Table catalog over the driver's parquet test tables.

The reference enumerates spreadsheets in a Drive folder and scans each
worksheet (`/root/reference/indexer.py:80-90`, `:29`); here the
equivalent "source" layer is ``spark.read.parquet`` over a scale-factor
directory, which buys Catalyst pushdown + pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from spec_search_spark.session import refresh_if_rewritten

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Lazy — Catalyst prunes columns/row-groups later.

    `events.ts` has been written two ways across testdata generations:
    TIMESTAMP(NANOS) (which the Spark parquet reader rejects — read
    nanos as long via the runtime legacy conf, then truncate to
    microsecond timestamps, matching DuckDB's TIMESTAMP_NS → TIMESTAMP
    truncation) or plain TIMESTAMP(MICROS)/NTZ. Branch on the read
    dtype so both generations load identically, and normalize to
    TIMESTAMP (LTZ): the session timezone is pinned to UTC
    (session.tune), so the NTZ→LTZ cast is instant-preserving and the
    whole operator surface (unix_micros, watermarks, window frames)
    sees one stable type. Integer division (`div`) keeps the full
    64-bit precision (a double division would corrupt epoch-nanos).

    A file rewritten since its last load in this session has its cached
    plans refreshed first (`session.refresh_if_rewritten`).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    refresh_if_rewritten(spark, path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin UTC here too: the NTZ→LTZ cast below must not depend on
        # the caller having run session.tune() first. This IS a session
        # config override (the whole operator surface is defined over
        # UTC event times — see session.tune); if a caller deliberately
        # configured a different zone, say so loudly instead of
        # silently flipping their unrelated timestamp arithmetic.
        current = spark.conf.get("spark.sql.session.timeZone", None)
        if current not in (None, "UTC", "Etc/UTC", "GMT", "+00:00"):
            import warnings

            warnings.warn(
                f"load_table('events') pins spark.sql.session.timeZone=UTC "
                f"(was {current!r}): every events operator and oracle is "
                f"defined over UTC event times",
                stacklevel=2,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

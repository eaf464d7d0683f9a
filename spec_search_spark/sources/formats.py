"""Format adapters: parquet/csv/json/orc read+write with schema
round-trip handling.

Scale notes: parquet/orc are the columnar defaults (pushdown +
pruning); csv/json exist for ingest edges. CSV/JSON write stringifies
nested types — array columns (embeddings) are json-encoded on write
and decoded on read, so a round trip preserves values. `inferSchema`
is never used on the read path (full-file pre-scan at 100 TB); callers
pass the schema or read parquet.

The sheet-shaped source/sink proper lives in sources/sheets_source.py
(native JSON scan: file-pruned, ranged and header-records reads;
write-back sink over local fixtures); only the network/auth half of a
real Sheets connector stays out of scope.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spec_search_spark.catalog import load_table
from spec_search_spark.session import session_memo, tune

FORMATS = ("parquet", "orc", "csv", "json")


def _array_cols(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields if isinstance(f.dataType, T.ArrayType)]


def write_table_any(df: DataFrame, path: str, fmt: str) -> None:
    """Write in any supported format; array columns are json-encoded
    for the text formats (csv cannot hold nested types)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    out = df
    if fmt == "csv":
        for c in _array_cols(df.schema):
            out = out.withColumn(c, F.to_json(F.col(c)))
        out.write.mode("overwrite").option("header", True).csv(path)
    else:
        out.write.mode("overwrite").format(fmt).save(path)


def write_fixed_width(df: DataFrame, path: str, widths: list[tuple[str, int]]) -> None:
    """Write a fixed-width text file (the mainframe/legacy-feed layout
    Spark has no native writer for): each column rendered into its
    byte-width slot via one format_string expression — per-row
    codegen, no UDF — then written through the text sink. Columns must
    be pre-rendered to strings; values longer than their slot raise at
    write (silent truncation corrupts a positional format)."""
    parts = []
    for name, width in widths:
        over = df.filter(F.length(F.col(name).cast("string")) > width).count()
        if over:
            raise ValueError(f"{over} values of {name!r} exceed width {width}")
        parts.append(F.lpad(F.col(name).cast("string"), width, " "))
    df.select(F.concat(*parts).alias("value")).write.mode("overwrite").text(path)


def read_fixed_width(
    spark: SparkSession, path: str, widths: list[tuple[str, int]],
    types: dict[str, str] | None = None,
) -> DataFrame:
    """Read a fixed-width text file back into typed columns: substring
    slices at the declared offsets + trim + cast, all codegen
    expressions the optimizer prunes like any projection."""
    df = spark.read.text(path)
    cols, off = [], 1
    for name, width in widths:
        c = F.trim(F.substring(F.col("value"), off, width))
        dtype = (types or {}).get(name)
        cols.append((c.cast(dtype) if dtype else c).alias(name))
        off += width
    return df.select(*cols)


def read_table_any(
    spark: SparkSession, path: str, fmt: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read any supported format. For csv/json an explicit schema is
    required (no inferSchema full-file pre-scan); json-encoded array
    columns are decoded back to arrays."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if schema is None:
        raise ValueError(f"{fmt} read requires an explicit schema")
    if fmt == "json":
        return spark.read.schema(schema).json(path)
    # csv: read array columns as strings, then decode
    arr_cols = {f.name: f.dataType for f in schema.fields if isinstance(f.dataType, T.ArrayType)}
    read_schema = T.StructType(
        [
            T.StructField(f.name, T.StringType() if f.name in arr_cols else f.dataType, True)
            for f in schema.fields
        ]
    )
    df = spark.read.schema(read_schema).option("header", True).csv(path)
    for name, dtype in arr_cols.items():
        df = df.withColumn(name, F.from_json(F.col(name), dtype))
    return df


# --- fixed-width registered query -------------------------------------------

_FW_WIDTHS = [
    ("o_orderkey", 12),
    ("o_custkey", 12),
    ("o_orderstatus", 2),
    ("price_cents", 14),
]

@session_memo
def _fw_dir(spark: SparkSession, sf_dir: str) -> str:
    path = os.path.join(tempfile.mkdtemp(prefix="spec_search_fw_"), "orders_fw")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("price_cents"),
    )
    write_fixed_width(orders, path, _FW_WIDTHS)
    return path


def fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy fixed-width feed round trip: orders rendered into a
    positional text layout (write_fixed_width), re-ingested by offset
    slicing (read_fixed_width), then aggregated — the DuckDB oracle
    computes the same aggregate from the ORIGINAL parquet, so equality
    proves the positional format preserved every value.

    Prices travel as integer cents (exact bigints) — float-to-text is
    where positional feeds silently corrupt money, and the cents
    rendering removes that hazard by construction.

    Scale: render and parse are per-row codegen expressions around the
    text source/sink; the write is memoized per (session, sf) like the
    bucketed tables. The final aggregate is partial+final on the
    3-value status column.
    """
    tune(spark)
    parsed = read_fixed_width(
        spark,
        _fw_dir(spark, sf_dir),
        _FW_WIDTHS,
        types={"o_orderkey": "bigint", "o_custkey": "bigint", "price_cents": "bigint"},
    )
    return parsed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.sum("price_cents").alias("total_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


FIXED_WIDTH_SQL = """
SELECT o_orderstatus,
       count(*) AS n,
       count(DISTINCT o_custkey) AS n_custs,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
"""


@session_memo
def _xml_dir(spark: SparkSession, sf_dir: str) -> str:
    path = os.path.join(tempfile.mkdtemp(prefix="spec_search_xml_"), "nation_xml")
    load_table(spark, sf_dir, "nation").write.format("xml").option(
        "rootTag", "nations"
    ).option("rowTag", "nation").save(path)
    return path


def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink round trip (Spark 4 ships spark-xml
    in-tree): the nation dimension rendered to <row> elements and
    re-ingested with an explicit schema (no inferSchema pre-scan),
    joined back over region to prove keys and text survived markup.
    Covers the last of the classic ingest-edge text formats alongside
    csv/json/fixed-width.

    Output: (r_name, n_nations, name_chars)."""
    tune(spark)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    nation = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(schema)
        .load(_xml_dir(spark, sf_dir))
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum(F.length("n_name")).alias("name_chars"),
        )
    )


XML_ROUNDTRIP_SQL = """
SELECT r_name, count(*) AS n_nations,
       CAST(sum(length(n_name)) AS BIGINT) AS name_chars
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


QUERIES = {
    "fixed_width_roundtrip": fixed_width_roundtrip,
    "xml_roundtrip": xml_roundtrip,
}

ORACLES = {
    "fixed_width_roundtrip": FIXED_WIDTH_SQL,
    "xml_roundtrip": XML_ROUNDTRIP_SQL,
}

"""Source connectors (SURVEY §2.B row 1: the reference supports exactly one
source — a single mmap'd local text file, /root/reference/src/mapreduce.c:167-222).

Spark generalizes that to splittable, schema-aware, predicate-pushdown
sources. `read_text` is the faithful equivalent (one string column per
line, with an optional line_no — the reference keys string_match output by
line number); the others are the formats any real pipeline needs.

Scale notes: all readers return lazy DataFrames; file listing/splitting is
Spark's (maxPartitionBytes governs split size). Line numbers are computed
in the JVM from the text scan itself: a per-split row count, a running sum
over the splits, and a broadcast join back. That costs a second scan of
the input and one small shuffle, but no Python worker and no eager job;
only request them when the query needs reference-style keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_text(
    spark: SparkSession, path: str, with_line_numbers: bool = False
) -> DataFrame:
    """Lines of text ≡ the reference's splitter output (task chunks of
    lines, wordcount.c:24-54) — Spark assigns splits natively.

    with_line_numbers=True adds a global 0-based line_no column (true line
    numbers — the reference's per-character counter bug, SURVEY App. A.3,
    is deliberately not reproduced). Lines are numbered in the order of
    the files sorted by path, then by byte offset within each file, so a
    folder numbers the same on every machine whatever its listing order.

    The numbering runs in the JVM and stays lazy. A split's lines are
    contiguous and in file order inside one scan partition, so
    monotonically_increasing_id() minus the split's smallest id is a
    line's index within its split; a running sum of the split line counts,
    ordered by (path, split start), gives the lines before each split.
    A filter on the result stays above the id projection, because Catalyst
    does not push a filter through a nondeterministic projection, so the
    ids count every line of a split, kept or not."""
    lines = spark.read.text(path)
    if not with_line_numbers:
        return lines
    split = ["_file", "_start"]
    rows = lines.select(
        "value",
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.file_block_start").alias("_start"),
        F.monotonically_increasing_id().alias("_id"),
    )
    before = Window.orderBy(*split).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        rows.groupBy(*split)
        .agg(F.min("_id").alias("_min_id"), F.count("*").alias("_n"))
        # one row per split: one task finishes the aggregate and feeds the
        # window directly, instead of a second exchange into one partition
        .coalesce(1)
        .select(
            *split,
            (F.coalesce(F.sum("_n").over(before), F.lit(0)) - F.col("_min_id"))
            .alias("_shift"),
        )
    )
    return rows.join(F.broadcast(offsets), split).select(
        "value", (F.col("_id") + F.col("_shift")).alias("line_no")
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC: the other columnar warehouse format Spark reads natively, with
    the same vectorized scan + predicate pushdown + column pruning as
    parquet (PushedFilters show in .explain identically)."""
    return spark.read.orc(path)

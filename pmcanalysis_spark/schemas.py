"""Declared StructTypes for every stage table (SURVEY.md §1.2, §7.1).

The reference is stringly-typed TSV with hard-coded column positions
(/root/reference/FilterDOPheno.groovy:44-54); we declare explicit schemas so
every stage boundary is checkable and Parquet/Iceberg pruning has real types.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WEB_PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


MENTIONS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("sent_idx", IntegerType(), False),
        StructField("term_id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
    ]
)

LEXICON = StructType(
    [
        StructField("name", StringType(), False),
        StructField("term_id", StringType(), False),
        StructField("kind", StringType(), True),
    ]
)

HIERARCHY = StructType(
    [
        StructField("term_id", StringType(), False),
        StructField("ancestor_id", StringType(), False),
    ]
)

DOC_TERM_SETS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("term_ids", ArrayType(StringType(), False), False),
    ]
)


AUTHOR_RECORDS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("author_key", StringType(), False),
        StructField("coauthors", ArrayType(StringType()), True),
        StructField("mesh", ArrayType(StringType()), True),
        StructField("title_tokens", ArrayType(StringType()), True),
        StructField("affiliation_tokens", ArrayType(StringType()), True),
        StructField("true_entity", StringType(), True),
    ]
)

LINEAGE = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("row_count", LongType(), False),
        StructField("min_key", StringType(), True),
        StructField("max_key", StringType(), True),
        StructField("wall_ms", LongType(), True),
        StructField("run_id", StringType(), True),
    ]
)

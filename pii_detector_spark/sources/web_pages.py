"""web_pages input table: schema, reader and pre-filters.

Reader is plain ``spark.read.parquet`` (the Iceberg catalog swap is a format
string change; nothing else here assumes parquet). Column pruning matters:
``html:binary`` dominates row width, so stages that don't need it must
select it away *before* wide operators. Text extraction from ``html`` runs
inside the fused document UDF (``operators/fused.py``).

Pre-filters reproduce the reference's object filters (SURVEY.md §2.2):
F1 extension blocklist (``app/core/config.py:98-110``), F2 log-path
exclusion (``app/services/s3_service.py:114,251-261``), F9 empty guard
(``base_scan_service.py:456-474``), F10 size guard
(``file_service.py:137-139``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WEB_PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# reference blocklist (app/core/config.py:98-110) — media/binary extensions
BLOCKED_EXT_RX = (
    r"(?i)\.(png|jpe?g|gif|bmp|tiff?|ico|svg|webp|mp3|wav|ogg|flac|mp4|avi|"
    r"mov|mkv|webm|zip|tar|gz|bz2|rar|7z|exe|dll|so|bin)$"
)
# reference log exclusion (s3_service.py:114,251-261)
LOG_PATH_RX = r"(?i)(vpcflowlogs|CloudTrail|-log)"

MAX_HTML_BYTES = 10 * 1024 * 1024  # F10 size guard


def read_web_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(WEB_PAGES_SCHEMA).parquet(path)


def apply_prefilters(df: DataFrame, max_html_bytes: int = MAX_HTML_BYTES) -> DataFrame:
    """Object-level filters the reference applies before scanning. These are
    plain predicates → Catalyst pushes them into the scan."""
    return (
        df.filter(~F.col("url").rlike(BLOCKED_EXT_RX))
        .filter(~F.col("url").rlike(LOG_PATH_RX))
        .filter(F.col("html").isNotNull() | F.col("text").isNotNull())
        .filter(
            F.col("html").isNull() | (F.length(F.col("html")) <= max_html_bytes)
        )
    )

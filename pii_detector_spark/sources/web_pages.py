"""web_pages input table: schema, reader and pre-filters.

Reader is plain ``spark.read.parquet`` (the Iceberg catalog swap is a format
string change; nothing else here assumes parquet). Column pruning matters:
``html:binary`` dominates row width, so stages that don't need it must
select it away *before* wide operators. Text extraction from ``html`` runs
inside the fused per-batch step (``operators/fused.py``'s row loop, in
``plans/pipeline.py``'s ``mapInArrow``).

Pre-filters reproduce the reference's object filters (SURVEY.md §2.2):
F1 extension blocklist (``app/core/config.py:98-110``), F2 log-path
exclusion (``app/services/s3_service.py:114,251-261``), F9 empty guard
(``base_scan_service.py:456-474``), F10 size guard
(``file_service.py:137-139``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
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


def _sql_string(s: str) -> str:
    """``s`` as a SQL string expression that reads the same whatever
    ``spark.sql.parser.escapedStringLiterals`` says: its backslashes and
    quotes go in as ``chr()`` calls, so no literal holds an escape.  It
    folds to one literal at optimization."""
    parts = [p for p in re.split(r"(['\\])", s) if p]
    return "concat({})".format(
        ", ".join(
            f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'" for p in parts
        )
    )


def apply_prefilters(df: DataFrame, max_html_bytes: int = MAX_HTML_BYTES) -> DataFrame:
    """Object-level filters the reference applies before scanning. These are
    plain predicates → Catalyst pushes them into the scan.  One SQL
    predicate, parsed in one py4j call: built from Column operators it
    costs one round trip (~1 ms) per operator."""
    return df.filter(
        f"url NOT RLIKE {_sql_string(BLOCKED_EXT_RX)}"
        f" AND url NOT RLIKE {_sql_string(LOG_PATH_RX)}"
        " AND (html IS NOT NULL OR text IS NOT NULL)"
        f" AND (html IS NULL OR length(html) <= {int(max_html_bytes)})"
    )

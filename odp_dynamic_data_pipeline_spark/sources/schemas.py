"""Declared schemas for the reference-shaped telemetry sources.

The reference is schema-free (fields fetched with .get(), reference:
src/data_processor.py:104-107); here every source has an explicit StructType
so sparse fields (errorCode/errorMessage) are stable nullable columns and
production reads never rely on inference (SURVEY.md section 1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# data/user_exp_*.json (reference: src/batch_tlb.py:22,41-77)
USER_EXP_SCHEMA = StructType(
    [
        StructField("eventId", StringType(), False),
        StructField("clientId", StringType(), False),
        StructField("traceId", StringType(), True),
        StructField("timestamp", StringType(), False),  # ISO-8601; parsed via to_timestamp
        StructField("page", StringType(), False),
        StructField("eventType", StringType(), False),
        StructField("errorCode", StringType(), True),
        StructField("errorMessage", StringType(), True),
    ]
)

SPAN_SCHEMA = StructType(
    [
        StructField("spanId", StringType(), False),
        StructField("server", StringType(), False),
        StructField("log", StringType(), False),
    ]
)

# data/trace_*.json (reference: src/batch_tlb.py:23,27-30)
TRACE_SCHEMA = StructType(
    [
        StructField("traceId", StringType(), False),
        StructField("spans", ArrayType(SPAN_SCHEMA), False),
    ]
)

# data/log_*.json (reference: src/batch_tlb.py:24,33-35,69-77)
LOG_SCHEMA = StructType(
    [
        StructField("logId", StringType(), False),
        StructField("spanId", StringType(), False),
        StructField("timestamp", StringType(), False),
        StructField("message", StringType(), False),
        StructField("level", StringType(), False),
        StructField("processingTimeMs", LongType(), False),
        StructField("eventType", StringType(), False),
    ]
)

ISO_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ssX"


def with_event_time(df, src_col: str = "timestamp", dst_col: str = "event_time"):
    """Parse the ISO-8601 string timestamp into a TimestampType column
    (reference parses lazily per-row, src/batch_tlb.py:48,55)."""
    from pyspark.sql import functions as F

    return df.withColumn(dst_col, F.to_timestamp(F.col(src_col), ISO_TS_FORMAT))

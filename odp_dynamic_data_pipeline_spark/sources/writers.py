"""Sinks (SURVEY.md section 2.1: S5, S6-replacement, S8).

Internally everything is hour-partitioned parquet; JSON only at the edge
(the reference writes pretty-printed JSON arrays, src/data_processor.py:36-40,
which is an interchange format, not a storage layout).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, *, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    path: str,
    table: str,
    bucket_cols: list[str] | str,
    *,
    num_buckets: int = 32,
) -> None:
    """Bucketed (hash-clustered) parquet data at ``path``, registered in the
    session catalog as the external table ``table`` (overwritten).  Two
    tables bucketed on the same key with the same bucket count join WITHOUT
    a shuffle -- the 100 TB answer for fact-to-fact joins that recur on the
    same key (broadcast only covers dimension-sized sides)."""
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
        .saveAsTable(table)
    )


def write_orc(df: DataFrame, path: str, *, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    """ORC sink -- same layout contract as write_parquet (hour partitioning,
    min/max stripe statistics for pruning)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSONL sink (S5). Spark-native: one file per partition, no driver
    materialization."""
    df.write.mode(mode).json(path)


def compact_parquet(spark, path: str, *, target_files: int, sort_within_by: list[str] | None = None) -> None:
    """Small-files compaction: rewrite a parquet directory into
    ``target_files`` files (optionally sorted within partitions for better
    min/max pruning).  Streaming/hourly sinks accrete small files; at 100 TB
    the scheduler pays per file, so periodic compaction is part of the
    layout contract.

    Swap protocol (each rename is atomic on HDFS/local; the sequence is not
    one atomic operation, but the canonical path always points at a complete
    copy of the data): write to a temp sibling, rename the old directory
    aside, rename the temp into place, then delete the aside copy.  A crash
    between the two renames leaves the data recoverable under
    ``path__old_<token>``; object stores lack atomic rename entirely and
    need a manifest-based table format instead."""
    import uuid

    token = uuid.uuid4().hex[:8]
    tmp = f"{path}__compact_{token}"
    df = spark.read.parquet(path)
    out = df.repartition(target_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(tmp)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create(tmp), conf)
    p_old = jvm.org.apache.hadoop.fs.Path(path)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_aside = jvm.org.apache.hadoop.fs.Path(f"{path}__old_{token}")
    if not fs.rename(p_old, p_aside):
        raise IOError(f"compact_parquet: failed to move {path} aside")
    if not fs.rename(p_tmp, p_old):
        # roll back so the canonical path is never left missing
        fs.rename(p_aside, p_old)
        raise IOError(f"compact_parquet: failed to swap {tmp} into {path}")
    fs.delete(p_aside, True)


def _dump_json(obj, path: str, indent: int) -> None:
    """Write ``obj`` as indented JSON, creating the parent directory when
    the path names one (a bare filename writes to the working directory)."""
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=indent, default=str)


def write_json_array(df: DataFrame, path: str) -> None:
    """Edge-compatible sink reproducing the reference's pretty-printed JSON
    array files (reference: src/data_processor.py:38-40).  Driver-side
    collect -- only for edge outputs known to be small (golden-file parity);
    large outputs use write_json/write_parquet."""
    _dump_json([r.asDict(recursive=True) for r in df.collect()], path, indent=4)


def write_keyed_object(df: DataFrame, key_col: str, path: str | None = None) -> dict:
    """S8: metrics as a JSON object keyed by ``key_col`` (reference:
    src/batch_tlb.py:79-85 and golden output/tlb_metrics/2024111612.json).
    Cosmetic driver-side post-step over an already-aggregated (small) result.
    """
    rows = [r.asDict(recursive=True) for r in df.collect()]
    keyed = {str(r[key_col]): {k: v for k, v in r.items() if k != key_col} for r in rows}
    if path:
        _dump_json(keyed, path, indent=2)
    return keyed


def format_kafka_value(
    df: DataFrame,
    *,
    key_cols: list[str] | str | None = None,
    drop_cols: list[str] | None = None,
) -> DataFrame:
    """Encode typed rows into the Kafka SINK wire schema: ``value`` =
    JSON-serialized row (binary), optional ``key`` = JSON object of the key
    columns (binary, drives topic partitioning so one entity's events stay
    ordered within a partition).  The key is JSON rather than a delimited
    concat so NULL parts and delimiter characters in the data cannot
    collapse distinct keys onto one partition.  The exact inverse of
    ``readers.parse_kafka_value`` -- round-trip identity is unit-tested
    without a broker."""
    from pyspark.sql import functions as SF

    cols = []
    if key_cols is not None:
        if isinstance(key_cols, str):
            key_cols = [key_cols]
        # key resolves against the FULL input: a key column may also be in
        # drop_cols (key-only-in-key usage)
        key = SF.to_json(SF.struct(*[df[c] for c in key_cols]))
        cols.append(key.cast("binary").alias("key"))
    value_cols = [c for c in df.columns if c not in set(drop_cols or [])]
    cols.append(
        SF.to_json(SF.struct(*[df[c] for c in value_cols])).cast("binary").alias("value")
    )
    return df.select(*cols)


def kafka_sink_options(
    bootstrap_servers: str,
    topic: str,
    *,
    checkpoint: str | None = None,
    include_headers: bool = False,
) -> dict[str, str]:
    """Option map for a Kafka writeStream/batch-write sink -- split out so
    the surface is unit-testable without a broker, mirroring
    ``readers.kafka_stream_options``.  The sink is at-least-once (Kafka
    has no transactional Spark sink); exactly-once downstream needs either
    idempotent consumers or the keyed/offset dedup the incremental stores
    implement."""
    if not bootstrap_servers or not topic:
        raise ValueError("kafka sink needs bootstrap_servers and topic")
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }
    if checkpoint is not None:
        opts["checkpointLocation"] = checkpoint
    if include_headers:
        opts["includeHeaders"] = "true"
    return opts

"""SparkSession factory.

The reference engine is a single-threaded eager interpreter
(reference: src/data_processor.py:15-42); here the execution engine is Spark
itself, so this module only declares session-level policy: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), UTC session time,
Arrow for the Python boundary, and the parquet-nanos compatibility flag the
driver testdata needs.

Designed for a real cluster: nothing here assumes local mode except the
default master, which is overridable via SPARK_GRAFT_CPUS / an explicit
``master=`` argument.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from odp_dynamic_data_pipeline_spark import class_archive

# Confs that are safe (and required) to set at runtime on an externally
# provided session, e.g. the driver's.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark reads it as
    # long-nanos under this flag and sources.catalog converts to TimestampType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp semantics for oracle parity
    "spark.sql.session.timeZone": "UTC",
    # read parquet TIMESTAMP(isAdjustedToUTC=false) directly as TimestampType
    # (raw micros as UTC instants -- identical semantics to the catalog's
    # cast-under-UTC) instead of TIMESTAMP_NTZ.  This keeps date predicates
    # pushdown-eligible at the scan: a filter on a cast projection cannot
    # reach the reader for row-group pruning, a filter on the scanned column
    # can.  catalog.load_table retains the NTZ->cast fallback (with a UTC
    # guard) for host sessions where this conf is locked.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / applyInPandas paths
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # InferFiltersFromGenerate adds size(arr)>0 under every explode(); when
    # the array is COMPUTED (tokenize -> n-gram lambda), predicate pushdown
    # then inlines the whole expression below its materializing Project,
    # re-running regexp_extract_all inside every element_at of the lambda
    # -- measured 20x+ on 8-gram explodes.  The rule only short-circuits
    # empty arrays, which Generate already handles; semantics unchanged.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # lower/upper/initcap on UTF8_BINARY strings through the JVM's
    # String.toLowerCase/toUpperCase instead of ICU.  With ICU (Spark 4's
    # default) the first case mapping in a JVM runs a static initializer
    # that builds a title-case table code point by code point, loading the
    # word BreakIterator and the CJK dictionary on the way: ~3 CPU-s of the
    # ~18 of a cold corpus batch, paid by every fresh hourly driver.  ASCII
    # maps identically; non-ASCII follows the JDK's Unicode tables and
    # default locale (Spark 3's behaviour), not ICU's -- README "Case
    # mapping without ICU".
    "spark.sql.icu.caseMappings.enabled": "false",
}

# Confs that must be set before the session exists.
BUILD_CONFS: dict[str, str] = {
    # dimension tables (region/nation/customer mappings) should broadcast;
    # 64m is far above any dim side we produce but far below a 100 TB fact.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # sane local shuffle fan-out; on a real cluster AQE coalesces upward
    # from this initial value.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # The driver's JIT policy.  The pipeline runs as one fresh process per
    # hour, so the JVM exits before C2-optimised code pays back its compile:
    # C1 only (TieredStopAtLevel=1) halves the CPU of the cold batch, at the
    # price of slower hot loops in a long-lived session (README "The driver
    # JVM's JIT policy").  Every query also compiles fresh whole-stage-codegen
    # classes; a long-lived session fills the default 240m code cache, after
    # which the JVM silently stops compiling and row-at-a-time operators
    # (BNLJ, sort) fall off a cliff (measured: same query 0.8s early in the
    # session, 9s+ after ~90 queries), hence the 1g reservation.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g -XX:TieredStopAtLevel=1",
    # The driver's memory policy.  An 8g heap gives G1 4 MB regions, and
    # G1 allocates any array of half a region or more as "humongous": in
    # its own regions, outside the young generation, each one a possible
    # GC pause.  Spark's default Tungsten page (up to 64 MB for sorters,
    # hash-aggregate maps and BytesToBytesMap) and 4 MB broadcast chunks
    # are all humongous, and in a fresh hourly driver they were half of
    # the bytes allocated and most of its GC.  1 MB pages and chunks stay
    # young.  The price: a task's 8,192-entry page table then caps its
    # Tungsten memory at 8 GB, above the local driver's ~4.4 GB execution
    # pool (README "The driver JVM's memory policy").
    "spark.buffer.pageSize": "1m",
    "spark.broadcast.blockSize": "1m",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Called defensively by every reader so queries behave the same on the
    driver-owned session as on one built by :func:`get_spark`.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    return spark


_S3A_COMMITTERS = ("magic", "directory", "partitioned")


def s3a_confs(
    *,
    endpoint: str | None = None,
    path_style_access: bool = False,
    committer: str = "magic",
    max_connections: int = 96,
    upload_buffer: str = "disk",
) -> dict[str, str]:
    """Deployment confs for object-store (s3a://) reads and writes, ready
    to pass as ``get_spark(extra_confs=...)``.

    The reader/writer paths treat s3a as just another Hadoop filesystem
    (S2: sources.readers docstrings), but a DEPLOYMENT also needs commit
    semantics: a rename-based output committer on S3 is both slow (copy +
    delete per file) and unsafe (non-atomic dir rename), so the S3A
    committers are mandatory at scale -- ``magic`` writes straight to the
    final location via multipart uploads completed at job commit;
    ``directory``/``partitioned`` stage to local disk first.

    This sandbox has no S3 endpoint (README "Environmental verification
    limits"), so the function is the type-checked, test-asserted record of
    the config a real deployment needs rather than an integration-tested
    path.  Every key below is public Hadoop S3A / Spark cloud-committer
    surface."""
    if committer not in _S3A_COMMITTERS:
        raise ValueError(
            f"s3a_confs: committer must be one of {_S3A_COMMITTERS}, got {committer!r}"
        )
    if upload_buffer not in ("disk", "array", "bytebuffer"):
        raise ValueError(f"s3a_confs: invalid upload_buffer {upload_buffer!r}")
    if endpoint is not None and not endpoint.startswith(("http://", "https://")):
        raise ValueError(
            f"s3a_confs: endpoint must be an http(s) URL, got {endpoint!r}"
        )
    confs = {
        # committer wiring: Spark's cloud commit protocol binds parquet
        # output to the Hadoop PathOutputCommitter the s3a.committer.name
        # selects (requires the spark-hadoop-cloud module on the cluster)
        "spark.sql.sources.commitProtocolClass":
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
        "spark.sql.parquet.output.committer.class":
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
        "spark.hadoop.fs.s3a.committer.name": committer,
        "spark.hadoop.fs.s3a.committer.magic.enabled": str(committer == "magic").lower(),
        # connection pool sized to executor-side parallelism; the default
        # (96 in recent Hadoop, lower historically) throttles wide scans
        "spark.hadoop.fs.s3a.connection.maximum": str(max_connections),
        "spark.hadoop.fs.s3a.threads.max": str(max_connections),
        # multipart upload buffering: disk is the safe default (array /
        # bytebuffer trade heap/off-heap for throughput)
        "spark.hadoop.fs.s3a.fast.upload.buffer": upload_buffer,
        # listing v2 + directory marker retention are the modern defaults;
        # stated explicitly so a downgraded cluster profile is visible
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
    }
    if path_style_access:
        # minio / on-prem gateways resolve buckets by path, not virtual host
        confs["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if endpoint is not None:
        confs["spark.hadoop.fs.s3a.endpoint"] = endpoint
    return confs


def get_spark(
    app_name: str = "odp-dynamic-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard policy.

    A driver JVM this call launches starts on the class archive of
    :mod:`.class_archive`, built here on first use."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    confs = {**BUILD_CONFS, **RUNTIME_CONFS}
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.update(extra_confs or {})
    with class_archive.launch(confs) as launch_confs:
        for k, v in launch_confs.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)

"""Session policy.

String case mapping runs on the JVM, not ICU: ``session.RUNTIME_CONFS``
turns ``spark.sql.icu.caseMappings.enabled`` off, both on a session
``get_spark`` builds and on a plain session that ``ensure_runtime_confs``
is applied to (README "Case mapping without ICU").  ASCII text maps
exactly as before, so the dedup keys of ASCII corpora do not move.

No Tungsten page or broadcast chunk of a ``get_spark`` driver is a G1
humongous object (README "The driver JVM's memory policy")."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from odp_dynamic_data_pipeline_spark.operators.text import fingerprint
from odp_dynamic_data_pipeline_spark.session import ensure_runtime_confs
from tests.conftest import temp_confs

ICU_CONF = "spark.sql.icu.caseMappings.enabled"

# ASCII, plus the non-ASCII strings on which the JVM's and ICU's case
# mappings agree with Python's: sharp s, final sigma, precomposed
# accents, the titlecase digraph, dotted capital I
CASED = [
    "Hello, World! 123",
    "MiXeD cAsE ascii_text\twith TABS",
    "straße",
    "ΟΔΟΣ",
    "ÉCOLE",
    "ǅ",
    "İ",
]


def test_get_spark_builds_with_icu_case_mapping_off(spark):
    assert spark.conf.get(ICU_CONF) == "false"
    assert spark.sparkContext.getConf().get(ICU_CONF) == "false"


def test_ensure_runtime_confs_turns_icu_case_mapping_off_on_a_plain_session(spark):
    plain = spark.newSession()
    plain.conf.unset(ICU_CONF)
    assert plain.conf.get(ICU_CONF) == "true"
    ensure_runtime_confs(plain)
    assert plain.conf.get(ICU_CONF) == "false"


def test_driver_pages_and_broadcast_chunks_are_not_humongous(spark):
    # G1 allocates an object of half a region or more outside the young
    # generation; a heap or page change that crosses that line brings the
    # humongous allocations and their GC pauses back
    jvm = spark._jvm
    env = jvm.org.apache.spark.SparkEnv.get()
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    region = int(bean.getVMOption("G1HeapRegionSize").getValue())
    page = env.memoryManager().pageSizeBytes()
    block = env.conf().getSizeAsBytes("spark.broadcast.blockSize", "4m")
    assert region > 0
    assert 2 * page < region, (page, region)
    assert 2 * block < region, (block, region)


def test_case_mapping_matches_python(spark):
    df = spark.createDataFrame([(s,) for s in CASED], "s string")
    got = df.select("s", F.lower("s").alias("lo"), F.upper("s").alias("up")).collect()
    assert [(r.s, r.lo, r.up) for r in got] == [(s, s.lower(), s.upper()) for s in CASED]
    row = spark.createDataFrame([("hello-world o'neil",)], "s string").select(
        F.initcap("s").alias("t")
    ).first()
    assert row.t == "Hello-world O'neil"


def test_fingerprint_of_ascii_text_is_md5_of_normalized_text(spark):
    text = "  The Quick\tBrown  FOX\n jumps\r\nover   the LAZY dog.  "
    want = hashlib.md5(re.sub(r"\s+", " ", text.lower()).strip().encode()).hexdigest()
    df = spark.createDataFrame([(text,)], "text string")
    assert fingerprint(df).first().fingerprint == want
    with temp_confs(spark, {ICU_CONF: "true"}):
        assert fingerprint(df).first().fingerprint == want

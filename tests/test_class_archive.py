"""The driver JVM's class archive (odp_dynamic_data_pipeline_spark.class_archive):
built once, mapped by the JVM, and on every failure path a working session
that keeps the JDK's base CDS archive plus exactly one WARNING that names
the archive and the reason.

Each session starts in a child process with its own ``XDG_CACHE_HOME``;
the module builds one real archive (about 40 s) and restores it before
each test."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOGGER = "odp_dynamic_data_pipeline_spark.class_archive"

SESSION = textwrap.dedent(
    """
    import json, logging, os, sys
    logging.basicConfig(level=logging.WARNING, format="%(levelname)s %(name)s %(message)s")
    sys.path.insert(0, {repo!r})
    from odp_dynamic_data_pipeline_spark import class_archive as ca
    exec(os.environ.get("PRELUDE", ""))
    from odp_dynamic_data_pipeline_spark.session import get_spark
    from pyspark import SparkContext
    spark = get_spark("archive-test", master="local[1]", extra_confs={{"spark.ui.enabled": "false"}})
    mapped = ca._mapped_archives(SparkContext._gateway.proc.pid)
    jvm = spark._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    print(json.dumps({{
        "count": spark.range(3).count(),
        "mapped": sorted(mapped),
        "conf": dict(spark.sparkContext.getConf().getAll()),
        "vm": {{f: hotspot.getVMOption(f).getValue() for f in ("TieredStopAtLevel", "ReservedCodeCacheSize")}},
    }}))
    spark.stop()
    """
).format(repo=REPO)


def start(cache, cwd, prelude="", **env):
    """One session in a child process: (its result, its archive WARNINGs)."""
    run = subprocess.run(
        [sys.executable, "-c", SESSION],
        cwd=cwd,
        env={**os.environ, "XDG_CACHE_HOME": str(cache), "PRELUDE": prelude, **env},
        capture_output=True,
        text=True,
        timeout=400,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    warnings = [ln for ln in run.stderr.splitlines() if ln.startswith(f"WARNING {LOGGER}")]
    assert "[warning][cds]" not in run.stdout + run.stderr
    return json.loads(run.stdout.strip().splitlines()[-1]), warnings


def base_mapped(out):
    return any(os.path.basename(p).startswith("classes") for p in out["mapped"])


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache holding one real archive, and a pristine copy of it."""
    cache = tmp_path_factory.mktemp("xdg")
    out, warnings = start(cache, cache)
    root = os.path.join(cache, "odp_dynamic_data_pipeline_spark", "jvm")
    (jsa,) = [os.path.join(root, n) for n in os.listdir(root) if n.endswith(".jsa")]
    pristine = tmp_path_factory.mktemp("pristine")
    for f in (jsa, jsa[: -len(".jsa")] + ".json"):
        shutil.copy(f, pristine)
    return {"cache": cache, "jsa": jsa, "pristine": str(pristine), "first": (out, warnings)}


@pytest.fixture
def archive(built, tmp_path):
    """The built cache with its archive restored, and a scratch cwd."""
    jsa, meta = built["jsa"], built["jsa"][: -len(".jsa")] + ".json"
    for f in (jsa, meta):
        if os.path.exists(f):
            os.chmod(f, 0o644)
            os.remove(f)
        shutil.copy(os.path.join(built["pristine"], os.path.basename(f)), f)
    return {**built, "meta": meta, "cwd": tmp_path}


def assert_fallback(out, warnings, jsa, reason):
    assert out["count"] == 3
    assert jsa not in out["mapped"] and base_mapped(out)
    assert len(warnings) == 1, warnings
    assert jsa in warnings[0] and reason in warnings[0], warnings[0]


def test_built_once_then_mapped(archive):
    first, warnings = archive["first"]
    assert warnings == [] and first["count"] == 3 and archive["jsa"] in first["mapped"]
    log = archive["jsa"][: -len(".jsa")] + ".build.log"
    assert "[warning][cds] Skipping" in open(log).read()
    with open(archive["meta"]) as f:
        assert json.load(f)["size"] == os.path.getsize(archive["jsa"]) > 50 << 20
    out, warnings = start(archive["cache"], archive["cwd"])
    assert warnings == [] and archive["jsa"] in out["mapped"] and base_mapped(out)
    assert out["conf"]["spark.driver.extraJavaOptions"].endswith(f"-XX:SharedArchiveFile={archive['jsa']}")


def test_driver_jvm_runs_c1_only_on_the_archive(archive):
    """The driver's JIT policy (session.BUILD_CONFS): C1 only, a 1 GB
    code cache, and the class archive still mapped under both flags."""
    out, warnings = start(archive["cache"], archive["cwd"])
    assert warnings == [] and archive["jsa"] in out["mapped"] and base_mapped(out)
    assert out["vm"] == {"TieredStopAtLevel": "1", "ReservedCodeCacheSize": str(1 << 30)}


def test_training_run_takes_the_sessions_jit_flags(tmp_path, monkeypatch):
    """The archive's training JVM starts with the session's Java options,
    so it compiles under the same JIT policy as the driver it trains for."""
    from odp_dynamic_data_pipeline_spark import class_archive as ca
    from odp_dynamic_data_pipeline_spark.session import BUILD_CONFS, RUNTIME_CONFS

    training = {}

    class Training:
        """Stands in for the training process: reads its confs, exits 0."""

        pid = 0

        def __init__(self, args, cwd, **kwargs):
            with open(os.path.join(cwd, "confs.json")) as f:
                training.update(json.load(f))

        def wait(self, timeout=None):
            return 0

    monkeypatch.setattr(ca.subprocess, "Popen", Training)
    confs = {**BUILD_CONFS, **RUNTIME_CONFS}
    out = str(tmp_path / "driver.jsa")
    assert ca._run_training(ca.Paths(str(tmp_path), "k"), confs, str(tmp_path), out) == 0
    session_opts = confs["spark.driver.extraJavaOptions"].split()
    assert "-XX:TieredStopAtLevel=1" in session_opts
    opts = training["spark.driver.extraJavaOptions"].split()
    assert opts[: len(session_opts)] == session_opts
    assert opts[len(session_opts)] == f"-XX:ArchiveClassesAtExit={out}"


def test_truncated_archive_falls_back(archive):
    # the JVM dies with SIGBUS on a truncated archive
    os.chmod(archive["jsa"], 0o644)
    os.truncate(archive["jsa"], os.path.getsize(archive["jsa"]) // 2)
    out, warnings = start(archive["cache"], archive["cwd"])
    assert_fallback(out, warnings, archive["jsa"], "truncated")
    assert not os.path.exists(archive["jsa"])  # the next session rebuilds it


def test_junk_archive_falls_back(archive):
    # the JVM silently turns off even base CDS on a junk archive
    size = os.path.getsize(archive["jsa"])
    os.chmod(archive["jsa"], 0o644)
    with open(archive["jsa"], "wb") as f:
        f.write(os.urandom(1 << 20) * (size >> 20) + os.urandom(size % (1 << 20)))
    out, warnings = start(archive["cache"], archive["cwd"])
    assert_fallback(out, warnings, archive["jsa"], "not a dynamic CDS archive")


def test_mismatched_key_falls_back(archive):
    with open(archive["meta"]) as f:
        meta = json.load(f)
    meta["key"]["heap"] = ["64g"]
    with open(archive["meta"], "w") as f:
        json.dump(meta, f)
    out, warnings = start(archive["cache"], archive["cwd"])
    assert_fallback(out, warnings, archive["jsa"], "key does not match")


def test_archive_the_jvm_refuses_falls_back(archive):
    """A flag outside the key (here a 40 GB heap, which turns compressed
    oops off, hidden from the key) passes every check before launch; the
    JVM then refuses the archive and its memory map shows it."""
    prelude = (
        "real = ca._heap_flags\n"
        "ca._heap_flags = lambda confs: real({**confs, 'spark.driver.memory': '8g'})\n"
    )
    out, warnings = start(archive["cache"], archive["cwd"], prelude, SPARK_GRAFT_DRIVER_MEM="40g")
    assert_fallback(out, warnings, archive["jsa"], "refused")


def test_real_conf_dir_is_honoured_without_archive(archive, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.odp.marker  honoured\n")
    (conf / "log4j2.properties.template").write_text("")
    out, warnings = start(archive["cache"], archive["cwd"], SPARK_CONF_DIR=str(conf))
    assert out["conf"]["spark.odp.marker"] == "honoured"
    assert_fallback(out, warnings, archive["jsa"], "spark-defaults.conf")
    assert "SharedArchiveFile" not in out["conf"]["spark.driver.extraJavaOptions"]
    assert os.path.exists(archive["jsa"])  # nothing wrong with the archive


def test_conf_matches_a_start_without_archive(archive):
    """Apart from extraJavaOptions, the archive changes no Spark conf."""
    with_archive, warnings = start(archive["cache"], archive["cwd"])
    assert warnings == [] and archive["jsa"] in with_archive["mapped"]
    without, warnings = start(archive["cache"], archive["cwd"], "ca.prepare = lambda confs: None\n")
    assert warnings == [] and archive["jsa"] not in without["mapped"]
    per_run = {"spark.app.id", "spark.app.startTime", "spark.app.submitTime", "spark.driver.port"}
    opts = "spark.driver.extraJavaOptions"
    a = {k: v for k, v in with_archive["conf"].items() if k not in per_run}
    b = {k: v for k, v in without["conf"].items() if k not in per_run}
    assert a.pop(opts) == f"{b.pop(opts)} -XX:SharedArchiveFile={archive['jsa']}"
    assert a == b


CONCURRENT = textwrap.dedent(
    """
    import os, sys, time
    sys.path.insert(0, {repo!r})
    from odp_dynamic_data_pipeline_spark import class_archive as ca

    def fake_training(paths, confs, empty, out):
        with open(os.path.join(paths.root, "trainings"), "a") as f:
            f.write("x")
        time.sleep(2)
        with open(out, "wb") as f:
            f.write(ca._DYNAMIC_MAGIC.to_bytes(4, "little") + os.urandom(3 << 20))
        return 0

    ca._run_training = fake_training
    root = sys.argv[1]
    key = {{"fake": 1}}
    paths = ca.Paths(root, ca._digest(key))
    print(ca._resolve(paths, key, {{}}, root))
    """
).format(repo=REPO)


def test_concurrent_misses_build_once(tmp_path):
    procs = [
        subprocess.Popen([sys.executable, "-c", CONCURRENT, str(tmp_path)], stdout=subprocess.PIPE, text=True)
        for _ in range(2)
    ]
    results = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert results == ["None", "None"]  # both found a usable archive
    assert (tmp_path / "trainings").read_text() == "x"
    names = sorted(os.listdir(tmp_path))
    assert [n for n in names if ".tmp-" in n] == []  # published by rename
    assert sum(n.endswith(".jsa") for n in names) == 1


FAILING = textwrap.dedent(
    """
    import json, os, sys, time
    sys.path.insert(0, {repo!r})
    from odp_dynamic_data_pipeline_spark import class_archive as ca

    def failing_training(paths, confs, empty, out):
        with open(os.path.join(paths.root, "trainings"), "a") as f:
            f.write("x")
        return json.loads(sys.argv[2])

    ca._run_training = failing_training
    key = {{"fake": 2}}
    paths = ca.Paths(sys.argv[1], ca._digest(key))
    print(ca._resolve(paths, key, {{}}, sys.argv[1]))
    print(ca._resolve(paths, key, {{}}, sys.argv[1]))
    if os.path.exists(paths.failed):
        aged = time.time() - ca._RETRY_FAILED_S - 1
        os.utime(paths.failed, (aged, aged))
        print(ca._resolve(paths, key, {{}}, sys.argv[1]))
    """
).format(repo=REPO)


def failing_builds(tmp_path, rc):
    """The results of resolving an archive whose training run returns
    ``rc``: twice, then once more after aging any ``.failed`` marker."""
    run = subprocess.run(
        [sys.executable, "-c", FAILING, str(tmp_path), json.dumps(rc)],
        capture_output=True, text=True, timeout=120,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    return run.stdout.strip().splitlines()


def test_failed_build_is_retried_once_its_marker_is_a_day_old(tmp_path):
    first, second, aged = failing_builds(tmp_path, 1)
    assert first.startswith("build failed: training run exited 1")
    assert second.startswith("build failed earlier: training run exited 1") and "a day later" in second
    assert aged.startswith("build failed: training run exited 1")
    assert (tmp_path / "trainings").read_text() == "xx"


@pytest.mark.parametrize("rc", ["timed out after 300 s", -9], ids=["timeout", "killed"])
def test_interrupted_build_is_retried_next_session(tmp_path, rc):
    first, second = failing_builds(tmp_path, rc)
    for result in (first, second):
        assert result.startswith("build failed: training run") and "the next session retries" in result
    assert (tmp_path / "trainings").read_text() == "xx"
    assert not [n for n in os.listdir(tmp_path) if n.endswith(".failed")]

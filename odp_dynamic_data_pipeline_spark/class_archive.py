"""A dynamic AppCDS class archive for the driver JVM.

Every hourly run is a fresh process, so it pays the whole JVM start before
it touches a record; most of that start is loading and verifying the ~11k
Spark, Scala and Hadoop classes the gateway, SparkContext and SparkSession
need.  JDK 17's dynamic class-data sharing (``-XX:ArchiveClassesAtExit`` /
``-XX:SharedArchiveFile``) maps those classes pre-parsed from one file
instead, which roughly halves the session start.

How the archive is built, stored and used (:func:`launch`):

* Built on first use, once, before the session's JVM starts: a short
  training run of a tiny in-memory JSON / parquet / groupBy query
  (:func:`_train`) in a child process under ``-XX:ArchiveClassesAtExit``.
  The build takes about 40 s and writes about 165 MB.
* Stored under ``$XDG_CACHE_HOME`` (default ``~/.cache``), in
  ``odp_dynamic_data_pipeline_spark/jvm/``, never inside a checkout.  Two
  processes that miss at once build it at most once: the build holds a
  file lock and publishes by atomic rename.
* Keyed by everything CDS checks (:func:`archive_key`): the Java runtime,
  the launch classpath with the size and mtime of every jar, and the heap
  and compressed-oops flags.  A changed key names a new file, so the
  archive is rebuilt; archives of other keys stay, so that sessions with
  different heap flags on one host do not rebuild each other's.
* CDS refuses a non-empty directory on the classpath, and Spark's launcher
  puts the conf dir first.  The session therefore launches with
  ``SPARK_CONF_DIR`` pointed at an empty directory when the conf dir holds
  only ``*.template`` files (so the effective Spark config is unchanged).
  A conf dir with a real file is honoured and the archive is skipped.

Every failure falls back to a plain start -- which keeps the JDK's base
CDS archive -- and logs exactly one WARNING naming the archive and the
reason: a truncated, junk or mismatched archive is caught before the JVM
sees it (a truncated one would crash it with SIGBUS, a junk one would
silently turn off even base CDS) and deleted so the next session rebuilds
it; an archive the JVM still refuses is caught after start from the
JVM's memory map.  A build that timed out or whose training run was
killed (by the OOM killer, say) may not fail again, so the next session
retries it; a training run that exited with an error leaves a ``.failed``
marker with the reason, and the build is retried once the marker is a day
old or deleted.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import json
import logging
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from typing import Iterator

log = logging.getLogger(__name__)

# first word of a JDK 17 dynamic (top-layer) archive header
_DYNAMIC_MAGIC = 0xF00BABA8
# bytes hashed at each end of the archive to fingerprint it
_EDGE = 1 << 20
_BUILD_TIMEOUT_S = 300
# age of a .failed marker after which the build is tried again
_RETRY_FAILED_S = 24 * 3600
# JVM flags the archive depends on: heap size decides compressed oops
_HEAP_FLAG = re.compile(
    r"^-(Xmx\S+|XX:MaxHeapSize=\S+|XX:[+-]UseCompressed(Oops|ClassPointers)"
    r"|XX:ObjectAlignmentInBytes=\S+)$"
)
# flags by which a caller manages CDS itself
_CDS_FLAG = re.compile(r"(^|\s)-(Xshare|XX:SharedArchiveFile|XX:ArchiveClassesAtExit)")
# confs of the caller's session that the training run must not share
_TRAINING_DROPS = ("spark.master", "spark.sql.warehouse.dir", "spark.local.dir")


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "odp_dynamic_data_pipeline_spark", "jvm")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.path.realpath(_find_spark_home())


def _stat(path: str) -> list:
    try:
        st = os.stat(path)
    except OSError:
        return [path, None]
    return [path, st.st_size, st.st_mtime_ns]


def _java_runtime() -> list:
    """The java binary spark-class runs, and the files of its JDK that the
    archive depends on (its build and its base CDS archive)."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if java is None:
        return [None]
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    try:
        with open(os.path.join(jdk, "release"), "rb") as f:
            release = hashlib.sha256(f.read()).hexdigest()
    except OSError:
        release = None
    server = os.path.join(jdk, "lib", "server")
    return [java, release, _stat(os.path.join(server, "libjvm.so")), _stat(os.path.join(server, "classes.jsa"))]


def _classpath(confs: dict[str, str], conf_dir: str) -> list[str]:
    """The driver's launch classpath in the order Spark's launcher builds
    it (``AbstractCommandBuilder.buildClassPath``)."""
    home = _spark_home()
    entries = (confs.get("spark.driver.extraClassPath") or "").split(os.pathsep)
    entries += [conf_dir]
    jars = os.path.join(home, "jars")
    entries += sorted(glob.glob(os.path.join(jars, "slf4j-api-*.jar"))) + [os.path.join(jars, "*")]
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        entries += (os.environ.get(var) or "").split(os.pathsep)
    return [e for e in entries if e]


def _classpath_files(entries: list[str]) -> list:
    """Each classpath entry with the size and mtime of what it names; a
    ``dir/*`` entry expands to its jars."""
    out = []
    for e in entries:
        if e.endswith("*"):
            out += [_stat(p) for p in sorted(glob.glob(e[:-1] + "*.jar") + glob.glob(e[:-1] + "*.JAR"))]
        else:
            out.append(_stat(os.path.realpath(e)))
    return out


def _java_options(confs: dict[str, str]) -> str:
    return confs.get("spark.driver.extraJavaOptions", "").strip()


def _heap_flags(confs: dict[str, str]) -> list[str]:
    opts = [_java_options(confs)]
    opts += [os.environ.get(v, "") for v in ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")]
    return [confs.get("spark.driver.memory", "1g")] + [t for o in opts for t in o.split() if _HEAP_FLAG.match(t)]


def archive_key(confs: dict[str, str], conf_dir: str) -> dict:
    """Everything the JVM checks before it maps a dynamic archive."""
    entries = _classpath(confs, conf_dir)
    return {
        "java": _java_runtime(),
        "classpath": entries,
        "classpath_files": _classpath_files(entries),
        "launcher_env": [os.environ.get(v) for v in ("SPARK_PREPEND_CLASSES", "SPARK_TESTING")],
        "heap": _heap_flags(confs),
    }


def _digest(key: dict) -> str:
    return hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]


class Paths:
    """The files of one archive key inside :func:`cache_dir`."""

    def __init__(self, root: str, digest: str):
        self.root, self.digest = root, digest
        stem = os.path.join(root, f"driver-{digest}")
        self.jsa = stem + ".jsa"
        self.meta = stem + ".json"
        self.lock = stem + ".lock"
        self.log = stem + ".build.log"
        self.failed = stem + ".failed"


def _fingerprint(path: str, size: int) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        h.update(f.read(_EDGE))
        f.seek(max(0, size - _EDGE))
        h.update(f.read(_EDGE))
    return h.hexdigest()


def _problem(paths: Paths, key: dict) -> str | None:
    """Why the published archive of ``paths`` is unusable, or None.
    ``"missing"`` when nothing is published yet."""
    try:
        with open(paths.meta) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return "missing"
    except (OSError, ValueError) as e:
        return f"unreadable metadata {paths.meta}: {e}"
    if meta.get("key") != key:
        return "its key does not match this JVM, classpath or heap flags"
    try:
        size = os.path.getsize(paths.jsa)
        with open(paths.jsa, "rb") as f:
            magic = int.from_bytes(f.read(4), "little")
    except OSError as e:
        return f"cannot read it: {e}"
    if size != meta.get("size"):
        return f"truncated or resized: {size} bytes, built as {meta.get('size')}"
    if magic != _DYNAMIC_MAGIC:
        return f"not a dynamic CDS archive (header magic {magic:#010x})"
    if _fingerprint(paths.jsa, size) != meta.get("fingerprint"):
        return "its contents differ from the build's"
    return None


def _remove(*files: str) -> None:
    for p in files:
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)


def _blocking_dir(confs: dict[str, str], conf_dir: str, empty: str) -> str | None:
    """A reason the archive cannot be used with this classpath, on which
    CDS refuses a non-empty directory; ``empty`` replaces ``conf_dir``."""
    try:
        real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except OSError:  # no conf dir
        real = []
    if real:
        return f"the Spark conf dir {conf_dir} holds {', '.join(real)}, which is honoured without it"
    for e in _classpath(confs, empty):
        if os.path.isdir(e) and os.listdir(e):
            return f"the classpath holds the non-empty directory {e}"
    return None


def _warn(path: str, reason: str) -> None:
    log.warning("JVM class archive %s not used: %s; starting without it", path, reason)


def prepare(confs: dict[str, str]) -> tuple[Paths, str] | None:
    """(archive paths, empty conf dir) for the next driver JVM launch with
    ``confs``, building the archive if this key has none yet; None to
    launch without one (after one WARNING, unless there is nothing to
    launch or the caller manages CDS itself)."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return None  # the JVM is already running
    if _CDS_FLAG.search(_java_options(confs)):
        return None
    root = os.path.realpath(cache_dir())
    empty = os.path.join(root, "spark-conf")
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")
    try:
        os.makedirs(empty, exist_ok=True)
    except OSError as e:
        _warn(root, f"cannot create the cache dir ({e})")
        return None
    blocked = _blocking_dir(confs, conf_dir, empty)
    key = archive_key(confs, empty)
    paths = Paths(root, _digest(key))
    if blocked is not None:
        _warn(paths.jsa, blocked)
        return None
    if re.search(r"\s", paths.jsa):
        _warn(paths.jsa, "its path contains whitespace")
        return None
    try:
        problem = _resolve(paths, key, confs, empty)
    except OSError as e:  # an unwritable or full cache
        _warn(paths.jsa, f"cannot build it ({e})")
        return None
    if problem is None:
        return paths, empty
    if not problem.startswith("build failed"):
        problem += "; deleted, so the next session rebuilds it"
        _remove(paths.jsa, paths.meta)
    _warn(paths.jsa, problem)
    return None


def _resolve(paths: Paths, key: dict, confs: dict[str, str], empty: str) -> str | None:
    """:func:`_problem` of the archive of ``paths`` after building it if
    none is published.  One process builds at a time; the others wait on
    the lock and then find it published."""
    problem = _problem(paths, key)
    if problem != "missing":
        return problem
    with open(paths.lock, "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        problem = _problem(paths, key)
        if problem == "missing":
            problem = _build(paths, key, confs, empty)
    return problem


def _build(paths: Paths, key: dict, confs: dict[str, str], empty: str) -> str | None:
    """Build and publish the archive of ``paths`` (the caller holds its
    lock); return :func:`_problem` of the result."""
    with contextlib.suppress(FileNotFoundError):
        if time.time() - os.path.getmtime(paths.failed) < _RETRY_FAILED_S:
            with open(paths.failed) as f:
                reason = f.read().strip()
            return f"build failed earlier: {reason}; retried a day later, or once {paths.failed} is deleted"
        _remove(paths.failed)
    out = f"{paths.jsa}.tmp-{os.getpid()}"
    t = time.perf_counter()
    rc = _run_training(paths, confs, empty, out)
    if rc != 0 or not os.path.exists(out):
        _remove(out)
        if isinstance(rc, str) or rc < 0:  # timed out or killed: may not repeat
            reason = rc if isinstance(rc, str) else f"killed by signal {-rc}"
            return f"build failed: training run {reason}, see {paths.log}; the next session retries"
        reason = f"training run exited {rc}, see {paths.log}"
        with open(paths.failed, "w") as f:
            f.write(reason + "\n")
        return f"build failed: {reason}"
    size = os.path.getsize(out)
    meta = {
        "key": key,
        "size": size,
        "fingerprint": _fingerprint(out, size),
        "build_s": round(time.perf_counter() - t, 1),
    }
    # publish: readers see either no metadata (and wait on the lock) or
    # the metadata of the renamed archive
    os.replace(out, paths.jsa)
    tmp_meta = f"{paths.meta}.tmp-{os.getpid()}"
    with open(tmp_meta, "w") as f:
        json.dump(meta, f)
    os.replace(tmp_meta, paths.meta)
    log.info("built JVM class archive %s: %d MB in %.1f s", paths.jsa, size >> 20, meta["build_s"])
    return _problem(paths, key)


def _run_training(paths: Paths, confs: dict[str, str], empty: str, out: str) -> int | str:
    """Run :func:`_main` in a child process that dumps the archive to
    ``out``; its exit code, or why it did not exit."""
    work = tempfile.mkdtemp(prefix="build-", dir=paths.root)
    training = {k: v for k, v in confs.items() if k not in _TRAINING_DROPS}
    training["spark.driver.extraJavaOptions"] = (
        f"{_java_options(confs)} -XX:ArchiveClassesAtExit={out} -Djava.io.tmpdir={work}".strip()
    )
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "SPARK_CONF_DIR": empty,
        "SPARK_LOCAL_DIRS": work,
        "TMPDIR": work,
        "PYTHONPATH": os.pathsep.join([pkg_root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    }
    with open(os.path.join(work, "confs.json"), "w") as f:
        json.dump(training, f)
    try:
        # the build JVM prints thousands of "[warning][cds] Skipping ..."
        # lines (signed jars, old class versions): they go to the log
        with open(paths.log, "w") as logf:
            proc = subprocess.Popen(
                [sys.executable, "-m", __name__, work],
                cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=logf,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                return proc.wait(timeout=_BUILD_TIMEOUT_S)
            except BaseException as e:
                # the training JVM is in the child's process group
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                _remove(out)
                if isinstance(e, subprocess.TimeoutExpired):
                    return f"timed out after {_BUILD_TIMEOUT_S} s"
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _mapped_archives(pid: int) -> set[str] | None:
    try:
        with open(f"/proc/{pid}/maps") as f:
            return {line.split(None, 5)[5].strip() for line in f if line.rstrip().endswith(".jsa")}
    except (OSError, IndexError):
        return None


def _check_mapped(paths: Paths) -> None:
    """After launch: the JVM must have mapped the archive.  It refuses one
    whose checks pass here but not in the JVM (a flag outside the key, say)
    silently, so read its memory map."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    mapped = _mapped_archives(proc.pid) if proc is not None else None
    if mapped is None or paths.jsa in mapped:
        return
    base = "" if mapped else " and runs without even the JDK's base CDS archive"
    _remove(paths.jsa, paths.meta)
    _warn(paths.jsa, f"the driver JVM refused it{base}; deleted, so the next session rebuilds it")


@contextlib.contextmanager
def launch(confs: dict[str, str]) -> Iterator[dict[str, str]]:
    """Yield the confs to launch the driver JVM with: ``confs`` plus the
    archive in ``spark.driver.extraJavaOptions`` when one is usable.
    Inside the block ``SPARK_CONF_DIR`` names the empty conf dir; after it
    the JVM's memory map is checked."""
    found = prepare(confs)
    if found is None:
        yield confs
        return
    paths, empty = found
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty
    try:
        opts = f"{_java_options(confs)} -XX:SharedArchiveFile={paths.jsa}".strip()
        yield {**confs, "spark.driver.extraJavaOptions": opts}
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old
    _check_mapped(paths)


# ---------------------------------------------------------------------------
# the training run (a child process of the build)


def _train(spark, work: str) -> None:
    """A tiny in-memory JSON -> groupBy/window/join -> parquet round trip,
    with Arrow both ways: the class set of a session's start and of one
    generic batch query (JSON scan, window, explode, aggregate, broadcast
    join, parquet write, ``collect``, ``toPandas``, ``mapInArrow``).  It
    runs no streaming drain, YAML stage, TLB job or curate operator; the
    classes only those need load from the jars at their first use.  A
    wider run did not pay: ROADMAP "Where the time goes now"."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i % 4, f"c{i % 3}", float(i), f"w{i % 7} text {i}") for i in range(64)]
    df = spark.createDataFrame(rows, "k int, c string, v double, s string")
    df.write.mode("overwrite").json(f"{work}/in")
    js = spark.read.json(f"{work}/in")
    w = Window.partitionBy("c").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    agg = (
        js.withColumn("prev", F.max("v").over(w))
        .withColumn("tok", F.explode(F.split("s", " ")))
        .groupBy("c", "k")
        .agg(F.sum("v").alias("v"), F.count("tok").alias("n"), F.collect_set("tok").alias("toks"))
    )
    agg.join(F.broadcast(js.select("c").distinct()), "c").write.mode("overwrite").parquet(f"{work}/out")
    back = spark.read.parquet(f"{work}/out")
    back.select(F.to_json(F.struct("*"))).collect()
    back.toPandas()
    back.mapInArrow(lambda batches: batches, back.schema).count()


def _main(work: str) -> int:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    with open(os.path.join(work, "confs.json")) as f:
        confs = json.load(f)
    builder = SparkSession.builder.appName("class-archive-training").master("local[2]")
    for k, v in {
        **confs,
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _train(spark, work)
    spark.stop()
    # the JVM writes the archive as it exits, which it does on stdin EOF
    proc = SparkContext._gateway.proc
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    return proc.wait(timeout=_BUILD_TIMEOUT_S)


if __name__ == "__main__":
    sys.exit(_main(sys.argv[1]))

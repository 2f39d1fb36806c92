"""Versioned bucketed key-value parquet store with an atomic manifest flip.

ONE implementation of the store mechanics shared by every incremental
runner in :mod:`streaming.stream` that maintains mutable state as plain
parquet (the poor-man's table format: what Delta/Iceberg do with
file-level manifests, expressed as versioned directories plus one swap
file):

- ``run_incremental_agg`` (serves the postings / top-k maintained
  views),
- ``run_incremental_sessions`` (open-session state + event-time
  high-water mark),
- ``run_incremental_upsert`` (CDC last-wins table).

The families differ ONLY in their merge function (refold counts / walk
sessions / max-by-seq) and in what extra metadata the manifest carries;
everything below -- bucket function, manifest parse, atomic flip,
fresh-version election, retry base resolution, bucket-path resolution,
vacuum retention -- is identical, and lives here exactly once so a new
store family inherits the receipts (tests/test_kvstore_matrix.py)
instead of re-earning them.  No other module reads or writes the
on-disk format:

``{store}/MANIFEST`` -- newline-separated:
  line 1: current version directory name (``v{batch}`` or ``v{batch}_r{k}``)
  line 2: parent version directory name (``-`` if none)
  line 3: current bucket map JSON
  line 4: parent bucket map JSON (``null`` if no parent)
  line 5+: extra JSON values (e.g. sessions' current/parent event-time
           high-water marks; upsert writes ``null``/``null``)

``{store}/v{B}/bucket={K}`` -- immutable version directories.  A
version directory is written exactly once, fully, BEFORE the manifest
flips to it; it contains only the buckets its batch touched
(``bucket_col`` of the key), and the manifest's bucket map (not the
directory listing) is the source of truth for which version owns each
bucket.

Crash/retry protocol (the part every family must get right, hence
shared): a version directory is keyed by batch_id; a retry AFTER a
successful flip for the same batch rebuilds from the recorded PARENT
(never from its own possibly-partial output -- no double counting), and
writes a fresh ``v{b}_r{k}`` rather than touching any existing
directory (an existing ``v{b}`` is either live under a concurrent
reader or a partial write from a crashed attempt).

Reader/vacuum contract: ``vacuum`` retains the current and parent
version pointers plus every version referenced by the current or parent
bucket map, so (a) a post-flip retry can always rebuild, and (b) a
reader that resolved its paths from the manifest no earlier than the
latest flip is never stranded -- folds only ever ADD directories, so a
reader may overlap any number of subsequent folds; it must only not
straddle a LATER vacuum (ops rule: drain readers before vacuuming, the
same rule Delta's VACUUM retention window encodes).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_col(cols: list[str], n_buckets: int) -> Column:
    """The store bucket of a key: ``pmod(xxhash64(*cols), n_buckets)`` as
    int.  Every bucketed store lays its rows out by this function, so a
    change to it (or to the column order) orphans every existing store;
    tests/test_kvstore_matrix.py pins its values."""
    if not isinstance(n_buckets, int) or n_buckets < 1:
        raise ValueError(f"n_buckets must be a positive int, got {n_buckets!r}")
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def _fs(spark, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return jvm, conf, jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(path), conf
    )


def read_sidecar(spark, path: str) -> str | None:
    """Read a small sidecar file (CONFIG/FAMILY marker) as text, or None."""
    jvm, conf, fs = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream_ = fs.open(p)
    try:
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream_))
        lines = []
        while True:
            ln = reader.readLine()
            if ln is None:
                break
            lines.append(ln)
    finally:
        stream_.close()
    return "\n".join(lines)


def write_sidecar_exclusive(spark, path: str, body: str) -> bool:
    """Write a sidecar with CREATE-EXCLUSIVE semantics: exactly one of N
    racing writers wins.  Returns True if this writer's rename created the
    file, False if the destination already existed (someone else won; the
    caller must re-read and reconcile).

    Two properties close the first-fold TOCTOU race of a plain
    tmp + overwrite-rename: (a) each writer stages to a UNIQUE tmp path
    (uuid suffix), so racing writers can never clobber each other's
    staged bytes before the rename; (b) the rename uses
    ``Options.Rename.NONE`` (no overwrite), so HDFS/local FileContext
    raises ``FileAlreadyExistsException`` for every writer but the first
    -- the exclusive-create step."""
    import uuid

    jvm, conf, fs = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.tmp.{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(body.encode()))
    finally:
        out.close()
    dst = jvm.org.apache.hadoop.fs.Path(path)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI.create(path), conf
    )
    gw = spark.sparkContext._gateway
    opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    from py4j.protocol import Py4JJavaError

    try:
        fc.rename(tmp, dst, opts)
    except Py4JJavaError as e:
        cls = e.java_exception.getClass().getName()
        if "AlreadyExists" not in cls:
            raise
        fs.delete(tmp, False)
        return False
    return True


def ensure_store_config(spark, store_path: str, config: dict) -> dict:
    """Pin a store's layout-determining knobs (key columns, n_buckets,
    hasher family, gap/cap, ...) in ``{store}/_CONFIG`` at first fold and
    FAIL LOUDLY on any later mismatch.

    Why: these knobs are caller parameters on every fold, but the store
    layout they determine is fixed at creation -- folding an existing
    store with a different n_buckets or key set silently rehashes keys
    into different buckets, making stored rows invisible to future
    touched-bucket folds (duplicate keys on read, deleted keys
    resurrecting) with no error anywhere -- expire_upsert_tombstones
    is one such caller.  The guard is shared by all store families.

    Returns the pinned config.  Missing CONFIG on an existing store
    (created before this guard) is adopted: the current call's values
    are written and later calls validate against them.

    The sidecar is named ``_CONFIG``: Hadoop's path filter hides
    underscore-prefixed files from whole-directory parquet scans (the
    _SUCCESS convention), so a store directory stays readable as parquet
    -- a bare name would break such a read with a cannot-read-footer
    error.

    Concurrency: stores assume a SINGLE WRITER per store directory (the
    manifest flip protocol already requires this -- two concurrent folds
    would race the MANIFEST rename too).  The first-fold pin enforces
    this with exclusive-create semantics (write_sidecar_exclusive:
    unique tmp + no-overwrite rename), so exactly ONE racing first fold
    creates _CONFIG; every loser re-reads the winner's sidecar and
    either adopts it (identical config) or aborts loudly (divergent
    config) -- two racing first folds can never BOTH proceed with
    divergent layouts."""
    existing = read_store_config(spark, store_path)
    if existing is None:
        body = json.dumps(config, sort_keys=True)
        if write_sidecar_exclusive(spark, f"{store_path}/_CONFIG", body):
            return config
        # Lost the exclusive create: another writer pinned first.  Fall
        # through to the mismatch check against the winner's config.
        existing = read_store_config(spark, store_path)
        if existing is None:  # winner vanished (deleted store?) -- bail
            raise ValueError(
                f"store at {store_path!r}: lost the first-fold _CONFIG"
                " race but the winning sidecar is unreadable; aborting"
                " rather than guessing the layout."
            )
    mismatched = {
        k: (existing.get(k), v) for k, v in config.items() if existing.get(k) != v
    }
    if mismatched:
        raise ValueError(
            f"store at {store_path!r} was created with a different layout"
            f" config; refusing to fold with mismatched knobs"
            f" {{name: (stored, given)}} = {mismatched!r}."
            " A mismatch would silently rehash keys into different"
            " buckets / mix hash families across batch directories."
        )
    return existing


def read_store_config(spark, store_path: str) -> dict | None:
    """Read ``{store}/_CONFIG`` (see ensure_store_config), or None."""
    body = read_sidecar(spark, f"{store_path}/_CONFIG")
    return json.loads(body) if body else None


def validate_store_config(spark, store_path: str, config: dict) -> dict | None:
    """Read-only counterpart of ensure_store_config for maintenance ops
    (tombstone expiry, chain compaction): validates the given knobs
    against the pinned CONFIG if one exists, raises on mismatch, returns
    the stored config (None when the store predates the guard -- the
    caller's values are then trusted, matching pre-guard behavior)."""
    existing = read_store_config(spark, store_path)
    if existing is None:
        return None
    mismatched = {
        k: (existing.get(k), v) for k, v in config.items() if existing.get(k) != v
    }
    if mismatched:
        raise ValueError(
            f"maintenance op on store {store_path!r} called with knobs that"
            f" mismatch the pinned CONFIG {{name: (stored, given)}} ="
            f" {mismatched!r}; proceeding would rehash keys into different"
            " buckets and corrupt the store silently."
        )
    return existing


@dataclass
class Manifest:
    """Parsed manifest: version pointers, bucket maps, extra JSON values."""

    current: str
    parent: str
    cur_map: dict
    par_map: dict | None
    extras: list


@dataclass
class BatchBase:
    """The state a batch folds ON TOP OF, after the retry rule: if the
    manifest's current version already belongs to this batch_id (post-
    flip retry), the base is the recorded PARENT; otherwise the current."""

    version: str | None  # parent-version pointer ('-'/None when first batch)
    bucket_map: dict | None
    extras: list
    parent_pointer: str  # what the next flip must record as its parent


class ManifestStore:
    """Handle on one versioned store directory (see module docstring)."""

    def __init__(self, spark, store_path: str, *, n_extras: int = 0):
        self.spark = spark
        self.path = store_path
        self.n_extras = n_extras

    # -- manifest ---------------------------------------------------------

    def read_manifest(self) -> Manifest | None:
        jvm, conf, fs = _fs(self.spark, self.path)
        mpath = jvm.org.apache.hadoop.fs.Path(f"{self.path}/MANIFEST")
        if not fs.exists(mpath):
            return None
        stream_ = fs.open(mpath)
        try:
            reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream_))
            cur, par = reader.readLine(), reader.readLine()
            l3, l4 = reader.readLine(), reader.readLine()
            extras = [reader.readLine() for _ in range(self.n_extras)]
        finally:
            stream_.close()
        if l3 is None:
            raise ValueError(f"{self.path}/MANIFEST carries no bucket map")
        return Manifest(
            cur,
            par,
            json.loads(l3),
            json.loads(l4),
            [json.loads(e) if e else None for e in extras],
        )

    def write_manifest(
        self,
        version: str,
        parent: str,
        cur_map: dict,
        par_map: dict | None,
        extras: list | None = None,
    ) -> None:
        """Write-to-tmp then rename WITH OVERWRITE (FileContext supports
        it; plain FileSystem.rename refuses an existing target).  A
        delete-then-rename flip would leave a window with no MANIFEST in
        which readers raise; overwrite-rename is atomic on posix and
        HDFS, so a reader always sees either the old or the new manifest
        -- and the bucket map rides the SAME file, so the bucket->version
        mapping is exactly as atomic as the version pointer.
        ``par_map=None`` (JSON ``null``) means the store has no parent."""
        jvm, conf, fs = _fs(self.spark, self.path)
        body = f"{version}\n{parent}\n{json.dumps(cur_map)}\n{json.dumps(par_map)}"
        for e in extras or []:
            body += f"\n{json.dumps(e)}"
        tmp = jvm.org.apache.hadoop.fs.Path(f"{self.path}/MANIFEST.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(body.encode()))
        finally:
            out.close()
        dst = jvm.org.apache.hadoop.fs.Path(f"{self.path}/MANIFEST")
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jvm.java.net.URI.create(self.path), conf
        )
        gw = self.spark.sparkContext._gateway
        opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, dst, opts)

    # -- versions ---------------------------------------------------------

    def fresh_version(self, batch_id: int) -> str:
        """Never write into a directory that exists: an existing ``v{b}``
        is either the live version a concurrent reader is scanning (retry
        after flip) or a partial write from a crashed attempt (retry
        before flip).  Either way a fresh ``v{b}_r{k}`` keeps every flip
        pointing at a directory that was written exactly once, fully."""
        jvm, conf, fs = _fs(self.spark, self.path)
        me = f"v{batch_id}"
        cand, attempt = me, 0
        while fs.exists(jvm.org.apache.hadoop.fs.Path(f"{self.path}/{cand}")):
            attempt += 1
            cand = f"{me}_r{attempt}"
        return cand

    @staticmethod
    def version_batch_id(version: str) -> int:
        """Batch id a version name belongs to: ``v{B}``, ``v{B}_r{k}``
        (retry) and ``v{B}m{k}`` (maintenance) all parse to ``B``."""
        m = re.match(r"^v(\d+)", version)
        if not m:
            raise ValueError(f"unparseable store version name {version!r}")
        return int(m.group(1))

    def fresh_maintenance_version(self, batch_id: int) -> str:
        """Reserved version namespace ``v{B}m{k}`` for MAINTENANCE flips
        (tombstone expiry, chain compaction) layered on top of batch B's
        state.  The namespace matters: ``base_for_batch`` detects a
        post-flip retry by matching the current version's batch prefix
        (``v{B}`` / ``v{B}_r{k}``), and a maintenance flip that reused
        that namespace would make a later replay of batch B rebuild from
        the PRE-maintenance parent -- silently reverting the expiry or
        compaction.  ``v{B}m{k}`` never matches the retry rule, so a
        replayed batch B folds ON TOP of the maintenance state instead.

        Contract: that replay-on-top is only correct for IDEMPOTENT fold
        families (upsert max-by-seq, CC min-label merges -- re-folding
        already-folded rows is a no-op).  A non-idempotent family (the
        count/sum agg) must NOT adopt this maintenance pattern: replaying
        a batch on top of state that already includes it double-counts."""
        cand, attempt = f"v{batch_id}m1", 1
        jvm, conf, fs = _fs(self.spark, self.path)
        while fs.exists(jvm.org.apache.hadoop.fs.Path(f"{self.path}/{cand}")):
            attempt += 1
            cand = f"v{batch_id}m{attempt}"
        return cand

    def base_for_batch(self, batch_id: int) -> BatchBase:
        """Resolve what this batch folds on top of, applying the retry
        rule: a manifest whose current version carries this batch_id
        means a prior attempt already flipped -- rebuild from the
        recorded parent, never from our own output (folding the current
        version would double-count)."""
        m = self.read_manifest()
        me = f"v{batch_id}"
        if m is None:
            return BatchBase(None, None, [None] * self.n_extras, "-")
        if m.current.split("_")[0] == me:
            par = m.parent if m.parent != "-" else None
            half = len(m.extras) // 2
            # extras convention: [current..., parent...] halves -- a
            # post-flip retry adopts the PARENT half as its base
            extras = m.extras[half:] + [None] * half if m.extras else []
            return BatchBase(par, m.par_map, extras, m.parent)
        half = len(m.extras) // 2
        extras = m.extras[:half] + [None] * half if m.extras else []
        return BatchBase(m.current, m.cur_map, extras, m.current)

    # -- bucket resolution ------------------------------------------------

    def bucket_paths(self, bucket_map: dict | None, buckets=None) -> list[str]:
        """Per-bucket parquet paths named by a bucket map (optionally
        restricted to ``buckets``).  The map, not any directory listing,
        is the source of truth: a version directory may hold STALE
        buckets superseded by later versions."""
        if not bucket_map:
            return []
        if buckets is None:
            items = sorted(bucket_map.items())
        else:
            items = [(str(k), bucket_map[str(k)]) for k in buckets if str(k) in bucket_map]
        return [f"{self.path}/{v}/bucket={k}" for k, v in items]

    def read_buckets(self, bucket_map: dict | None, buckets=None) -> DataFrame | None:
        paths = self.bucket_paths(bucket_map, buckets)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def read_current(self) -> DataFrame:
        """Current state: one multi-path read of the buckets the manifest
        maps."""
        m = self.read_manifest()
        if m is None:
            raise ValueError(f"no store at {self.path}")
        paths = self.bucket_paths(m.cur_map)
        if not paths:
            # a non-None but EMPTY bucket map is a legitimate state:
            # expire_upsert_tombstones drops a bucket from the map when
            # expiry empties it, and a table whose every key was deleted
            # and expired ends up here.  Zero-path read.parquet raises an
            # opaque error; the store is simply EMPTY -- recover the
            # schema from the parent map (retained by vacuum) when
            # possible, else say clearly what happened.
            ppaths = self.bucket_paths(m.par_map)
            if ppaths:
                return self.spark.read.parquet(*ppaths).limit(0)
            raise ValueError(
                f"store at {self.path} is empty (current bucket map has no"
                " buckets -- e.g. tombstone expiry emptied the table) and"
                " no parent version remains to recover the schema from"
            )
        return self.spark.read.parquet(*paths)

    # -- commit -----------------------------------------------------------

    def commit_buckets(
        self,
        batch_id: int,
        merged: DataFrame,
        touched: list[int],
        base: BatchBase,
        *,
        extras: list | None = None,
    ) -> str:
        """Write the merged touched-bucket state as a fresh version
        (partitioned by ``bucket``), advance the bucket map for the
        touched buckets only, and flip the manifest atomically.  Returns
        the version name written.

        The delta is hash-clustered on ``bucket`` before the write so
        each touched bucket comes out as ONE file instead of up to
        tasks x buckets shards -- a naked partitionBy over a shuffled
        upstream was the dominant cost of the bucketed store at bench
        scale (thousands of tiny parquet files per version), and at 100
        TB the small-file storm is worse, not better.  One task per
        touched bucket is the natural write parallelism of a delta-merge;
        a skewed bucket is fixed by raising n_buckets (finer buckets),
        not by sharding the write."""
        target = self.fresh_version(batch_id)
        (
            merged.repartition(max(1, len(touched)), F.col("bucket"))
            .write.partitionBy("bucket")
            .parquet(f"{self.path}/{target}")
        )
        new_map = dict(base.bucket_map or {})
        for k in touched:
            new_map[str(k)] = target
        self.write_manifest(target, base.parent_pointer, new_map, base.bucket_map, extras)
        return target

    # -- retention --------------------------------------------------------

    def vacuum(self) -> list[str]:
        """Delete every ``v*`` directory EXCEPT the manifest's current and
        parent version pointers and every version still owning a bucket
        in the current or parent bucket map (the parent stays because a
        post-flip retry of the in-flight batch rebuilds from it;
        delta-merge versions stay live as long as any bucket points at
        them).  The manifest is read FIRST, so a concurrent fold that
        flips mid-vacuum can at worst leave one extra undeleted directory
        -- never delete a directory a current-manifest reader can reach.
        Returns the deleted version names."""
        m = self.read_manifest()
        if m is None:
            return []
        keep = {m.current, m.parent}
        for bmap in (m.cur_map, m.par_map):
            if bmap:
                keep.update(bmap.values())
        jvm, conf, fs = _fs(self.spark, self.path)
        deleted: list[str] = []
        for status in fs.listStatus(jvm.org.apache.hadoop.fs.Path(self.path)):
            name = status.getPath().getName()
            if status.isDirectory() and name.startswith("v") and name not in keep:
                fs.delete(status.getPath(), True)
                deleted.append(name)
        return deleted

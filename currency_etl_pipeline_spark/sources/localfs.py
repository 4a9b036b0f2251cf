"""Sidecar IO for stores that pair Spark relations with tiny metadata
files — POSIX fast path, JVM Hadoop FileSystem dispatch for URI paths.

Every store that pairs distributed parquet relations (Spark IO — happy
on any Hadoop filesystem) with driver-side filesystem operations
funnels them through :func:`sidecar_fs`: SnapshotStore's ``_LATEST``
pointer and ``_TAG`` markers, the MinHash index's ``_params.json`` and
tombstone probes, the ``_commits/`` markers of the exactly-once index
append (:func:`append_exactly_once`), and the one verified directory
rewrite (:func:`stage_verified` + :func:`install_verified`) behind
warehouse partition compaction/RTBF deletes, MinHash tombstone
compaction, IVF cell swaps, reclusters and the centroid sidecar. The
100 TB deployment the module docs name lives on HDFS-like or object
storage, so every call dispatches on the path:

- **Scheme-less path** → :class:`_PosixSidecarFS`: ``open`` /
  ``os.replace`` / ``os.listdir`` / ``shutil``. ``os.replace`` is
  atomic on POSIX, so pointer flips are torn-free; ``os.rename`` backs
  the directory swaps.
- **URI path** (``file://``, ``hdfs://``, ``gs://``, ``s3a://`` …) →
  :class:`_HadoopSidecarFS`: the JVM ``org.apache.hadoop.fs``
  layer reached over py4j — ``FileSystem.create``/``open`` for bytes,
  ``FileContext.rename(..., Options.Rename.OVERWRITE)`` for the
  pointer flip, ``FileSystem.rename``/``delete`` for directory swaps
  (all atomic metadata ops on HDFS and local; the ``file://`` scheme
  is how tests exercise this branch without a real bucket).

Atomicity caveats, documented once here:

- On GCS/S3 a "rename" is copy+delete, so the POINTER flip degrades to
  a small torn window and last-writer-wins under concurrent writers.
  The stores' single-writer model (one committer per store, readers
  resolve the pointer at plan time) is safe there; true multi-writer
  needs a conditional-put pointer (GCS ``ifGenerationMatch`` / S3
  ``If-None-Match``) or a table format whose transaction log replaces
  the pointer entirely (the ``merge_into_available`` upgrade path).
- DIRECTORY swaps are two renames, not one atomic step; their crash
  states and the recovery rule are stated once, in
  :func:`install_verified`. Run compaction/RTBF/recluster on COLD
  partitions with a single maintainer.
"""

from __future__ import annotations

import os
import posixpath
import shutil


class _PosixSidecarFS:
    """Sidecar IO on a plain mounted filesystem (the fast path)."""

    def read_text(self, path: str) -> str | None:
        # Only ABSENCE maps to None — a real IO error (EACCES, EIO)
        # must propagate, or a permission problem on _LATEST makes
        # SnapshotStore.exists() report a populated store as empty
        # (r9 ADVICE).
        try:
            with open(path) as fh:
                return fh.read()
        except (FileNotFoundError, NotADirectoryError, IsADirectoryError):
            return None

    def write_text(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)  # atomic on POSIX

    def create_exclusive(self, path: str, text: str = "") -> bool:
        """Atomic create-if-absent (O_EXCL): True if THIS call created
        the file, False if it already existed — the conditional-create
        commit point for exactly-once protocols. POSIX open('x') is
        atomic; the Hadoop twin maps to FileSystem.create(overwrite=
        False), which GCS implements as an ifGenerationMatch=0
        conditional insert (truly atomic) and HDFS/local as an atomic
        namespace op. S3A cannot make this atomic without S3
        conditional writes (If-None-Match, supported by recent
        connectors) — there the single-writer contract carries it."""
        try:
            with open(path, "x") as fh:
                fh.write(text)
            return True
        except FileExistsError:
            return False

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_file(self, path: str) -> bool:
        return os.path.isfile(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_names(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(path))
        except OSError:
            return []

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)  # atomic on POSIX; dst must not exist

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def copy_file(self, src: str, dst: str) -> None:
        shutil.copy(src, dst)


class _HadoopSidecarFS:
    """Sidecar IO through the JVM Hadoop FileSystem (py4j).

    One instance per (session, URI authority): ``FileSystem.get``
    returns the scheme's cached client, so constructing this per store
    is cheap. All methods take FULL paths (scheme included) — the same
    strings the POSIX twin takes, so stores are impl-agnostic.
    """

    def __init__(self, spark, path: str):
        self._jvm = spark._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()
        uri = self._jvm.java.net.URI(str(path))
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(uri, self._conf)
        self._fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            uri, self._conf
        )
        # Options.Rename is a varargs enum parameter: py4j needs an
        # explicit java array. Built once; OVERWRITE gives the atomic
        # pointer-flip semantics os.replace gives on POSIX.
        rename = getattr(self._jvm.org.apache.hadoop.fs, "Options$Rename")
        self._overwrite = spark.sparkContext._gateway.new_array(rename, 1)
        self._overwrite[0] = rename.OVERWRITE

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(str(path))

    def read_text(self, path: str) -> str | None:
        p = self._p(path)
        if not self._fs.exists(p):
            return None
        inp = self._fs.open(p)
        try:
            baos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                inp, baos, self._conf, False
            )
            return bytes(baos.toByteArray()).decode("utf-8")
        finally:
            inp.close()

    def write_text(self, path: str, text: str) -> None:
        tmp = self._p(path + ".tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        self._fc.rename(tmp, self._p(path), self._overwrite)

    def create_exclusive(self, path: str, text: str = "") -> bool:
        """Atomic create-if-absent: ``FileSystem.create(overwrite=
        False)`` — FileAlreadyExistsException → False. HDFS/local make
        this an atomic namespace op; the GCS connector maps it to an
        ifGenerationMatch=0 conditional insert (the truly-atomic
        object-store commit point the module docstring names); S3A
        needs S3 conditional writes (recent connectors) or the
        single-writer contract."""
        try:
            out = self._fs.create(self._p(path), False)
        except Exception as e:  # py4j wraps FileAlreadyExistsException
            if "AlreadyExists" in str(e) or "already exists" in str(e):
                return False
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def is_file(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)) and bool(self._fs.getFileStatus(p).isFile())

    def is_dir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)) and bool(
            self._fs.getFileStatus(p).isDirectory()
        )

    def list_names(self, path: str) -> list[str]:
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(p)
        )

    def delete(self, path: str) -> None:
        self._fs.delete(self._p(path), True)  # recursive; False if absent

    def rename(self, src: str, dst: str) -> None:
        """No-overwrite rename (dst must not exist) — the directory-swap
        primitive. Atomic metadata op on HDFS and local; on object
        stores the connector emulates it as copy+delete (correct, not
        atomic, O(data) — run swaps cold there, or use a table format)."""
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"Hadoop rename failed: {src!r} -> {dst!r}")

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def copy_file(self, src: str, dst: str) -> None:
        # Small sidecar files only (markers, params) — streamed through
        # the driver, not a distcp.
        text = self.read_text(src)
        if text is None:
            raise FileNotFoundError(src)
        self.write_text(dst, text)


def sidecar_fs(path: str, spark=None):
    """The sidecar IO impl for ``path``: POSIX for scheme-less paths,
    the JVM Hadoop FileSystem for URIs. ``spark`` may be omitted for
    the POSIX branch; the Hadoop branch resolves the active session if
    none is passed (sidecars are only ever touched while a session is
    driving the store) and fails loudly without one.
    """
    if "://" not in str(path):
        return _PosixSidecarFS()
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"sidecar path {path!r} has a URI scheme, which needs the JVM "
                "Hadoop filesystem — no active SparkSession to reach it"
            )
    return _HadoopSidecarFS(spark, path)


def _visible(names: list[str]) -> list[str]:
    """Entries Spark's parquet reader sees (not ``_``/``.``-hidden)."""
    return [n for n in names if not n.startswith(("_", "."))]


def append_exactly_once(spark, index_path: str, token: str, write_stage) -> bool:
    """Append one logical batch to a directory index EXACTLY once under
    at-least-once execution — the one commit protocol behind the IVF
    append, the SemDeDup admission and the streaming MinHash admission.

    ``token`` names the batch: every retry of the same logical batch
    must pass the same token (streaming callers pass
    ``<checkpoint-ns>-<epoch>``). ``write_stage(stage)`` builds the
    batch's rows and writes them under ``stage``, one subdirectory per
    index subdirectory it appends to (``cid=*`` partitions for IVF and
    SemDeDup, ``bands/`` and ``sigs/`` for MinHash). Single committer
    per token namespace:

    1. **Probe**: ``_commits/<token>`` exists → the batch landed in
       full; return False and touch nothing.
    2. **Purge**: delete every ``epoch-<token>-*`` file a crashed prior
       attempt left in the index's visible subdirectories, and its
       stale stage. Listing is bounded by |subdirs| + |their files|,
       driver-side names only.
    3. **Stage**: ``write_stage`` runs only now, AFTER the purge, so
       rows that depend on index state (admission decisions) are
       decided against the clean committed state and a replay
       reproduces them. The stage dir is ``_``-hidden from index scans.
    4. **Install**: rename every staged part file of every visible
       stage subdirectory to the DETERMINISTIC name
       ``<subdir>/epoch-<token>-<i>.parquet`` — per-file renames, no
       directory swap; determinism plus the purge make a half-installed
       crash converge on replay.
    5. **Commit**: create the marker with :meth:`create_exclusive`
       (POSIX O_EXCL / Hadoop ``create(overwrite=False)``, a GCS
       ifGenerationMatch=0 conditional insert). A lost race means a
       concurrent committer of the SAME token installed the same
       names; the state is consistent either way.

    A crash anywhere before 5 makes the replay purge and reinstall; a
    crash after it makes the replay a no-op at 1. On object stores 4 is
    copy+delete per staged file (O(batch), not O(index)); the protocol
    needs an atomic create, never an atomic rename. Returns True if
    this call landed the batch.

    Marker retention: keep a marker while its checkpoint can still
    replay that epoch. Compaction and recluster rename the installed
    files, so after either one a pruned token's replay finds nothing
    to purge and appends its rows a second time.

    Token namespace: epoch ids restart at 0 under a fresh checkpoint,
    and its tokens are a fresh namespace, so a fresh checkpoint needs a
    fresh index path (the same contract as the epoch-tagged snapshot
    folds in streaming/pipeline.py).
    """
    fs = sidecar_fs(index_path, spark)
    marker = f"{index_path}/_commits/{token}"
    if fs.exists(marker):
        return False
    prefix = f"epoch-{token}-"
    stage = f"{index_path}/_stage_{token}"
    for d in _visible(fs.list_names(index_path)):
        for f in fs.list_names(f"{index_path}/{d}"):
            if f.startswith(prefix):
                fs.delete(f"{index_path}/{d}/{f}")
    fs.delete(stage)
    write_stage(stage)
    i = 0
    for d in _visible(fs.list_names(stage)):
        fs.mkdirs(f"{index_path}/{d}")
        for f in _visible(fs.list_names(f"{stage}/{d}")):
            fs.rename(f"{stage}/{d}/{f}", f"{index_path}/{d}/{prefix}{i}.parquet")
            i += 1
    fs.delete(stage)
    fs.mkdirs(f"{index_path}/_commits")
    fs.create_exclusive(marker, "")
    return True


def _hidden_sibling(live: str, kind: str) -> str:
    """``<parent>/_<kind>_<name>`` with every ``=`` of ``live``'s name
    replaced by ``_`` — see :func:`install_verified` for why."""
    parent, name = posixpath.split(live.rstrip("/"))
    return posixpath.join(parent, f"_{kind}_{name.replace('=', '_')}")


def stage_verified(spark, live: str, write, rows: int) -> str:
    """Write the replacement of directory ``live`` into its hidden stage
    and verify it: ``write(stage)`` writes the rows (plus any sidecars
    the new dir carries), then the staged parquet row count must equal
    ``rows``, the count the caller derived from what it read. On a
    mismatch the stage is deleted and this raises, ``live`` untouched.
    Returns the stage path for :func:`install_verified`, which
    documents the whole protocol."""
    fs = sidecar_fs(live, spark)
    stage = _hidden_sibling(live, "rewrite")
    fs.delete(stage)
    write(stage)
    staged = spark.read.parquet(stage).count()
    if staged != rows:
        fs.delete(stage)
        raise RuntimeError(
            f"rewrite of {live} staged {staged} rows, expected {rows}; "
            "live dir left untouched"
        )
    return stage


def install_verified(spark, live: str, stage: str, read_files=None) -> None:
    """Install a :func:`stage_verified` stage as ``live`` — the one
    stage → count-verify → swap protocol every maintenance rewrite uses
    (warehouse compaction and RTBF deletes, IVF cell deletes,
    compaction, splits and reclusters, the centroid sidecar, MinHash
    tombstone compaction).

    **Naming.** The stage is ``<parent>/_rewrite_<name>`` and the aside
    is ``<parent>/_aside_<name>``, with every ``=`` in ``<name>``
    replaced by ``_``. Spark's path filter hides ``_x`` from partition
    discovery but NOT ``_x=y``, which it parses as a partition value: a
    ``rate_date=2024-03-01__tmp`` stage fails every whole-table read
    with INVALID_PARTITION_VALUE, and a schema-less read double-counts
    its rows and turns ``rate_date`` into a string. Hidden names keep
    every crash state below invisible to readers of the parent.

    **Re-list guard.** When the caller read a flat dir (a date
    partition, an IVF cell, MinHash bands/sigs), it passes the
    ``inputFiles()`` its rewrite read. ``live`` is re-listed right
    before the swap; if any visible file appeared or vanished since
    (a concurrent append), the stage is deleted and this raises with
    ``live`` untouched, instead of deleting a file the rewrite never
    saw. The guard narrows the race to the swap itself; it does not
    make concurrent writers safe.

    **Install order.** Refuse if the aside already exists (an earlier
    swap of ``live`` crashed; recover it first), rename ``live`` to the
    aside (skipped when ``live`` does not exist yet, e.g. a split's new
    cell), rename the stage to ``live``, delete the aside. At no crash
    point is the data reachable only through a dir about to be deleted.

    **Crash points.** After the stage write: ``live`` intact plus a
    hidden stage; re-running the rewrite replaces the stage and
    converges. After ``live`` → aside: ``live`` is missing (its rows
    drop out of reads, nothing is double-counted), old rows in the
    aside, new rows in the stage. After stage → ``live``: the rewrite
    is live, and the old rows linger in the aside. Recovery rule: if
    ``live`` is missing, rename the aside back to ``live``; otherwise
    delete the aside. Then re-run the rewrite.

    **Cost.** On HDFS and local disks both renames are metadata ops. On
    object stores a rename is copy+delete, so each install copies the
    dir twice: O(data), and the crash windows widen accordingly.
    """
    fs = sidecar_fs(live, spark)
    if read_files is not None:
        seen = {f.rsplit("/", 1)[-1] for f in read_files}
        now = set(_visible(fs.list_names(live)))
        if now != seen:
            fs.delete(stage)
            raise RuntimeError(
                f"{live} changed during the rewrite (files "
                f"{sorted(seen ^ now)} appeared/vanished); aborted with the "
                "live dir untouched — stop the writer and re-run"
            )
    aside = _hidden_sibling(live, "aside")
    if fs.exists(aside):
        fs.delete(stage)
        raise RuntimeError(
            f"{aside} is left from a crashed swap of {live}; apply the "
            "recovery rule in localfs.install_verified and re-run"
        )
    if fs.exists(live):
        fs.rename(live, aside)
    fs.rename(stage, live)
    fs.delete(aside)

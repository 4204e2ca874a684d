"""One storage layer for the engine's persisted tables.

The encoded table (`plans.pipeline`, data under ``out/data/commit=<g>/``)
and the IVF-PQ index (`operators.similarity`, data under
``path/cells/cell=<j>/g=<g>/``) commit and read back through the same
protocol:

- A writer holds the single-writer lease `JobLock` (``root/job.lock``).
- It writes a new group's data into dirs that only that group id owns.
- ONE tmp+rename of ``root/manifest/group-<g>.json`` publishes the group
  (`publish_group`). A compaction's group lists the groups it replaces
  in ``supersedes``, so the same single rename retires them.
- Readers resolve the live groups from one manifest snapshot
  (`read_groups` + `live_group_ids`) and never write or lock.
- Every writer starts with `collect_garbage`: data no valid manifest
  names is deleted, and superseded groups are deleted once their
  replacement's publish is older than the retention — bottom-up along
  a chain of compactions, so no group becomes live again.

Every path goes through the Hadoop FileSystem API, so the same code
serves file://, hdfs:// and s3a:// roots.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for `path`."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _create(fs, jpath, overwrite: bool):
    """Open `jpath` for writing without the local FS's .crc sidecars."""
    try:
        fs.setWriteChecksum(False)
    except Py4JJavaError:
        pass  # a FileSystem without checksums has nothing to turn off
    return fs.create(jpath, overwrite)


def write_small_file(spark: SparkSession, path: str, payload: str) -> None:
    """Atomically replace one small control file: write ``path.tmp``,
    then rename it over `path`."""
    fs, jpath, jvm = hadoop_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    stream = _create(fs, tmp, True)
    try:
        stream.write(bytearray(payload.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        raise IOError(f"rename failed for {path}")


def read_small_file(spark: SparkSession, path: str) -> str | None:
    """Content of one small control file, or None when it is absent
    (including deleted by a concurrent writer's GC mid-read)."""
    fs, jpath, jvm = hadoop_fs(spark, path)
    try:
        stream = fs.open(jpath)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == \
                "java.io.FileNotFoundException":
            return None
        raise
    try:
        # JVM-side drain: a py4j byte[] argument is passed by VALUE, so
        # the usual read(buf) loop can't see the bytes — commons-io (on
        # Spark's classpath) slurps the stream inside the JVM instead
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


# ---------------------------------------------------------------------------
# Single-writer lease
# ---------------------------------------------------------------------------

_LOCK_FILE = "job.lock"


class JobLock:
    """Single-writer lease on a table root.

    Two drivers writing one root would interleave groups undetected, and
    a restarting peer's `collect_garbage` would delete the live peer's
    unpublished data. The lock file is created atomically
    (``FileSystem.create(overwrite=false)``: atomic on local FS and HDFS;
    S3A needs an external lock service if concurrent drivers are a real
    possibility there) and carries the owner token, written ONCE. The
    heartbeat is a metadata-only ``setTimes`` touch every lease/4 s and
    staleness is read from the file's modification time, so the content
    is never rewritten while held: a rewrite would open a
    delete-to-rename window where a probing second writer sees no lock.
    A second writer finds a fresh-mtime lock and fails loudly; a lock
    older than the lease is a crashed writer's leftover and is broken.

    Breaking a stale lock is an atomic RENAME to a breaker-unique name:
    only one breaker's rename succeeds, and the winner re-reads the
    renamed file to confirm it moved the lock it OBSERVED as stale (by
    token). If a faster breaker already replaced it, the rename moved a
    live lock, which is restored and the acquisition refused. After
    create + token write the owner re-reads the file and verifies its
    own token. The heartbeat retries transient FS errors and, on an
    unrecoverable loss (file gone, token replaced, retries exhausted),
    records it in ``lost_reason``; long jobs call `check()` between
    units of work to abort promptly.

    Use as a context manager (``with JobLock(spark, root) as lock:``) or
    call `acquire()` / `release()`."""

    _BEAT_RETRIES = 3

    def __init__(self, spark: SparkSession, root: str,
                 lease_sec: float = 60.0):
        self._spark = spark
        self._path = os.path.join(root, _LOCK_FILE)
        self._lease = float(lease_sec)
        self._token = None
        self._stop = threading.Event()
        self._thread = None
        self.lost_reason: str | None = None

    def __enter__(self) -> "JobLock":
        return self.acquire()

    def __exit__(self, exc_type, exc, tb) -> None:
        # raise on a stolen lock only on the success path — never mask
        # the original failure
        self.release(raise_on_stolen=exc_type is None)

    def _read_token(self) -> str | None:
        held = read_small_file(self._spark, self._path)
        if held is None:
            return None
        try:
            return json.loads(held).get("token")
        except ValueError:
            return None

    def _break_stale(self, fs, jpath, jvm, observed_token) -> None:
        """Atomically claim the right to break ONE observed-stale lock:
        rename it to a breaker-unique name (one rename wins), confirm
        the moved file is the one observed (token match), then drop it.
        A mismatch means a faster breaker already broke-and-recreated —
        the moved file is a LIVE lock: put it back and refuse.

        A breaker crash between the rename and the delete leaves a
        ``job.lock.stale-<token>`` residue file: uniquely named, never
        read by any path, harmless — deliberately NOT garbage-collected,
        because a cleanup pass would race a concurrent breaker's
        just-claimed rename."""
        claimed = jvm.org.apache.hadoop.fs.Path(
            f"{self._path}.stale-{self._token}")
        try:
            won = fs.rename(jpath, claimed)
        except Py4JJavaError:
            won = False
        if not won:
            raise RuntimeError(
                f"lost the stale-lock break race for {self._path} to a "
                "concurrent writer; retry after it finishes")
        moved = read_small_file(self._spark, str(claimed))
        moved_token = None
        if moved is not None:
            try:
                moved_token = json.loads(moved).get("token")
            except ValueError:
                pass  # unparseable stale leftover: safe to drop
        if moved_token is not None and moved_token != observed_token:
            # a faster breaker already installed a fresh lock and the
            # rename moved THAT: restore it and back off
            fs.rename(claimed, jpath)
            raise RuntimeError(
                f"lost the stale-lock break race for {self._path}: a "
                "concurrent writer re-acquired it first")
        fs.delete(claimed, False)

    def acquire(self) -> "JobLock":
        self._token = uuid.uuid4().hex
        self.lost_reason = None
        fs, jpath, jvm = hadoop_fs(self._spark, self._path)
        if fs.exists(jpath):
            age = time.time() - \
                fs.getFileStatus(jpath).getModificationTime() / 1000.0
            if age < self._lease:
                raise RuntimeError(
                    f"another writer holds {self._path} (heartbeat "
                    f"{age:.1f}s ago, lease {self._lease:.0f}s): "
                    "refusing to interleave commits with a live job. If "
                    "that writer is dead, wait out the lease or delete "
                    "the lock file.")
            self._break_stale(fs, jpath, jvm, self._read_token())
        fs.mkdirs(jpath.getParent())
        try:
            stream = _create(fs, jpath, False)  # atomic create-if-absent
        except Py4JJavaError as e:
            raise RuntimeError(
                f"could not acquire {self._path} — lost the creation "
                f"race to a concurrent writer: {e}") from None
        try:
            stream.write(bytearray(json.dumps(
                {"token": self._token, "ts": time.time()}).encode()))
        finally:
            stream.close()
        # verify-before-work: refuse now if anything replaced the file
        # between the create and here
        if self._read_token() != self._token:
            raise RuntimeError(
                f"could not acquire {self._path}: the lock was replaced "
                "immediately after creation by a concurrent writer")
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._beat, name="job-lock-heartbeat", daemon=True)
        self._thread.start()
        return self

    def _beat(self) -> None:
        while not self._stop.wait(self._lease / 4):
            failures = 0
            while not self._stop.is_set():
                try:
                    # metadata-only touch; re-reading the token each
                    # beat catches a theft within lease/4
                    fs, jpath, _ = hadoop_fs(self._spark, self._path)
                    fs.setTimes(jpath, int(time.time() * 1000), -1)
                    if self._read_token() != self._token:
                        self.lost_reason = (
                            "lock token replaced by another writer")
                        return
                    break
                except Exception as e:
                    # a transient FS error must not kill the heartbeat
                    # (a dead heartbeat lets the LIVE lock age past the
                    # lease and be legitimately broken mid-run)
                    failures += 1
                    try:
                        fs, jpath, _ = hadoop_fs(self._spark, self._path)
                        if not fs.exists(jpath):
                            self.lost_reason = "lock file vanished"
                            return
                    except Exception:
                        pass  # the retry budget below decides
                    if failures >= self._BEAT_RETRIES:
                        self.lost_reason = (
                            f"heartbeat failed {failures}x: {e}")
                        return
                    self._stop.wait(min(0.2, self._lease / 16))

    def check(self) -> None:
        """Abort promptly if the lease protection is gone (heartbeat
        dead or lock stolen)."""
        if self.lost_reason is not None:
            raise RuntimeError(
                f"job lock {self._path} lost mid-run "
                f"({self.lost_reason}); aborting before the next commit "
                "group — another writer may acquire this output dir")

    def release(self, raise_on_stolen: bool = True) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=self._lease)
            self._thread = None
        token = self._read_token()
        if token == self._token:
            fs, jpath, _ = hadoop_fs(self._spark, self._path)
            fs.delete(jpath, False)
        elif raise_on_stolen:
            raise RuntimeError(
                f"job lock {self._path} was stolen or lost mid-run "
                f"(found token {token!r}); another writer may have "
                "interleaved commits into this output dir")


# ---------------------------------------------------------------------------
# Group manifest log
# ---------------------------------------------------------------------------

def _manifest_dir(root: str) -> str:
    return os.path.join(root, "manifest")


def _group_manifest_name(group_id: int) -> str:
    return f"group-{group_id:05d}.json"


def _group_id(name: str) -> int | None:
    if name.startswith("group-") and name.endswith(".json"):
        try:
            return int(name[6:-5])
        except ValueError:
            return None
    return None


# the fields `publish_group` stamps on every row
_STAMPS = ("group_size", "ts", "supersedes", "retain_sec")


def publish_group(spark: SparkSession, root: str, group_id: int,
                  rows: list[dict], supersedes: list[int] | None = None,
                  retain_sec: float = 0.0) -> None:
    """Publish a group: ALL of its manifest rows in ONE file, written by
    one tmp+rename, so a group is either fully published or not at all.

    Every row is stamped with ``group_size = len(rows)``, which makes
    the file self-validating: on a store whose rename is copy+delete
    (S3A) a crash mid-rename can leave a partial file, and `read_groups`
    treats any file whose line count differs from its group_size as
    unpublished. Rows are also stamped with the publish time ``ts``.

    `supersedes` lists the group ids this group replaces: the rename
    that publishes it atomically flips readers from the old groups to
    the new one, and the old groups become garbage. `retain_sec` keeps
    them on disk for that long after the publish whichever writer runs
    `collect_garbage` meanwhile, so readers holding plans over the old
    snapshot can drain."""
    extra: dict = {"group_size": len(rows), "ts": time.time()}
    if supersedes:
        extra["supersedes"] = json.dumps(sorted(int(g) for g in supersedes))
        if retain_sec > 0:
            extra["retain_sec"] = float(retain_sec)
    # rows carried over from an older group lose that group's stamps
    body = "".join(
        json.dumps({**{k: v for k, v in r.items() if k not in _STAMPS},
                    **extra}) + "\n" for r in rows)
    write_small_file(spark, os.path.join(
        _manifest_dir(root), _group_manifest_name(group_id)), body)


def _parse_group(text: str | None) -> list[dict] | None:
    """Rows of one group manifest, or None if it is not a complete
    publish (absent, torn mid-line, or fewer lines than group_size)."""
    if text is None:
        return None
    try:
        rows = [json.loads(line) for line in text.splitlines()]
    except ValueError:
        return None
    if not rows or any(not isinstance(r, dict)
                       or r.get("group_size") != len(rows) for r in rows):
        return None
    return rows


def _scan_groups(spark: SparkSession,
                 root: str) -> tuple[dict[int, list[dict]], set[int]]:
    """(valid {group_id: rows}, ids of every group manifest file present)
    from one listing of the manifest dir."""
    fs, jp, _ = hadoop_fs(spark, _manifest_dir(root))
    if not fs.exists(jp):
        return {}, set()
    valid: dict[int, list[dict]] = {}
    present: set[int] = set()
    for st in fs.listStatus(jp):
        gid = _group_id(st.getPath().getName())
        if gid is None:
            continue
        present.add(gid)
        rows = _parse_group(read_small_file(spark, str(st.getPath())))
        if rows is not None:
            valid[gid] = rows
    return valid, present


def read_groups(spark: SparkSession, root: str) -> dict[int, list[dict]]:
    """{group_id: manifest rows} of every validly published group,
    superseded ones included."""
    return _scan_groups(spark, root)[0]


def _supersedes(row: dict) -> list[int]:
    """Group ids a manifest row's group replaces."""
    return [int(g) for g in json.loads(row.get("supersedes") or "[]")]


def live_group_ids(groups: dict[int, list[dict]]) -> set[int]:
    """Group ids whose data is CURRENT: every valid group minus any
    group listed in some valid group's ``supersedes`` — including lists
    carried by groups that are themselves superseded, so a chain
    g1 <- g' <- g'' resolves to {g''} even while the middle link's
    garbage is still awaiting collection (`collect_garbage` never
    removes a middle link before the groups it lists)."""
    return set(groups) - {g for rows in groups.values() for r in rows
                          for g in _supersedes(r)}


def max_group_id(spark: SparkSession, root: str) -> int:
    """Highest group id with a manifest file present (valid or not), -1
    if none. The newest group is never superseded, so ``1 + this`` is a
    fresh id once `collect_garbage` has removed unpublished data."""
    return max(_scan_groups(spark, root)[1], default=-1)


def drop_manifests(spark: SparkSession, root: str) -> None:
    """Delete the whole manifest log (a rebuild starts a new one)."""
    fs, jp, _ = hadoop_fs(spark, _manifest_dir(root))
    fs.delete(jp, True)


def collect_garbage(spark: SparkSession, root: str,
                    group_dirs: Callable[[], dict[int, list[str]]],
                    min_age_sec: float = 0.0
                    ) -> tuple[int, int, dict[int, list[dict]]]:
    """The one cleanup pass of the protocol. Writers run it under their
    lock before planning; compaction runs it again after its publish.

    `group_dirs()` returns the data dirs on disk per group id. Two kinds
    of garbage are deleted:

    - Unpublished data: dirs of a group with no VALID manifest (the
      writer crashed before its publish, or the manifest is torn). An
      invalid manifest file goes with its data. Not retention-gated: no
      reader can resolve data that was never published.
    - Superseded groups, once the superseding publish (its rows' ``ts``)
      is older than both `min_age_sec` and the ``retain_sec`` stamped in
      it: manifest first (the data then reads as unpublished to any
      later pass), then the data. Collection is bottom-up: a group whose
      own ``supersedes`` still have manifests is kept, because its
      manifest is what keeps them superseded. Retentions differ per
      publish, so a later compaction may expire a middle link of a
      chain before the groups that link retains.

    Returns ``(unpublished_groups_removed, superseded_groups_collected,
    live_groups)``; live_groups is {group_id: rows} of the current
    groups, from the same manifest snapshot the cleanup used."""
    groups, present = _scan_groups(spark, root)
    on_disk = group_dirs()
    fs, _, jvm = hadoop_fs(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    mdir = _manifest_dir(root)
    stale = 0
    for gid in sorted((set(on_disk) | present) - set(groups)):
        if gid in present:
            fs.delete(Path(mdir, _group_manifest_name(gid)), False)
        for d in on_disk.get(gid, []):
            fs.delete(Path(d), True)
        stale += gid in on_disk
    live = {g: groups[g] for g in live_group_ids(groups)}
    # superseded gid -> (latest superseding publish ts, retention)
    superseded: dict[int, tuple[float, float]] = {}
    for rows in groups.values():
        for r in rows:
            for g in _supersedes(r):
                ts, keep = superseded.get(g, (0.0, 0.0))
                superseded[g] = (
                    max(ts, float(r.get("ts") or 0.0)),
                    max(keep, float(r.get("retain_sec") or 0.0)))
    remaining = set(groups)
    collected = 0
    now = time.time()
    # ascending ids visit a chain bottom-up: a compaction's id is above
    # every group it merges
    for gid, (ts, keep) in sorted(superseded.items()):
        retention = max(min_age_sec, keep)
        if gid not in groups or (retention > 0 and now - ts < retention):
            # already gone (its data, if any, was unpublished above), or
            # readers may still hold plans over the old snapshot
            continue
        if any(g in remaining for r in groups[gid] for g in _supersedes(r)):
            continue  # still the link that retires a retained group
        fs.delete(Path(mdir, _group_manifest_name(gid)), False)
        for d in on_disk.get(gid, []):
            fs.delete(Path(d), True)
        remaining.discard(gid)
        collected += 1
    return stale, collected, live

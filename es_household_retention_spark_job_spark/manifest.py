"""One commit protocol for every persisted structure's JSON sidecar.

The keyed sink (``_live_manifest.json``), the BM25 text index
(``_index_manifest.json``), the ANN vector index (``_ann_manifest.json``)
and the near-dup band index (``_meta.json``) each resolve their live state
from one small JSON sidecar: data files land first, invisible, and the
sidecar replace that lists them IS the commit. This module is that
protocol, once:

* ``read`` — the parsed sidecar, or ``None`` when it is missing;
* ``write`` — durable atomic replace: a dot-prefixed tmp file, ``fsync``
  of the tmp, ``os.replace``, ``fsync`` of the parent directory. A crash
  at any step leaves readers the old or the new sidecar, never a torn one;
  a leftover tmp is dot-prefixed, so no listing or sweep picks it up;
* ``_publish_lock`` / ``ConcurrentWriteError`` — the filesystem mutex
  serializing a structure's read-check-replace;
* ``commit`` — under the lock, re-read the live sidecar and either verify
  it is still the version the op PLANNED from (maintenance ops: a racer
  aborts loudly instead of being silently overwritten) or bump over it
  (rebuilds, which define a new generation by contract);
* ``roll_retired`` — the time-based retired-file ledger of the indexes;
* ``carry_epoch`` — the streaming/CDC cursor ``(last_epoch, epoch_stream)``
  that rides every index commit;
* ``move_staged`` — landing a staged Spark write's files under generation
  names, invisible until a commit lists them.

The keyed sink keeps its own conflict checks (per bucket, so writers of
disjoint buckets both land, plus its app-meta expectation) and uses only
the lock and ``write`` from here."""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable

LOCK_FILE = ".manifest_lock"
LOCK_STALE_SECONDS = 120.0
LOCK_WAIT_SECONDS = 30.0


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this write's snapshot read and its
    commit — the write was computed against stale state and must be
    retried against the new one."""


def read(path: str, name: str) -> dict | None:
    """The parsed sidecar ``path/name``, or ``None`` when it is missing."""
    try:
        with open(os.path.join(path, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def write(path: str, name: str, obj: dict) -> None:
    """Durably and atomically replace the sidecar ``path/name`` with
    ``obj``: tmp write, ``fsync`` of the tmp, ``os.replace``, ``fsync`` of
    the directory (the rename itself is only durable once the directory
    entry is). A reader sees the old or the new sidecar, never a torn one."""
    tmp = os.path.join(path, f".{name}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, name))
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class _publish_lock:
    """Filesystem mutex (O_EXCL create) serializing a sidecar
    read-modify-write — held for milliseconds, never across a Spark job or
    a vacuum's file sweep (which runs after release). A lock older than
    LOCK_STALE_SECONDS is treated as a crash leftover and broken.

    Each acquisition writes an OWNER TOKEN (uuid) into the lock file:

    * breaking a stale lock goes through ``os.rename`` to a unique name —
      an atomic claim, so when N waiters race to break the same stale lock
      exactly one wins the rename and the losers retry; the blind-unlink
      TOCTOU (two waiters both "break" it and both acquire) cannot happen.
      Because the staleness probe and the rename are two steps, the claim's
      age (mtime survives rename) is RE-CHECKED after the rename: a fresh
      lock that replaced the stale one in that window is restored via
      ``os.link`` (atomic, refuses to clobber a third writer's lock)
      instead of destroyed;
    * ``__exit__`` re-reads the file and unlinks only if it still holds
      this acquisition's token — if another writer broke our lock (e.g. we
      were paused past staleness) we must not release THEIR lock. Safety
      for the paused-writer case itself comes from the optimistic conflict
      checks (``commit``'s version check, the sink's per-bucket check),
      not the lock.
    """

    def __init__(self, path: str):
        self.lock_path = os.path.join(path, LOCK_FILE)
        self.token = uuid.uuid4().hex

    def __enter__(self):
        deadline = time.time() + LOCK_WAIT_SECONDS
        while True:
            try:
                fd = os.open(self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{self.token} {os.getpid()}".encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.lock_path)
                except FileNotFoundError:
                    continue
                if age > LOCK_STALE_SECONDS:
                    claim = f"{self.lock_path}.break-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(self.lock_path, claim)
                    except FileNotFoundError:
                        continue  # another waiter claimed it first
                    # the getmtime above and the rename are not atomic: the
                    # stale lock may have been broken AND re-acquired by
                    # another writer in between, in which case the file we
                    # just claimed is a FRESH lock we must not destroy.
                    # rename preserves mtime, so re-check on the claim.
                    try:
                        claimed_age = time.time() - os.path.getmtime(claim)
                    except FileNotFoundError:
                        continue
                    if claimed_age <= LOCK_STALE_SECONDS:
                        # stole a live lock — put it back atomically.
                        # os.link refuses if a third writer already
                        # re-created the path (EEXIST): then the rightful
                        # owner's __exit__ finds a foreign token and skips
                        # release, and write safety still rests on the
                        # optimistic conflict checks.
                        try:
                            os.link(claim, self.lock_path)
                        except FileExistsError:
                            pass
                        os.unlink(claim)
                        time.sleep(0.05)
                        continue
                    os.unlink(claim)
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"could not acquire {self.lock_path} within "
                        f"{LOCK_WAIT_SECONDS}s"
                    )
                time.sleep(0.05)

    def verify_owned(self) -> None:
        """Raise ``ConcurrentWriteError`` unless the lock file still holds
        this acquisition's token. Called immediately before the sidecar
        replace: in the (probe→rename window)² race where a waiter
        destroys a just-re-acquired fresh lock, the dispossessed writer
        would otherwise proceed into the read-modify-write concurrently
        with the new owner — for DISJOINT sink buckets the per-bucket
        conflict check cannot fire and the later write would silently drop
        the earlier one's live entries. This check shrinks the unprotected
        window from the whole merge to the microseconds between it and
        ``os.replace``, which a breaker cannot cross (a break requires
        LOCK_STALE_SECONDS of age).

        A MISSING lock file gets one short retry before aborting: a breaker
        that renamed away a just-re-acquired fresh lock restores it via
        ``os.link`` moments later, so the rightful owner can transiently
        observe no file at all. Without the retry that window aborts a
        healthy publish (fails closed — safe, but spurious)."""
        owner = self._read_owner()
        if owner is None:
            time.sleep(0.1)  # breaker's link-restore lands within ms
            owner = self._read_owner()
        if owner != self.token:
            raise ConcurrentWriteError(
                "publish lock was broken by another writer mid-publish; "
                "retry the upsert against the new table state"
            )

    def _read_owner(self) -> str | None:
        try:
            with open(self.lock_path) as f:
                return f.read().split()[0]
        except (FileNotFoundError, IndexError):
            return None

    def __exit__(self, *exc):
        owner = self._read_owner()
        if owner != self.token:
            return  # broken/taken by another writer; not ours to release
        try:
            os.unlink(self.lock_path)
        except FileNotFoundError:
            pass


def commit(
    path: str,
    name: str,
    new: dict | Callable[[dict | None], dict],
    planned_from: dict | None = None,
) -> dict | None:
    """Commit ``new`` as the sidecar ``path/name`` under the publish lock;
    returns the live sidecar it replaced (``None`` when there was none).

    With ``planned_from`` (maintenance ops): the live sidecar must still
    carry the version the op PLANNED from, else ``ConcurrentWriteError``
    before anything changes — two maintainers racing one structure lose
    loudly, never silently dropping each other's file lists. A missing
    live sidecar passes (a legacy layout bootstrapped in memory), and
    ``{"version": 0}`` expects exactly that: no committed sidecar at all.

    Without it (rebuilds, which define a new generation by contract):
    ``new`` may be a callable of the live sidecar (for state that must
    carry over from it, read under the lock), and its version is BUMPED
    over the live one — so a maintenance op that planned from the
    pre-rebuild state aborts instead of committing over the rebuild."""
    with _publish_lock(path) as lk:
        live = read(path, name)
        if planned_from is not None:
            if live is not None and int(live.get("version", 1)) != int(
                planned_from.get("version", 1)
            ):
                raise ConcurrentWriteError(
                    f"{name} at {path} was committed concurrently (version "
                    f"{live.get('version')} != planned-from "
                    f"{planned_from.get('version')}); re-run this "
                    "maintenance op against the new state"
                )
        else:
            if callable(new):
                new = new(live)
            new["version"] = int((live or {}).get("version", 0)) + 1
        lk.verify_owned()
        write(path, name, new)
    return live


def roll_retired(
    manifest: dict, now: float, new_entry: dict | None = None
) -> list[dict]:
    """The manifest's ``retired`` ledger rolled forward for a new commit:
    entries still inside the time-based grace window are CARRIED (their
    files / generation dirs stay referenced, so GC keeps them); entries
    past the grace drop out, making their files sweepable by this commit's
    GC. ``new_entry`` records what THIS commit displaces, timestamped now,
    and is kept only when it displaces anything. The grace is
    ``SPARK_GRAFT_INDEX_GC_GRACE`` seconds (default 300 — the same knob
    shape as the keyed sink's ``SPARK_GRAFT_SINK_GC_GRACE``).

    Grace is wall-clock, not maintenance-cycles: a reader that planned
    from the previous manifest keeps its files for at least the grace
    window even under a fast append/compact loop. Legacy text-index
    ``prev_tf`` manifests (the old one-cycle grace) convert to a retired
    entry stamped now — conservative: the grace restarts."""
    grace = float(os.environ.get("SPARK_GRAFT_INDEX_GC_GRACE", "300"))
    retired = [
        e
        for e in manifest.get("retired", [])
        if now - float(e.get("ts", 0)) < grace
    ]
    if manifest.get("prev_tf"):
        retired.append({"ts": now, "tf": manifest["prev_tf"], "gens": []})
    if new_entry is not None and any(
        v for k, v in new_entry.items() if k != "ts"
    ):
        retired.append(new_entry)
    return retired


def carry_epoch(
    new: dict, old: dict, epoch: int | None = None, stream: str | None = None
) -> dict:
    """Set ``new``'s streaming cursor and return it. A commit that carries
    an ``epoch`` records it with its stream label TOGETHER: an anonymous
    epoch (no ``stream``) must not inherit a prior stream's label — epoch
    counters are only comparable within one stream identity, and
    mislabeling this commit would make that stream's next batch look like
    a replay. Any other commit carries ``old``'s marker forward."""
    if epoch is not None:
        new["last_epoch"] = int(epoch)
        if stream is not None:
            new["epoch_stream"] = str(stream)
        return new
    if old.get("last_epoch") is not None:
        new["last_epoch"] = int(old["last_epoch"])
    if old.get("epoch_stream") is not None:
        new["epoch_stream"] = str(old["epoch_stream"])
    return new


def move_staged(
    path: str,
    stage: str,
    gen: str,
    sub: str,
    part_col: str | None = None,
    prefix: str = "gen",
) -> dict[str, list[str]] | list[str]:
    """Move a staged Spark write's parquet files into ``path/sub`` under
    generation names (``<prefix>-<gen>-NNNNN.parquet``) — the
    crash-safety-critical file-publication step of every maintenance op.
    The files stay INVISIBLE until the caller's commit lists them; a crash
    before it leaves strays the structure's sweep reclaims.

    With ``part_col`` the stage is partitioned (``<part_col>=v`` dirs) and
    the result is ``{partition dir: [moved names]}``; without it the files
    land flat in ``path/sub`` and the result is the name list."""
    if part_col is None:
        return _move_files(stage, os.path.join(path, sub), gen, prefix)
    return {
        d: _move_files(
            os.path.join(stage, d), os.path.join(path, sub, d), gen, prefix
        )
        for d in os.listdir(stage)
        if d.startswith(f"{part_col}=")
    }


def _move_files(src: str, dst: str, gen: str, prefix: str) -> list[str]:
    os.makedirs(dst, exist_ok=True)
    names = []
    for i, f in enumerate(
        sorted(x for x in os.listdir(src) if x.endswith(".parquet"))
    ):
        name = f"{prefix}-{gen}-{i:05d}.parquet"
        os.rename(os.path.join(src, f), os.path.join(dst, name))
        names.append(name)
    return names

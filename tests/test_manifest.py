"""The shared sidecar commit protocol (``manifest``): the durable write's
crash points enumerated one file operation at a time, and the commit's
version check. No Spark."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from es_household_retention_spark_job_spark import manifest as MF

NAME = "_index_manifest.json"
OLD = {"version": 1, "tf": {"_shard=0": ["gen-a-00000.parquet"]}}
NEW = {
    "version": 2,
    "tf": {"_shard=0": ["gen-a-00000.parquet", "gen-b-00000.parquet"]},
}

#: the write's file operations, in order
FILE_OPS = ("tmp_write", "fsync_tmp", "replace", "fsync_dir")


class Crash(Exception):
    pass


def _inject(m: pytest.MonkeyPatch, op: str) -> None:
    """Make the write fail at file operation ``op``."""
    if op == "tmp_write":

        def dump(obj, f):
            f.write('{"version": 2, "tf"')  # torn: the crash lands mid-write
            raise Crash(op)

        m.setattr(MF.json, "dump", dump)
    elif op == "replace":

        def replace(src, dst):
            raise Crash(op)

        m.setattr(MF.os, "replace", replace)
    else:  # the tmp file's fsync comes first, the directory's second
        real, calls = os.fsync, []
        fail_at = 1 if op == "fsync_tmp" else 2

        def fsync(fd):
            calls.append(fd)
            if len(calls) == fail_at:
                raise Crash(op)
            return real(fd)

        m.setattr(MF.os, "fsync", fsync)


@pytest.mark.parametrize("entry", ["write", "commit"])
@pytest.mark.parametrize("op", FILE_OPS)
def test_crash_at_each_file_op_leaves_old_or_new_sidecar(tmp_path, entry, op):
    path = str(tmp_path)
    MF.write(path, NAME, OLD)
    with pytest.MonkeyPatch.context() as m:
        _inject(m, op)
        with pytest.raises(Crash):
            if entry == "write":
                MF.write(path, NAME, NEW)
            else:
                MF.commit(path, NAME, dict(NEW), planned_from=OLD)
    # a reader sees exactly the old sidecar, or the new one once the
    # replace has happened — never a torn file
    assert MF.read(path, NAME) == (NEW if op == "fsync_dir" else OLD)
    # every leftover (the tmp of a write that never replaced) is
    # dot-prefixed, so no listing or sweep picks it up; the lock is released
    leftovers = [f for f in os.listdir(path) if f != NAME]
    assert all(f.startswith(".") for f in leftovers), leftovers
    assert bool(leftovers) == (op != "fsync_dir")
    assert MF.LOCK_FILE not in leftovers
    # the next commit succeeds
    live = MF.read(path, NAME)
    nxt = {**live, "version": live["version"] + 1, "tf": {}}
    MF.commit(path, NAME, nxt, planned_from=live)
    assert MF.read(path, NAME) == nxt


def test_commit_version_check_and_rebuild_bump(tmp_path):
    path = str(tmp_path)
    # a rebuild (no plan) bumps over whatever is live: 0 → 1 → 2
    assert MF.commit(path, NAME, {"n": 1}) is None
    assert MF.read(path, NAME) == {"n": 1, "version": 1}
    replaced = MF.commit(path, NAME, lambda live: {"n": live["n"] + 1})
    assert replaced == {"n": 1, "version": 1}
    assert MF.read(path, NAME) == {"n": 2, "version": 2}
    # a maintenance op planned from a superseded version aborts, and the
    # live sidecar is untouched
    with pytest.raises(MF.ConcurrentWriteError, match="committed concurrently"):
        MF.commit(path, NAME, {"n": 99}, planned_from={"version": 1})
    assert MF.read(path, NAME) == {"n": 2, "version": 2}
    # version 0 expects no committed sidecar at all
    with pytest.raises(MF.ConcurrentWriteError):
        MF.commit(path, NAME, {"version": 1}, planned_from={"version": 0})
    MF.commit(path, "_other.json", {"version": 1}, planned_from={"version": 0})
    assert MF.read(path, "_other.json") == {"version": 1}
    assert not os.path.exists(os.path.join(path, MF.LOCK_FILE))


def test_concurrent_commits_lose_no_update(tmp_path):
    """More committers than cores race read → commit(planned_from) and
    retry on ConcurrentWriteError: every increment must land exactly once
    (a commit that skipped the lock or the version check would let two
    racers commit the same successor and drop one increment)."""
    path = str(tmp_path)
    MF.write(path, NAME, {"version": 1, "n": 0})
    n_threads, per_thread = 8, 5
    errors = []

    def worker():
        try:
            for _ in range(per_thread):
                while True:
                    live = MF.read(path, NAME)
                    nxt = {"version": live["version"] + 1, "n": live["n"] + 1}
                    try:
                        MF.commit(path, NAME, nxt, planned_from=live)
                        break
                    except MF.ConcurrentWriteError:
                        continue
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    final = MF.read(path, NAME)
    assert final["n"] == n_threads * per_thread == final["version"] - 1


def test_roll_retired_and_carry_epoch(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_GC_GRACE", "100")
    man = {
        "retired": [
            {"ts": 0.0, "tf": {"d": ["old"]}},
            {"ts": 950.0, "gens": ["g"]},
        ],
        "prev_tf": {"d": ["legacy"]},
    }
    rolled = MF.roll_retired(man, 1000.0, {"ts": 1000.0, "cells": {}, "pq": {}})
    # past-grace entry dropped, in-grace kept, legacy prev_tf converted,
    # an entry that displaces nothing not recorded
    assert rolled == [
        {"ts": 950.0, "gens": ["g"]},
        {"ts": 1000.0, "tf": {"d": ["legacy"]}, "gens": []},
    ]
    assert MF.roll_retired({}, 1.0, {"ts": 1.0, "tombstones": ["t"]}) == [
        {"ts": 1.0, "tombstones": ["t"]}
    ]
    old = {"last_epoch": 4, "epoch_stream": "s"}
    assert MF.carry_epoch({}, old) == {"last_epoch": 4, "epoch_stream": "s"}
    assert MF.carry_epoch({}, old, 5, "t") == {"last_epoch": 5, "epoch_stream": "t"}
    # an anonymous epoch never inherits the prior stream's label
    assert MF.carry_epoch({}, old, 6) == {"last_epoch": 6}

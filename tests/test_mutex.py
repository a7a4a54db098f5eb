"""Single-writer enforcement for non-transactional layouts (r9
verdict #7 / "What's missing #2"): the IVF family's legacy tmp+rename
layouts (the shard tier, the shared vacuum rewrite) REFUSE concurrent
mutation via an advisory create-exclusive lock (operators/mutex.py)
instead of silently interleaving writes. These tests pin the lock
mechanics and that the mutation paths actually enforce it."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from cnc_visionsearch_spark.operators.mutex import (
    LOCK_NAME,
    LayoutBusyError,
    layout_mutation_lock,
)


def test_lock_is_exclusive_and_released(tmp_path):
    p = str(tmp_path / "layout")
    with layout_mutation_lock(p, "first"):
        assert os.path.exists(os.path.join(p, LOCK_NAME))
        with pytest.raises(LayoutBusyError, match="single-writer"):
            with layout_mutation_lock(p, "second"):
                pass  # pragma: no cover
    # released on exit: a new writer acquires cleanly
    assert not os.path.exists(os.path.join(p, LOCK_NAME))
    with layout_mutation_lock(p, "third"):
        pass


def test_lock_released_on_error(tmp_path):
    p = str(tmp_path / "layout")
    with pytest.raises(RuntimeError, match="boom"):
        with layout_mutation_lock(p):
            raise RuntimeError("boom")
    assert not os.path.exists(os.path.join(p, LOCK_NAME))


def _dead_pid() -> int:
    """A PID that provably existed and is now dead (spawn + reap)."""
    import subprocess

    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_stale_lock_is_broken(tmp_path):
    p = str(tmp_path / "layout")
    os.makedirs(p)
    lock = os.path.join(p, LOCK_NAME)
    with open(lock, "w") as f:
        f.write('{"pid": %d, "op": "crashed"}' % _dead_pid())
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with layout_mutation_lock(p, stale_after_s=3600):
        pass  # crashed holder's lock broken, acquisition succeeded
    assert not os.path.exists(lock)


def test_stale_lock_with_live_holder_is_not_broken(tmp_path):
    """An hour-old lock whose recorded holder PID is STILL ALIVE is a
    wedged-but-live writer, not a crashed one — breaking it would
    admit a second mutator while the holder may yet finish. The break
    now requires provable holder death; a live (or unattributable)
    holder gets a loud busy instead."""
    p = str(tmp_path / "layout")
    os.makedirs(p)
    lock = os.path.join(p, LOCK_NAME)
    with open(lock, "w") as f:
        f.write('{"pid": %d, "op": "wedged"}' % os.getpid())
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with pytest.raises(LayoutBusyError, match="single-writer"):
        with layout_mutation_lock(p, stale_after_s=3600):
            pass  # pragma: no cover
    assert os.path.exists(lock)  # the live holder's lock survived


def test_stale_break_verifies_inode_before_deleting(tmp_path, monkeypatch):
    """r10 advice (TOCTOU): between observing a stale lock and breaking
    it, the slow-but-live holder may release and a NEW writer may
    acquire — a blind unlink-by-path would then delete the live
    writer's lock and admit a second mutator. The break is now an
    atomic rename-aside + inode verify: simulate the race by making the
    breaker's first stat report a DIFFERENT (stale) inode than the file
    actually at the path; the breaker must restore the grabbed live
    lock untouched and report busy instead of acquiring."""
    import cnc_visionsearch_spark.operators.mutex as mx

    p = str(tmp_path / "layout")
    os.makedirs(p)
    lock = os.path.join(p, LOCK_NAME)
    with open(lock, "w") as f:
        # dead holder pid: the liveness gate must not veto the break
        # attempt — this test exercises the inode-verify stage behind it
        f.write('{"pid": %d, "op": "live-new-writer"}' % _dead_pid())
    real_ino = os.stat(lock).st_ino
    real_stat = os.stat

    class _StaleObservation:
        st_ino = real_ino + 1  # an inode the path no longer holds
        st_mtime = time.time() - 7200  # looks crashed-stale

    calls = {"n": 0}

    def racing_stat(path_, *a, **k):
        if path_ == lock and calls["n"] == 0:
            calls["n"] += 1
            return _StaleObservation()
        return real_stat(path_, *a, **k)

    monkeypatch.setattr(mx.os, "stat", racing_stat)
    with pytest.raises(LayoutBusyError, match="re-acquired"):
        with layout_mutation_lock(p, stale_after_s=3600):
            pass  # pragma: no cover
    # the live writer's lock survived the failed break, same inode,
    # and no rename-aside residue is left behind
    assert os.stat(lock).st_ino == real_ino
    assert os.listdir(p) == [LOCK_NAME]


def test_error_message_names_the_holder(tmp_path):
    p = str(tmp_path / "layout")
    with layout_mutation_lock(p, "compact"):
        with pytest.raises(LayoutBusyError) as ei:
            with layout_mutation_lock(p):
                pass  # pragma: no cover
        assert "compact" in str(ei.value)
        assert str(os.getpid()) in str(ei.value)


def test_shard_append_and_vacuum_refuse_concurrent_mutation(
    spark, tmp_path
):
    from cnc_visionsearch_spark.operators.ann import (
        shard_append,
        shard_build,
        shard_delete,
        shard_vacuum,
    )
    from cnc_visionsearch_spark.operators.knn import with_normalized
    from cnc_visionsearch_spark.sources.catalog import load_table

    emb = with_normalized(
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ).select("vec_id", "nvec")
    path = str(tmp_path / "shards")
    shard_build(emb.filter(F.col("vec_id") < 80), path, num_shards=4)
    new = emb.filter(F.col("vec_id") >= 80).limit(5)
    with layout_mutation_lock(path, "other-writer"):
        with pytest.raises(LayoutBusyError):
            shard_append(spark, path, new)
        shard_delete(spark, path, [1])  # tombstone appends stay blind
        with pytest.raises(LayoutBusyError):
            shard_vacuum(spark, path)
    shard_append(spark, path, new)
    shard_vacuum(spark, path)

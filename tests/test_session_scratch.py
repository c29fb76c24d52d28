"""Fast-scratch routing (session.py round 13): the tmpfs preference is
guarded — no mount / no headroom degrades to the platform default, and
scratch_dir always yields a writable fresh dir either way."""

from __future__ import annotations

import os
import tempfile

import pytest


def test_fast_local_dir_guard(monkeypatch):
    from data_engineering_projects_spark.session import _fast_local_dir

    # missing mount -> None (no exception)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/nonexistent-mount-xyz")
    assert _fast_local_dir() is None

    # a real dir with headroom -> a created subdir under it
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", tempfile.gettempdir())
    d = _fast_local_dir()
    if d is not None:  # None only if tmp itself lacks headroom
        assert os.path.isdir(d)
        assert d.startswith(tempfile.gettempdir())


@pytest.mark.parametrize("size_gib,free_gib,routed", [
    (15.7, 15.7, True),    # whole small tmpfs free: half-size bar
    (15.7, 4, False),
    (100, 17, True),       # large mount: the 16 GiB bar
    (100, 15, False),
])
def test_fast_local_dir_headroom_bar(monkeypatch, tmp_path, size_gib,
                                     free_gib, routed):
    """The headroom bar is min(16 GiB, half the mount's size)."""
    from types import SimpleNamespace

    from data_engineering_projects_spark.session import _fast_local_dir

    gib = 1 << 30
    monkeypatch.setattr(os, "statvfs", lambda p: SimpleNamespace(
        f_frsize=4096, f_blocks=int(size_gib * gib) // 4096,
        f_bavail=int(free_gib * gib) // 4096))
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    d = _fast_local_dir()
    if routed:
        assert d is not None and os.path.isdir(d)
        assert d.startswith(str(tmp_path))
    else:
        assert d is None


def test_scratch_dir_always_writable(monkeypatch):
    from data_engineering_projects_spark.session import scratch_dir

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/nonexistent-mount-xyz")
    d = scratch_dir("depa_test_")
    try:
        assert os.path.isdir(d)
        with open(os.path.join(d, "probe"), "w") as f:
            f.write("x")
    finally:
        import shutil
        shutil.rmtree(d, ignore_errors=True)


def test_fast_local_dir_reclaims_stale_and_uniquifies(monkeypatch, tmp_path):
    """Round-14 ADVICE: the scratch dir is per-process (pid-suffixed,
    atexit-cleaned) and siblings leaked by SIGKILLed sessions — plus the
    legacy shared name — are reclaimed BEFORE the headroom check, so
    the check measures true availability."""
    import shutil

    from data_engineering_projects_spark.session import _fast_local_dir

    mount = str(tmp_path / "shm")
    os.makedirs(mount)
    # leaked artifacts: an IDLE legacy shared dir + a dead-pid dir; a
    # live-pid sibling (another session on this host) must be kept
    legacy = os.path.join(mount, "spark-local")
    os.makedirs(legacy)
    os.utime(legacy, (10_000_000, 10_000_000))  # idle > 1 h
    dead = os.path.join(mount, "spark-local-999999999")
    os.makedirs(dead)
    os.utime(dead, (10_000_000, 10_000_000))  # dead pid AND cold tree
    # round 15 (from ADVICE): a dead-LOOKING pid with a warm tree is a
    # foreign pid namespace hazard (--ipc=host) — must be spared until
    # its tree goes idle
    dead_warm = os.path.join(mount, "spark-local-999999998")
    os.makedirs(dead_warm)
    live = os.path.join(mount, f"spark-local-{os.getppid()}")
    os.makedirs(live)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", mount)
    d = _fast_local_dir()
    try:
        assert not os.path.exists(os.path.join(mount, "spark-local"))
        assert not os.path.exists(dead)
        assert os.path.exists(dead_warm)
        assert os.path.exists(live)
        if d is not None:  # None only if the tmp mount lacks headroom
            assert d == os.path.join(mount, f"spark-local-{os.getpid()}")
            assert os.path.isdir(d)
    finally:
        shutil.rmtree(mount, ignore_errors=True)


def test_fast_local_dir_spares_active_legacy_dir(monkeypatch, tmp_path):
    """Review-found (r14): the legacy shared `spark-local` dir may
    belong to a LIVE pre-upgrade session — it is reclaimed only after
    an hour of tree-wide inactivity, never while its blockmgr tree is
    being touched; junk pid dirs too large for a real pid count as
    stale."""
    import shutil

    from data_engineering_projects_spark.session import (_fast_local_dir,
                                                         _pid_alive)

    assert _pid_alive(99999999999999) is False  # OverflowError path

    mount = str(tmp_path / "shm")
    legacy = os.path.join(mount, "spark-local")
    os.makedirs(os.path.join(legacy, "blockmgr-x"))
    # fresh mtimes -> active tree -> must be spared
    with open(os.path.join(legacy, "blockmgr-x", "shuffle_0"), "w") as f:
        f.write("x")
    junk = os.path.join(mount, "spark-local-99999999999999")
    os.makedirs(junk)
    os.utime(junk, (10_000_000, 10_000_000))  # cold tree: reclaimable
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", mount)
    _fast_local_dir()
    try:
        assert os.path.exists(legacy)      # active: spared
        assert not os.path.exists(junk)    # impossible pid: reclaimed
        # age the legacy tree past the idle bar -> reclaimed next call
        old = 10_000_000
        for root, dirs, files in os.walk(legacy, topdown=False):
            for f in dirs + files:
                os.utime(os.path.join(root, f), (old, old))
        os.utime(legacy, (old, old))
        _fast_local_dir()
        assert not os.path.exists(legacy)
    finally:
        shutil.rmtree(mount, ignore_errors=True)

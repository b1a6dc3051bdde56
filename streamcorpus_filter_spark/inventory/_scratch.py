"""One scratch root per process for the tables and staged files the
registered queries write. ``scratch_dir(prefix)`` makes a fresh dir
under it; the root is removed when the interpreter exits. The returned
DataFrames read those dirs lazily, so exit is the first point at which
nothing can still read them. A root's owner holds a ``flock`` on its
``.owner`` file for life, so the next process to make a root removes
those of killed owners (a PID would not do across PID namespaces).
A LEAF module (imports nothing from this package)."""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import os
import shutil
import tempfile
import threading

_LOCK = threading.Lock()
_ROOT: tuple[int, str] | None = None  # (pid, root) of this process


def _remove(pid: int, root: str) -> None:
    if os.getpid() == pid:  # a forked child inherits the handler
        shutil.rmtree(root, ignore_errors=True)


def _sweep() -> None:
    for root in glob.glob(os.path.join(tempfile.gettempdir(), "scfs_scratch_*")):
        try:  # no .owner yet: its maker has not locked it
            fd = os.open(os.path.join(root, ".owner"), os.O_RDONLY)
        except OSError:
            continue
        with contextlib.suppress(BlockingIOError):  # its owner is alive
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            shutil.rmtree(root, ignore_errors=True)
        os.close(fd)


def scratch_dir(prefix: str) -> str:
    global _ROOT
    with _LOCK:
        if _ROOT is None or _ROOT[0] != os.getpid():
            _sweep()
            _ROOT = (os.getpid(), tempfile.mkdtemp(prefix="scfs_scratch_"))
            owner = os.path.join(_ROOT[1], ".owner")
            # locked before it is named .owner, so no sweep sees it free;
            # the fd stays open, so the lock lasts as long as this process
            fd = os.open(owner + ".new", os.O_CREAT | os.O_WRONLY, 0o600)
            fcntl.flock(fd, fcntl.LOCK_EX)
            os.rename(owner + ".new", owner)
            atexit.register(_remove, *_ROOT)
        root = _ROOT[1]
    return tempfile.mkdtemp(prefix=prefix, dir=root)

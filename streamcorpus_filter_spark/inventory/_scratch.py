"""One scratch root per process for the tables and staged files the
registered queries write. ``scratch_dir(prefix)`` makes a fresh dir
under it; the root is removed when the interpreter exits. The returned
DataFrames read those dirs lazily, so exit is the first point at which
nothing can still read them. A LEAF module (imports nothing from this
package)."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

_LOCK = threading.Lock()
_ROOT: tuple[int, str] | None = None  # (pid, root) of this process


def _remove(pid: int, root: str) -> None:
    if os.getpid() == pid:  # a forked child inherits the handler
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    global _ROOT
    with _LOCK:
        if _ROOT is None or _ROOT[0] != os.getpid():
            _ROOT = (os.getpid(), tempfile.mkdtemp(prefix="scfs_scratch_"))
            atexit.register(_remove, *_ROOT)
        root = _ROOT[1]
    return tempfile.mkdtemp(prefix=prefix, dir=root)

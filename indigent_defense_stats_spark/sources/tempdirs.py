"""Per-process temp dirs for tables a query materializes on the fly."""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

_registered: set[str] = set()


def _remove(path: str, pid: int) -> None:
    # a forked child inherits the atexit list; only the creator removes
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)


def pid_temp_dir(kind: str, sf_dir: str) -> str:
    """``<tmp>/ids_<kind>_<md5(sf_dir)>_<pid>``: stable within a
    process (repeat calls overwrite), never shared across concurrent
    drivers on one machine, and removed when the process exits."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    pid = os.getpid()
    path = os.path.join(tempfile.gettempdir(), f"ids_{kind}_{tag}_{pid}")
    if path not in _registered:
        _registered.add(path)
        atexit.register(_remove, path, pid)
    return path

"""Per-run names and per-process scratch directories.

Temp views and stream-query names live in the session, which every thread
shares, so a run registers each under a :func:`private_name` and removes it
before it returns.  Every directory a query writes is a :func:`new_dir` under
one root per process, ``<tempfile.gettempdir()>/sdi-<pid>-*``: made on first
use (not at import, so a caller may point ``tempfile.tempdir`` elsewhere
first), removed at exit, and swept by the first use in a later process once
its pid is gone (a SIGKILL runs no exit hook).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import threading
import uuid

_ROOTS: dict[int, str] = {}
_LOCK = threading.Lock()


def private_name(base: str) -> str:
    """``{base}_<32 hex digits>``, a name no other run holds."""
    return f"{base}_{uuid.uuid4().hex}"


def _gone(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:  # another user's live process
        pass
    return False


def _remove(pid: int, path: str) -> None:
    if os.getpid() == pid:  # a forked child inherits its parent's exit hooks
        shutil.rmtree(path, ignore_errors=True)


def root() -> str:
    """This process's scratch root; the first call sweeps dead pids' roots."""
    pid = os.getpid()
    with _LOCK:
        if pid not in _ROOTS:
            tmp = tempfile.gettempdir()
            for entry in os.listdir(tmp):
                m = re.fullmatch(r"sdi-(\d+)-\w+", entry)
                if m and _gone(int(m.group(1))):
                    shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
            _ROOTS[pid] = tempfile.mkdtemp(prefix=f"sdi-{pid}-")
            atexit.register(_remove, pid, _ROOTS[pid])
        return _ROOTS[pid]


def new_dir(prefix: str) -> str:
    """A new empty directory ``{prefix}*`` under :func:`root`."""
    return tempfile.mkdtemp(prefix=prefix, dir=root())

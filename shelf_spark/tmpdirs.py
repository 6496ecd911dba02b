"""Temp directories that do not outlive the process that made them.

A directory is ``<temp dir>/<prefix><pid>-<random>`` and is removed when
its process exits. The exit hook does not run in a killed process, so
making one first removes the directories under the same prefix whose
process no longer runs.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile


def _pid_runs(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # runs, as another user
        pass
    return True


def process_tmpdir(prefix: str) -> str:
    """A new directory ``<temp dir>/<prefix><pid>-<random>``, removed at
    exit, after removing those of processes that no longer run."""
    for old in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        pid = os.path.basename(old)[len(prefix):].split("-")[0]
        if pid.isdigit() and not _pid_runs(int(pid)):
            shutil.rmtree(old, ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix=f"{prefix}{os.getpid()}-")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return tmp

"""Stop every process a run started and wait until each has ended.

The run makes itself a child subreaper (Linux ``prctl``), so a process
whose parent exits first -- a Python worker of a Spark JVM that is
shutting down, say -- is re-parented to the run instead of to init, and
the run can wait for it.  ``stop_all`` asks every descendant to stop
(SIGTERM: the JVM runs its shutdown hooks), kills what is still there
after a grace period, and reaps until the run has no child left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

from kgbench.procmem import tree

_PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 20.0  # after SIGTERM, before SIGKILL


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _reap() -> bool:
    """Reap every exited child; False once the run has no child left."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_all() -> None:
    deadline = time.monotonic() + GRACE_S
    termed = set()
    while _reap():
        late = time.monotonic() > deadline
        # re-parented orphans and processes forked since the last round
        # are signalled too
        for pid in tree(os.getpid())[1:]:
            if late or pid not in termed:
                termed.add(pid)
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)

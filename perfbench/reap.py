"""Run the benchmark in a child process and reap every process it leaves.

A run starts more processes than it can stop by itself: the resource
tracker of the corpus generator's process pool outlives the pool, and
Spark's Python worker daemon moves into a process group of its own and
ends only some time after the JVM that started it. This parent makes
itself the child subreaper (``prctl(PR_SET_CHILD_SUBREAPER)``), so every
such process is re-parented here once its own parent has ended. After the
child exits, the parent waits a short grace period for them to end on
their own, then terminates and at last kills what is left, and returns
only when it has no child at all.

The parent writes nothing to stdout; the child's last line stays last.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

from perfbench.trace import _children

PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 5.0  # orphans get this long to end on their own
TERM_S = 5.0   # and this long after SIGTERM before SIGKILL


def _become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err), "prctl(PR_SET_CHILD_SUBREAPER)")


def _signal_all(sig: int) -> None:
    for pid in _children().get(os.getpid(), []):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def reap_all() -> None:
    """Wait until this process has no child left, terminating and then
    killing those that outstay the grace period."""
    start = time.monotonic()
    termed = False
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no child, running or exited, is left
            if pid == 0:
                break
        waited = time.monotonic() - start
        if waited >= GRACE_S + TERM_S:
            _signal_all(signal.SIGKILL)
        elif waited >= GRACE_S and not termed:
            _signal_all(signal.SIGTERM)
            termed = True
        time.sleep(0.05)


def supervise(argv: list[str], env: dict[str, str]) -> int:
    """Run ``argv`` as a child, reap every process it leaves and return its
    exit code (1 if a signal ended it). SIGTERM, SIGINT and SIGHUP sent to
    this process are passed on to the child."""
    _become_subreaper()
    child = subprocess.Popen(argv, env=env)

    def forward(signum, _frame):
        try:
            child.send_signal(signum)
        except ProcessLookupError:
            pass

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, forward)
    try:
        code = child.wait()
    finally:
        reap_all()
    return code if code >= 0 else 1

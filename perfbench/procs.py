"""Process hygiene: a run leaves no process behind.

``run.py`` supervises the benchmark proper in a child process.  The
supervisor is a child subreaper, so anything the run starts and then
orphans (the Spark JVM after the driver exits, its Python workers, the
load generator) is re-parented to it rather than to init.  Once the
child has ended, :func:`stop_descendants` terminates and reaps every
process still under the supervisor before it exits.  The child, and the
generator it starts, are tied to their parents with a parent-death
signal, so killing the supervisor still brings the tree down.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

from perfbench.measure import tree_pids

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36

_libc = ctypes.CDLL(None, use_errno=True)


def _prctl(option: int, arg: int) -> None:
    if _libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def become_subreaper() -> None:
    _prctl(PR_SET_CHILD_SUBREAPER, 1)


def die_with_parent(sig: int, parent: int) -> None:
    """Receive ``sig`` when the parent exits; if ``parent`` has already
    gone, exit now."""
    _prctl(PR_SET_PDEATHSIG, sig)
    if os.getppid() != parent:
        os._exit(1)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 15.0) -> None:
    """SIGTERM every descendant, SIGKILL what is left after ``grace_s``,
    and return once none is left and every child is reaped."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    signalled: dict[int, int] = {}
    while True:
        _reap()
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for p in left:
            if signalled.get(p) != sig:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
                signalled[p] = sig
        time.sleep(0.05)

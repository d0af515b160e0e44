"""Ending every process the benchmark started, and waiting for each.

The benchmark starts the host-speed loop processes, the Spark JVM, and
below the JVM the PySpark daemon and its workers.  ``spark.stop()``
leaves the JVM running until it reads end-of-file on its standard
input, which would otherwise happen only after this process has exited,
so a JVM could outlive a run.  Here this process makes itself the
subreaper of everything below it, so that processes orphaned on the way
down become its children, and it waits until it has none left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36  # prctl(2)
# Seconds to wait after asking the JVM to exit, and after SIGTERM,
# before the next, harder step.
GRACE_S = (30.0, 10.0)
POLL_S = 0.05


def become_subreaper() -> None:
    """Makes processes orphaned below this one its children."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> bool:
    """Reaps every child that has ended; True once none is left."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] != 0:
            pass
    except ChildProcessError:
        return True
    return False


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    raw = fh.read()
            except OSError:  # the process ended while we looked
                continue
            if int(raw[raw.rindex(")") + 2:].split()[1]) == me:
                out.append(int(entry))
    return out


def _signal_all(sig: int) -> None:
    """Sends ``sig`` to every child, and to every process below each."""
    for pid in _children():
        for target in (pid, -pid):  # the child, then its group if it leads one
            try:
                os.kill(target, sig)
            except (ProcessLookupError, PermissionError):
                pass


def _wait(seconds: float) -> bool:
    deadline = time.monotonic() + seconds
    while not _reap():
        if time.monotonic() > deadline:
            return False
        time.sleep(POLL_S)
    return True


def stop_jvm() -> None:
    """Asks the Spark JVM, if one was launched, to exit: its gateway
    server exits on end-of-file on its standard input."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark and pyspark.SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass


def end_all() -> None:
    """Ends every process below this one and waits until each has
    ended: the JVM first by closing its input, what is left then by
    SIGTERM and at last by SIGKILL."""
    stop_jvm()
    if _wait(GRACE_S[0]):
        return
    _signal_all(signal.SIGTERM)
    if _wait(GRACE_S[1]):
        return
    while not _reap():
        _signal_all(signal.SIGKILL)
        time.sleep(POLL_S)
